package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.crawl.Crawl
import graft.crawl.Crawl.CrawlConfig
import graft.model.Span
import graft.oracle.OracleCrawler

/** The north-rule equality gates: crawl ordering, URL-seen set, and per-doc
  * span sequences must match the single-threaded oracle exactly under the
  * same seed list + politeness budget (BASELINE.json north_rule;
  * SURVEY.md §5). */
class CrawlEqualitySpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft-crawl").toString

  private val cfg0 = CrawlConfig(seed = 42L, nEntities = 250L,
    budgetPerHost = 24, saltBuckets = 4, maxTicks = 40, workDir = "")

  lazy val oracle = OracleCrawler.run(cfg0)

  test("spark crawl matches oracle: batches, ordering, seen set, spans") {
    val cfg = cfg0.copy(workDir = freshDir())
    val results = Crawl.run(spark, cfg)
    assert(results.nonEmpty)
    assert(results.length == oracle.batches.length,
      s"tick count spark=${results.length} oracle=${oracle.batches.length}")

    // per-tick batch composition + within-tick crawl order
    results.foreach { r =>
      val sparkBatch = spark.read
        .parquet(s"${cfg.workDir}/pages/tick=${r.tick}")
        .select($"doc_id", $"sortKey").collect()
        .map(x => (x.getString(0), x.getString(1)))
        .sortBy(_._2).map(_._1).toVector
      val oracleBatch = oracle.batches(r.tick).map(_.docId)
      assert(sparkBatch == oracleBatch, s"batch mismatch at tick ${r.tick}")
    }

    // URL-seen set equality (exact, not probabilistic — two-phase dedup)
    val sparkSeen = spark.read.parquet(Crawl.seenDir(cfg.workDir))
      .select($"url").collect().map(_.getString(0)).toSet
    assert(sparkSeen == oracle.seen)

    // span-sequence equality per doc_id (kind, text, media_ref, order)
    val sparkDocs = Crawl.docsView(spark, cfg.workDir).collect()
      .map(d => d.doc_id -> d.spans).toMap
    assert(sparkDocs.keySet == oracle.docs.keySet)
    sparkDocs.foreach { case (id, spans) =>
      assert(spans == oracle.docs(id), s"span mismatch for $id")
    }

    // every global metric agrees
    assert(results.map(_.scheduled).sum == oracle.seen.size.toLong)
  }

  test("resume from checkpoint replays to identical final state") {
    val cfg = cfg0.copy(workDir = freshDir())
    // run only the first 2 ticks, then "crash"
    Crawl.tick(spark, cfg, 0)
    Crawl.tick(spark, cfg, 1)
    assert(Crawl.completedTicks(cfg.workDir) == 2)
    // resume — run() continues from the manifest watermark
    val resumed = Crawl.run(spark, cfg)
    assert(resumed.head.tick == 2)

    val seen = spark.read.parquet(Crawl.seenDir(cfg.workDir))
      .select($"url").collect().map(_.getString(0)).toSet
    assert(seen == oracle.seen)
    val docs = Crawl.docsView(spark, cfg.workDir).collect()
      .map(d => d.doc_id -> d.spans).toMap
    assert(docs.keySet == oracle.docs.keySet)
  }

  test("re-running a completed tick is idempotent (keyed full replacement)") {
    val cfg = cfg0.copy(workDir = freshDir())
    val r0 = Crawl.tick(spark, cfg, 0)
    val before = spark.read.parquet(s"${cfg.workDir}/pages/tick=0")
      .orderBy($"doc_id").collect().toSeq
    // replay the same tick over the previous tick-0 seen state: candidates
    // recompute against seen including tick 0 itself — so clear tick-0 seen
    // first (simulates a crash between docs write and seen write)
    val seenTick0 = new java.io.File(s"${Crawl.seenDir(cfg.workDir)}/tick=0")
    seenTick0.listFiles().foreach(_.delete()); seenTick0.delete()
    val r1 = Crawl.tick(spark, cfg, 0)
    assert(r0.scheduled == r1.scheduled && r0.parsedDocs == r1.parsedDocs)
    val after = spark.read.parquet(s"${cfg.workDir}/pages/tick=0")
      .orderBy($"doc_id").collect().toSeq
    assert(before == after)
  }

  test("crash between state writes and manifest commit replays cleanly (M7)") {
    val cfg = cfg0.copy(workDir = freshDir())
    Crawl.tick(spark, cfg, 0)
    Crawl.tick(spark, cfg, 1)
    Crawl.tick(spark, cfg, 2)
    // simulate the crash window: pages/seen/Bloom of tick 2 persisted, the
    // manifest (the commit record, written last) did not land
    assert(new java.io.File(s"${cfg.workDir}/manifests/manifest_2.json").delete())
    val resumed = Crawl.run(spark, cfg)
    // tick 2 must REPLAY (not be skipped, not double-schedule into tick 3)
    assert(resumed.head.tick == 2)
    val seen = spark.read.parquet(Crawl.seenDir(cfg.workDir))
      .select($"url").collect().map(_.getString(0)).toSet
    assert(seen == oracle.seen)
    val docs = Crawl.docsView(spark, cfg.workDir).collect()
      .map(d => d.doc_id -> d.spans).toMap
    assert(docs.keySet == oracle.docs.keySet)
    docs.foreach { case (id, spans) => assert(spans == oracle.docs(id)) }
  }

  // ---- the persisted candidate table (Crawl.storedCandidates) -------------

  private def candidateEntries(workDir: String): Seq[String] =
    new java.io.File(workDir).list().toSeq.filter(_.startsWith("candidates")).sorted

  private def crawledBatches(workDir: String, ticks: Seq[Crawl.TickResult]) =
    ticks.map { t =>
      t.tick -> spark.read.parquet(s"$workDir/pages/tick=${t.tick}")
        .select($"doc_id", $"sortKey").collect()
        .map(x => (x.getString(0), x.getString(1))).sortBy(_._2).map(_._1).toVector
    }

  test("a crawl that finishes in one tick writes no candidate table") {
    val cfg = cfg0.copy(budgetPerHost = 1000, workDir = freshDir())
    assert(Crawl.run(spark, cfg).length == 1)
    assert(candidateEntries(cfg.workDir).isEmpty)
  }

  test("a multi-tick crawl leaves exactly one stamped candidate table") {
    val cfg = cfg0.copy(maxTicks = 2, workDir = freshDir())
    val results = Crawl.run(spark, cfg)
    assert(results.map(_.tick) == Seq(0, 1))
    crawledBatches(cfg.workDir, results).foreach { case (t, batch) =>
      assert(batch == oracle.batches(t).map(_.docId), s"batch mismatch at tick $t")
    }
    assert(candidateEntries(cfg.workDir) == Seq("candidates"))
    val stamp = Files.readString(
      java.nio.file.Paths.get(Crawl.candidatesPath(cfg), "_cfg"))
    assert(stamp == s"${cfg.seed},${cfg.nEntities}")
    val stored = spark.read.parquet(Crawl.candidatesPath(cfg)).as[Crawl.CrawlUnit]
    assert(stored.exceptAll(Crawl.candidateUnits(spark, cfg)).isEmpty)
    assert(Crawl.candidateUnits(spark, cfg).exceptAll(stored).isEmpty)
  }

  test("a crash mid-materialization rebuilds the table and resumes exactly") {
    val cfg = cfg0.copy(workDir = freshDir())
    Crawl.tick(spark, cfg, 0)
    // the crash window: tick 0 committed, the table's tmp dir half-written
    val tmp = new java.io.File(Crawl.candidatesPath(cfg) + ".tmp")
    assert(tmp.mkdirs())
    Files.writeString(tmp.toPath.resolve("part-00000.parquet"), "truncated")
    Files.writeString(tmp.toPath.resolve("_cfg"), "0,0")
    val resumed = Crawl.run(spark, cfg)
    assert(resumed.head.tick == 1)
    assert(resumed.length + 1 == oracle.batches.length)
    assert(candidateEntries(cfg.workDir) == Seq("candidates"))
    crawledBatches(cfg.workDir, resumed).foreach { case (t, batch) =>
      assert(batch == oracle.batches(t).map(_.docId), s"batch mismatch at tick $t")
    }
    val seen = spark.read.parquet(Crawl.seenDir(cfg.workDir))
      .select($"url").collect().map(_.getString(0)).toSet
    assert(seen == oracle.seen)
    val docs = Crawl.docsView(spark, cfg.workDir).collect()
      .map(d => d.doc_id -> d.spans).toMap
    assert(docs.keySet == oracle.docs.keySet)
    docs.foreach { case (id, spans) => assert(spans == oracle.docs(id)) }
  }

  test("resuming a state dir with a different world fails fast") {
    val cfg = cfg0.copy(maxTicks = 2, workDir = freshDir())
    Crawl.run(spark, cfg)
    val err = intercept[IllegalStateException] {
      Crawl.run(spark, cfg.copy(nEntities = cfg.nEntities + 1, maxTicks = cfg0.maxTicks))
    }
    assert(err.getMessage.contains("use a fresh workDir"), err.getMessage)
    assert(Crawl.completedTicks(cfg.workDir) == 2)
  }

  test("politeness budget is respected per host per tick") {
    val cfg = cfg0.copy(workDir = freshDir())
    Crawl.tick(spark, cfg, 0)
    val perHost = spark.read.parquet(s"${cfg.workDir}/pages/tick=0")
      .groupBy($"host").count().collect()
    perHost.foreach { r =>
      assert(r.getLong(1) <= cfg.budgetPerHost,
        s"host ${r.getString(0)} over budget: ${r.getLong(1)}")
    }
  }

  test("failed fetches are recorded but produce no document") {
    val cfg = cfg0.copy(workDir = freshDir(), maxTicks = 3)
    Crawl.run(spark, cfg)
    val pages = spark.read.parquet(s"${cfg.workDir}/pages")
    val failed = pages.filter(!$"success")
    assert(failed.count() > 0, "synthetic world should include failures")
    assert(failed.filter(size($"sections") > 0).count() == 0)
    // 503-exhausted and 404 pages carry their status
    assert(pages.filter($"httpStatus" === 404).count() > 0)
  }

  test("equality holds across salt/budget configurations (not tuned to one)") {
    Seq(
      cfg0.copy(saltBuckets = 1, budgetPerHost = 10),
      cfg0.copy(saltBuckets = 7, budgetPerHost = 33),
      cfg0.copy(saltBuckets = 4, budgetPerHost = 1000) // single-tick world
    ).foreach { base =>
      val cfg = base.copy(workDir = freshDir())
      val o = OracleCrawler.run(cfg)
      val r = Crawl.run(spark, cfg)
      assert(r.length == o.batches.length, s"cfg $base tick count")
      val sparkSeen = spark.read.parquet(Crawl.seenDir(cfg.workDir))
        .select($"url").collect().map(_.getString(0)).toSet
      assert(sparkSeen == o.seen, s"cfg $base seen set")
      r.foreach { t =>
        val batch = spark.read.parquet(s"${cfg.workDir}/pages/tick=${t.tick}")
          .select($"doc_id", $"sortKey").collect()
          .map(x => (x.getString(0), x.getString(1))).sortBy(_._2).map(_._1).toVector
        assert(batch == o.batches(t.tick).map(_.docId), s"cfg $base tick ${t.tick}")
      }
    }
  }

  test("C6 quick mode: two disjoint sub-crawls with isolated checkpoints") {
    // two 'containers' over disjoint entity ranges, separate state dirs;
    // their outputs are disjoint and their union of seen-URLs is exactly
    // the per-range seen sets (no shared-checkpoint interference)
    val cfgA = cfg0.copy(nEntities = 120L, workDir = freshDir(), maxTicks = 50)
    val cfgB = CrawlConfig(seed = 43L, nEntities = 120L, budgetPerHost = 24,
      saltBuckets = 4, maxTicks = 50, workDir = freshDir())
    Crawl.run(spark, cfgA)
    Crawl.run(spark, cfgB)
    val seenA = spark.read.parquet(Crawl.seenDir(cfgA.workDir))
      .select($"url").collect().map(_.getString(0)).toSet
    val seenB = spark.read.parquet(Crawl.seenDir(cfgB.workDir))
      .select($"url").collect().map(_.getString(0)).toSet
    assert(seenA.nonEmpty && seenB.nonEmpty)
    // different seeds -> different worlds: effectively disjoint URL sets
    assert((seenA & seenB).size.toDouble / seenA.size < 0.01)
  }

  test("C2 rate limiter bounds throughput when a global rps cap is set") {
    val cfg = cfg0.copy(workDir = freshDir(), nEntities = 60L,
      budgetPerHost = 1000, maxTicks = 1, maxRps = 50.0)
    val t0 = System.nanoTime()
    val r = Crawl.tick(spark, cfg, 0)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(r.scheduled > 0)
    // n units at <=50 rps must take at least ~n/50 s minus scheduling slack
    val floor = r.scheduled / 50.0 * 0.5
    assert(sec >= floor, s"took $sec s for ${r.scheduled} units (floor $floor)")
    // and the limited run produces the identical output as unlimited
    val cfgU = cfg.copy(workDir = freshDir(), maxRps = 0.0)
    Crawl.tick(spark, cfgU, 0)
    val a = spark.read.parquet(s"${cfg.workDir}/pages/tick=0")
      .orderBy($"doc_id").collect().toSeq
    val b = spark.read.parquet(s"${cfgU.workDir}/pages/tick=0")
      .orderBy($"doc_id").collect().toSeq
    assert(a == b)
  }
}
