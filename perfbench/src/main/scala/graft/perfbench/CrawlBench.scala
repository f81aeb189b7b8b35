package graft.perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.crawl.Crawl
import graft.crawl.Crawl.{CrawlConfig, TickResult}
import graft.dedup.BloomSeen
import graft.model.Span
import graft.oracle.OracleCrawler

import Common._

/** The crawl workloads (`crawl-fresh`, `crawl-multitick`) in one JVM.
  *
  * Untraced reps call `Crawl.run` exactly as a user would. A fresh rep is
  * one call; a multi-tick rep runs to `--half` ticks, deletes the last
  * manifest (a crash after pages and seen rows were written but before the
  * commit), starts a new session and resumes. With `--trace 1` the same
  * ticks are also driven through the crawl's public calls under spans, in
  * reps that alternate with untraced ones, and the layer probes run in a rep
  * of their own. The state of the first untraced and the first traced rep
  * is checked against the single-threaded `OracleCrawler` after timing. */
object CrawlBench {

  final case class Rep(urls: Long, sec: Double, resumeSec: Double,
                       ticks: Seq[TickResult])

  private def signature(ticks: Seq[TickResult]): Seq[(Int, Long, Long, Long, Long)] =
    ticks.map(t => (t.tick, t.scheduled, t.fetchedOk, t.parsedDocs, t.totalSpans))

  def main(o: Opts): Unit = {
    val cpus = o.int("cpus")
    val scratch = o.str("scratch")
    val multi = o.str("workload") == "crawl-multitick"
    val traced = o.flag("trace")
    val cfg = CrawlConfig(seed = o.long("seed"), nEntities = o.long("entities"),
      budgetPerHost = o.int("budget"), saltBuckets = 4, maxTicks = o.int("max-ticks"),
      workDir = "")
    val half = o.int("half")
    val state = new File(s"$scratch/state")
    state.mkdirs()
    var spark = session(cpus, scratch)
    var repNo = 0
    def freshDir(): String = {
      val d = new File(state, s"rep-$repNo")
      repNo += 1
      deleteRec(d)
      d.getPath
    }

    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]

    /** One untraced rep; a multi-tick rep crashes and resumes at `half`. */
    def rep(c: CrawlConfig): Rep =
      if (!multi) {
        val (ticks, sec) = time(Crawl.run(spark, c))
        Rep(ticks.map(_.scheduled).sum, sec, 0.0, ticks)
      } else {
        val (first, s1) = time(Crawl.run(spark, c.copy(maxTicks = half)))
        crash(c.workDir, first.size)
        spark.stop()
        spark = session(cpus, scratch)
        val committed = new File(s"${c.workDir}/manifests/manifest_${first.size - 1}.json")
        @volatile var firstCommit = 0L
        val watcher = new Thread(() => {
          try {
            while (!committed.exists) Thread.sleep(0, 200000)
            firstCommit = System.nanoTime()
          } catch { case _: InterruptedException => () }
        })
        val t0 = System.nanoTime()
        watcher.start()
        val (rest, s2) =
          try time(Crawl.run(spark, c))
          finally { watcher.interrupt(); watcher.join() }
        val resume = if (firstCommit > 0) (firstCommit - t0) / 1e9 else s2
        val ticks = first.dropRight(1) ++ rest
        Rep(ticks.map(_.scheduled).sum, s1 + s2, resume, ticks)
      }

    def attempt[T](what: String)(f: => T): Option[T] = {
      attempted += 1
      try Some(f)
      catch {
        case e: Throwable =>
          failed += 1
          errors += s"$what: $e"
          None
      }
    }

    // ---- set-up: session + warm crawls of another world ------------------------
    val warm = CrawlConfig(seed = cfg.seed + 1000003L, nEntities = o.long("warm-entities"),
      budgetPerHost = o.int("warm-budget"), saltBuckets = 4, maxTicks = cfg.maxTicks,
      workDir = "")
    (1 to o.int("warm-reps")).foreach { _ =>
      val d = freshDir()
      attempt("warm crawl")(rep(warm.copy(workDir = d)))
      deleteRec(new File(d))
    }
    val setupSec = sinceJvmStart

    // ---- timed reps ----------------------------------------------------------
    // With --trace 1 every untraced rep is paired with a traced one (at least
    // two pairs), the order alternating, so both sets see the same JIT and
    // cache state and their difference is the tracer's cost.
    val tr = if (traced) Some(new Tracer(spark.sparkContext)) else None
    def restart(): SparkSession = { spark.stop(); spark = session(cpus, scratch); spark }
    val reps = mutable.ArrayBuffer.empty[Rep]
    val tracedReps = mutable.ArrayBuffer.empty[Rep]
    var checkDir: Option[String] = None
    var tracedDir: Option[String] = None
    val pairs = if (traced) math.max(2, o.int("reps")) else o.int("reps")
    (0 until pairs).foreach { i =>
      val units = if (!traced) Seq(false) else if (i % 2 == 0) Seq(false, true) else Seq(true, false)
      units.foreach { isTraced =>
        val d = freshDir()
        System.gc() // every rep starts from the same heap state
        if (!isTraced) {
          attempt("crawl rep")(rep(cfg.copy(workDir = d))).foreach { r =>
            attempted += r.ticks.size
            reps += r
          }
          if (checkDir.isEmpty && reps.nonEmpty) checkDir = Some(d) else deleteRec(new File(d))
        } else {
          attempt("traced rep")(driven(cfg.copy(workDir = d), half, tr.get, None, restart, spark))
            .foreach { r =>
              attempted += r.ticks.size
              tracedReps += r
            }
          if (tracedDir.isEmpty && tracedReps.nonEmpty) tracedDir = Some(d) else deleteRec(new File(d))
        }
      }
    }
    val stateBytes = checkDir.map(d => bytesUnder(new File(d))).getOrElse(0L)

    // ---- layer probes, in a rep of their own -------------------------------
    val layer: Map[String, Double] = tr.map { t =>
      val d = freshDir()
      val probes = new Probes
      val pt = new Tracer(spark.sparkContext)
      attempt("probe rep")(driven(cfg.copy(workDir = d), half, pt, Some(probes), restart, spark))
      deleteRec(new File(d))
      Files.writeString(new File(o.str("trace-out")).toPath,
        toJson(Map("traced_reps" -> t.dump, "probe_rep" -> pt.dump)))
      tracedMetrics(t, tracedReps.toSeq, tracedDir) ++ probes.metrics ++
        Kernel.run(cfg.seed, OracleCrawler.candidates(cfg).take(o.int("kernel-sample")),
          o.int("kernel-passes"))
    }.getOrElse(Map.empty)

    // ---- correctness, outside every timed window ----------------------------
    attempted += 1
    val consistent = (reps ++ tracedReps).map(r => signature(r.ticks)).distinct.size <= 1
    if (!consistent) { failed += 1; errors += "reps disagree on per-tick counters" }
    // the first untraced rep and the first traced one, whose ticks the harness drove
    val toCheck = checkDir.toSeq ++ tracedDir
    if (toCheck.nonEmpty) {
      val oracle = OracleCrawler.run(cfg)
      toCheck.foreach { d =>
        val snap = CrawlCheck.tamper(CrawlCheck.snapshot(spark, d), o.kv.getOrElse("tamper", ""))
        CrawlCheck.compare(snap, oracle).foreach { case (check, problem) =>
          attempted += 1
          problem.foreach { p => failed += 1; errors += s"$check ($d): $p" }
        }
        deleteRec(new File(d))
      }
    }
    if (reps.isEmpty) { attempted += 1; failed += 1; errors += "no rep completed" }
    spark.stop()

    emit(Map(
      "setup_s" -> setupSec,
      "reps" -> reps.toSeq.map(r => Map("urls" -> r.urls, "sec" -> r.sec, "resume_s" -> r.resumeSec)),
      "state_bytes" -> stateBytes,
      "ok" -> reps.headOption.map(_.ticks.map(_.fetchedOk).sum).getOrElse(0L),
      "docs" -> reps.headOption.map(_.ticks.map(_.parsedDocs).sum).getOrElse(0L),
      "spans" -> reps.headOption.map(_.ticks.map(_.totalSpans).sum).getOrElse(0L),
      "peak_rss_mb" -> peakRssMb,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq,
      "layer" -> layer))
  }

  /** Deletes the last manifest of a run that stopped after `ticks` ticks:
    * the state a crash between the state writes and the commit leaves. */
  def crash(workDir: String, ticks: Int): Unit =
    new File(s"$workDir/manifests/manifest_${ticks - 1}.json").delete()

  private def noop(ds: Dataset[_]): Unit =
    ds.write.format("noop").mode("overwrite").save()

  /** Layer probes: run on the state each tick will see, before the tick, in
    * a rep of its own, so no timed rep pays for them or runs on the caches
    * they warm. The seen filter's cost is the fresh-set job minus the
    * candidate job; the politeness selection's is the batch job over the
    * cached fresh set. */
  final class Probes {
    private val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    private var candUrls: Array[String] = Array.empty
    private var candBucketSec = 0.0

    /** Rows per (host, salt) bucket of `ds`, and the seconds the job took. */
    private def buckets(tr: Tracer, name: String, ds: Dataset[_]): (Map[(String, Int), Long], Double) =
      time(tr.span(name)(ds.groupBy("host", "salt").count().collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap))

    /** Candidate synthesis on its own, once, under the crawl's AQE setting;
      * its urls feed the Bloom ratios. */
    def synth(spark: SparkSession, tr: Tracer, c: CrawlConfig): Unit = {
      val candidates = Crawl.candidateUnits(spark, c)
      val (_, sec) = time(tr.span("probe.candidates")(noop(candidates)))
      candBucketSec = buckets(tr, "probe.candidate_buckets", candidates)._2
      candUrls = candidates.select("url").collect().map(_.getString(0))
      acc("synth.candidates_s") = sec
      acc("synth.candidates_rows") = candUrls.length.toDouble
    }

    def beforeTick(spark: SparkSession, tr: Tracer, c: CrawlConfig): Unit = {
      val cand = Crawl.candidateUnits(spark, c)
      val (bloom, loadSec) = time(tr.span("probe.bloom_load")(BloomSeen.loadMerged(c.workDir)))
      acc("dedup.bloom_load_s") += loadSec
      bloom.foreach { bf =>
        val seen = Crawl.readSeen(spark, c.workDir).select("url").collect()
          .map(_.getString(0)).toSet
        val suspected = candUrls.filter(u => bf.mightContain(u))
        acc("probed") += candUrls.length
        acc("suspected") += suspected.length
        acc("false_pos") += suspected.count(u => !seen.contains(u))
      }
      val fresh = Crawl.filterNew(spark, cand, c).persist()
      try {
        val (freshRows, freshSec) = buckets(tr, "probe.fresh_buckets", fresh)
        val (batchRows, batchSec) = buckets(tr, "probe.batch_buckets",
          Crawl.selectBatch(fresh, c.budgetPerHost, c.saltBuckets))
        acc("dedup.seen_filter_s") += math.max(0.0, freshSec - candBucketSec)
        acc("politeness.select_s") += batchSec
        if (freshRows.nonEmpty) {
          val rows = freshRows.values
          acc("fresh_rows") += rows.sum
          acc("batch_rows") += batchRows.values.sum
          acc("skew_sum") += rows.max / (rows.sum.toDouble / rows.size)
          acc("skew_n") += 1
        }
      } finally fresh.unpersist()
    }

    private def ratio(a: String, b: String): Double = if (acc(b) > 0) acc(a) / acc(b) else 0.0

    def metrics: Map[String, Double] = Map(
      "synth.candidates_s" -> acc("synth.candidates_s"),
      "synth.candidates_rows" -> acc("synth.candidates_rows"),
      "dedup.bloom_load_s" -> acc("dedup.bloom_load_s"),
      "dedup.seen_filter_s" -> acc("dedup.seen_filter_s"),
      "dedup.bloom_pass_ratio" ->
        (if (acc("probed") > 0) (acc("probed") - acc("suspected")) / acc("probed") else 0.0),
      "dedup.bloom_fp_ratio" -> ratio("false_pos", "suspected"),
      "dedup.antijoin_rows" -> acc("suspected"),
      "politeness.select_s" -> acc("politeness.select_s"),
      "politeness.fill_ratio" -> ratio("batch_rows", "fresh_rows"),
      "politeness.bucket_skew" -> ratio("skew_sum", "skew_n"))
  }

  /** A rep driven through the crawl's public calls under spans: the same
    * calls `Crawl.run` makes, in the same order, with AQE off as it sets it;
    * a multi-tick rep crashes and resumes at `half` like an untraced one.
    * `sec` counts only the crawl's own calls. With `probes`, the layer
    * probes run before every tick. */
  private def driven(cfg: CrawlConfig, half: Int, tr: Tracer, probes: Option[Probes],
                     newSession: () => SparkSession, first: SparkSession): Rep = {
    var spark = first
    tr.attach(spark.sparkContext)
    probes.foreach { p =>
      val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try p.synth(spark, tr, cfg)
      finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }

    /** Mirrors Crawl.run: clean partial ticks, resume count, tick loop.
      * Returns the ticks and the seconds of the whole call, probes excluded. */
    def drive(c: CrawlConfig): (Seq[TickResult], Double) = {
      val t0 = System.nanoTime()
      var probeSec = 0.0
      val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        tr.span("resume.clean_partial")(Crawl.cleanPartialTicks(c.workDir))
        val start = tr.span("resume.completed_ticks")(Crawl.completedTicks(c.workDir))
        val obs = new Observation("candidates_total")
        val cand = Crawl.candidateUnits(spark, c).observe(obs, count(lit(1)).as("total"))
        var total = -1L
        var crawled = 0L
        if (start > 0) tr.span("resume.recount") {
          total = cand.count()
          crawled = Crawl.readSeen(spark, c.workDir).count()
        }
        val out = Vector.newBuilder[TickResult]
        var i = start
        var done = total >= 0 && crawled >= total
        while (i < c.maxTicks && !done) {
          probes.foreach(p => probeSec += time(p.beforeTick(spark, tr, c))._2)
          val r = tr.span("crawl.tick") {
            val fresh = tr.span("dedup.filter_new")(Crawl.filterNew(spark, cand, c))
            tr.span("tick.persist")(Crawl.scheduleAndPersist(spark, c, i, fresh))
          }
          if (total < 0) total = obs.get("total").asInstanceOf[Long]
          done = r.done
          if (!r.done) out += r
          crawled += r.scheduled
          if (crawled >= total) done = true
          i += 1
        }
        (out.result(), (System.nanoTime() - t0) / 1e9 - probeSec)
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }

    val (firstLeg, firstWall) = drive(cfg.copy(maxTicks = half))
    val (ticks, wall) =
      if (firstLeg.size < half) (firstLeg, firstWall)
      else {
        crash(cfg.workDir, firstLeg.size)
        tr.drain()
        spark = newSession()
        tr.attach(spark.sparkContext)
        val (rest, restWall) = drive(cfg)
        (firstLeg.dropRight(1) ++ rest, firstWall + restWall)
      }
    tr.drain()
    Rep(ticks.map(_.scheduled).sum, wall, 0.0, ticks)
  }

  /** Per-rep span figures of the traced reps, and the write sizes of the
    * first one's state. */
  private def tracedMetrics(tr: Tracer, reps: Seq[Rep], dir: Option[String]): Map[String, Double] = {
    val k = math.max(1, reps.size).toDouble
    val persist = tr.spans.filter(_.name == "tick.persist")
    // the fetch+parse+write job is the tick's longest; the tail follows it
    val fetchJob = persist.map(s => tr.longestJobEndMs(s)
      .map(e => math.max(0L, e - s.startMs) / 1e3).getOrElse(0.0)).sum
    val persistSec = persist.map(_.sec).sum
    def bytes(f: File): Double = bytesUnder(f).toDouble
    val writes = dir.map { wd =>
      Map("write.pages_bytes" -> bytes(new File(s"$wd/pages")),
        "write.seen_bytes" -> bytes(new File(Crawl.seenDir(wd))),
        "write.bloom_bytes" -> bytes(BloomSeen.bloomDir(wd).toFile),
        "write.manifest_bytes" -> bytes(new File(s"$wd/manifests")))
    }.getOrElse(Map.empty)
    Map(
      "crawl.traced_urls_per_s" -> median(reps.map(r => r.urls / r.sec)),
      "tick.persist_s" -> persistSec / k,
      "tick.fetch_job_s" -> fetchJob / k,
      "tick.tail_s" -> math.max(0.0, persistSec - fetchJob) / k,
      "resume.clean_partial_s" -> tr.total("resume.clean_partial") / k,
      "resume.completed_ticks_s" -> tr.total("resume.completed_ticks") / k,
      "resume.recount_s" -> tr.total("resume.recount") / k
    ) ++ writes ++ tr.counters("crawl.tick").metrics("spark").map { case (n, v) => n -> v / k }
  }
}

/** Compares a crawl's persisted state with the oracle's. */
object CrawlCheck {

  final case class Snapshot(batches: Vector[Vector[String]], seen: Set[String],
                            docs: Map[String, Seq[Span]])

  def snapshot(spark: SparkSession, workDir: String): Snapshot = {
    import spark.implicits._
    val ticks = Option(new File(s"$workDir/pages").listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("tick=")).map(_.stripPrefix("tick=").toInt).sorted
    val batches = ticks.map { t =>
      spark.read.parquet(s"$workDir/pages/tick=$t").select($"doc_id", $"sortKey")
        .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._2).map(_._1).toVector
    }.toVector
    val seen = Crawl.readSeen(spark, workDir).select($"url").collect().map(_.getString(0)).toSet
    val docs = Crawl.docsView(spark, workDir).collect().map(d => d.doc_id -> d.spans).toMap
    Snapshot(batches, seen, docs)
  }

  /** Deliberate corruption for the benchmark's self-test. */
  def tamper(s: Snapshot, how: String): Snapshot = how match {
    case "swap-ticks" if s.batches.size >= 2 =>
      s.copy(batches = s.batches.updated(0, s.batches(1)).updated(1, s.batches(0)))
    case "swap-ticks" =>
      val b = s.batches(0)
      s.copy(batches = s.batches.updated(0, b.updated(0, b(1)).updated(1, b(0))))
    case "drop-span" =>
      val (id, spans) = s.docs.toSeq.sortBy(_._1).find(_._2.nonEmpty).get
      s.copy(docs = s.docs.updated(id, spans.dropRight(1)))
    case _ => s
  }

  /** (check name, problem if any) for batches, seen set and spans. */
  def compare(s: Snapshot, o: OracleCrawler.OracleResult): Seq[(String, Option[String])] = {
    val oracleBatches = o.batches.map(_.map(_.docId))
    val batchProblem =
      if (s.batches.size != oracleBatches.size)
        Some(s"tick count ${s.batches.size} vs oracle ${oracleBatches.size}")
      else s.batches.indices.find(i => s.batches(i) != oracleBatches(i))
        .map(i => s"batch order differs at tick $i")
    val seenProblem =
      if (s.seen == o.seen) None
      else Some(s"seen set: ${(s.seen -- o.seen).size} extra, ${(o.seen -- s.seen).size} missing")
    val spanProblem =
      if (s.docs.keySet != o.docs.keySet)
        Some(s"doc set: ${s.docs.size} docs vs oracle ${o.docs.size}")
      else {
        val bad = s.docs.count { case (id, spans) => spans != o.docs(id) }
        if (bad == 0) None else Some(s"$bad docs differ in their span sequence")
      }
    Seq("batches" -> batchProblem, "seen" -> seenProblem, "spans" -> spanProblem)
  }
}
