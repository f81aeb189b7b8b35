package graft.crawl

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.util.sketch.BloomFilter

import graft.canon.UrlCanon
import graft.model.{Doc, Span}
import graft.synth.World

/** The Spark-native crawl engine: URL frontier + fetch scheduler
  * (north rule). One [[tick]] = one scheduling batch end-to-end:
  *
  *   frontier scan → Qid filter → canonicalize → precedence dedup (1 window
  *   shuffle, replacing the reference's 19 chained NOT-IN anti-joins) →
  *   sitelink fan-out (co-partitioned sort-merge join) → robots gate
  *   (broadcast join) →
  *   URL-seen two-phase dedup (Bloom prefilter + exact anti-join: no false
  *   drops) → per-host salted politeness budget (ranked window selection) →
  *   fetch+parse (pure fn in mapPartitions) → doc/seen/manifest writes.
  *
  * Determinism: selection is a pure ranked filter over a deterministic sort
  * key, never timing-dependent — so local[8] and local[32] produce
  * IDENTICAL batch composition and seen-set (SURVEY.md §7.3), and the
  * single-threaded [[graft.oracle.OracleCrawler]] is an exact twin.
  *
  * Scale design (100 TB / 10^10 URLs):
  *  - the frontier is never collected (reference's fetchall weak point,
  *    wikipedia_crawler.py:798-799); everything is Dataset ops
  *  - seen-set is stored hash-bucketed on xxhash64(url) so the per-tick
  *    anti-join co-partitions instead of reshuffling the full seen table;
  *    the Bloom prefilter keeps the join's probe side tiny (only suspected
  *    duplicates reach it)
  *  - hot hosts (en/fr ≈ 60% of units) are salted into sub-buckets
  *    (pmod(xxhash64(url), S)) so the politeness window never serializes a
  *    single reducer on one host; budget splits across buckets with the
  *    remainder to bucket 0 (SURVEY.md §7.3)
  *  - per-partition lineage watermarks + counters land in a JSON manifest
  *    per tick (Iceberg-snapshot stand-in; no Iceberg jars in-sandbox)
  */
object Crawl {

  final case class CrawlConfig(
      seed: Long,
      nEntities: Long,
      budgetPerHost: Int,
      saltBuckets: Int,
      maxTicks: Int,
      workDir: String,
      // fixed Bloom sizing: every per-tick filter must share one capacity
      // so persisted filters stay mergeable across ticks AND runs.
      // 0 (default) derives it from the world: max(2^20, 2.5 × nEntities)
      // — a fixed 2^20 silently over-saturated at >1M-URL worlds (a 1.6M
      // world degrades a 2^20/0.01 filter to a far worse fpp; correctness
      // is unaffected — the exact anti-join confirms — but the prefilter
      // stops pruning). Derived from cfg, the capacity is still one fixed
      // value per crawl state dir, so cross-tick/cross-run mergeability
      // holds; at 10^10 URLs this is the sharded-Bloom sizing seam
      // (SCALE.md §2).
      bloomCapacity: Long = 0L,
      bloomFpp: Double = 0.01,
      // C2 — global request-rate cap (reference wikipedia_http.py:45-50,
      // 96-122: min-interval limiter, 0 disables). In distributed mode the
      // global budget divides across fetch partitions (SURVEY.md §2.9 C2);
      // synthetic benches leave it 0 — there is no remote to be polite to.
      maxRps: Double = 0.0) {
    /** The Bloom capacity actually used: explicit, or world-derived. */
    def effectiveBloomCapacity: Long =
      if (bloomCapacity > 0) bloomCapacity
      else math.max(1L << 20, nEntities * 5 / 2)
  }

  /** One schedulable crawl unit = (entity, language) — the reference's
    * crawl unit (wikipedia_crawler.py:800). `salt` is the politeness
    * sub-bucket (pmod(xxhash64(url), saltBuckets)) — assigned at candidate
    * time so the URL-dedup window and the politeness window share one
    * (host, salt) exchange (see candidateUnits). */
  final case class CrawlUnit(
      qid: String, lang: String, langRank: Int, family: String,
      familyRank: Int, pk: String, priority: Int, title: String,
      url: String, host: String, docId: String, sortKey: String, salt: Int)

  /** Total crawl order: priority desc (9-p), then family precedence, then
    * pk ASC (the reference's ORDER BY pk), then language order, then qid as
    * the unique tiebreak — a single lexicographic string so window ordering,
    * oracle ordering, and manifest watermarks all share one key. */
  def sortKey(priority: Int, familyRank: Int, pk: String, langRank: Int,
              qid: String): String =
    f"${9 - priority}%01d|$familyRank%02d|$pk|$langRank%02d|$qid"

  // ---- candidate generation (deterministic, lazily distributed) -----------

  /** All schedulable units after validity, canonical/precedence/sitelink
    * dedup and robots gating. Pure function of (seed, nEntities) — never
    * materialized on the driver. */
  def candidateUnits(spark: SparkSession, cfg: CrawlConfig): Dataset[CrawlUnit] = {
    import spark.implicits._
    // the sortKey below pads familyRank/langRank to 2 chars with lpad, which
    // TRUNCATES a 3-digit rank where sortKey()'s %02d widens it — the two
    // keys (and the oracle's order) would silently diverge. Ranks are list
    // indices, so both lists must stay within 100 entries (ranks < 100).
    require(World.families.size <= 100 && World.langs.size <= 100,
      s"sortKey pads ranks to 2 digits, but World has ${World.families.size} " +
        s"families and ${World.langs.size} langs (each must be ≤ 100)")

    // S1 frontier scan (synthetic source), P1 Qid-validity filter pushed
    // to the generator scan. URL variants and family duplicates need no
    // separate dedup shuffle: the precedence window below keeps exactly
    // one row per qid, and tied rows (the ~5% canonical-URL variants)
    // are identical in every projected column.
    // 3x-parallelism ranges: entity generation is allocation-heavy, and a
    // single 1-task-per-core wave leaves the stage bound by its slowest
    // task; finer tasks smooth the wave (same reasoning as the fetch
    // stage's explicit 6x repartition)
    val genParts = spark.sparkContext.defaultParallelism * 3
    val frontier = spark.range(0L, cfg.nEntities, 1, genParts)
      .flatMap(i => World.frontierRows(cfg.seed, i))
      .filter($"qid".rlike("^Q[0-9]+$"))

    // J2 precedence dedup — ONE window instead of 19 anti-joins
    val wPrec = Window.partitionBy($"qid")
      .orderBy($"familyRank".asc, $"pk".asc, $"priority".asc)
    val deduped = frontier
      .withColumn("rn", row_number().over(wPrec))
      .filter($"rn" === 1)
      .select($"qid", $"family", $"familyRank", $"pk", $"priority")

    // J3 sitelink lookup join (deterministic dedup of colliding qids by
    // min title keeps the join unambiguous). CO-PARTITIONED sort-merge
    // join — the production plan at 10^10 entities, where sitelinks are
    // DATA-sized (≈1.5 rows/entity), AND the faster plan here:
    //  - the explicit repartition(qid) pins hash(qid) — which still
    //    satisfies the (qid, lang) window's clustering (subset rule) —
    //    so the window adds only a sort;
    //  - the precedence window above already left `deduped` hash(qid)-
    //    partitioned and (qid, …)-sorted, so the merge join needs NO new
    //    exchange or sort on either side;
    //  - a broadcast here instead would serialize a DRIVER collect+build
    //    of the full sitelink dim — measured 2-4 s of serial time per run
    //    that the co-partitioned join turns into parallel work.
    // r6 (the keep-first agg rewrite, same as the URL dedup below): min
    // title per (qid, lang) via min(struct(title, langRank)) — langRank is
    // determined by lang, so the struct tiebreak is never reached and the
    // selected row is the old window's rn=1. SortAggregate sorts by the
    // two group keys instead of (qid, lang, title) and reports its output
    // ordering, so the downstream qid merge join still needs no sort.
    val sitelinks = spark.range(0L, cfg.nEntities, 1, genParts)
      .flatMap(i => World.sitelinkRows(cfg.seed, i))
      .repartition($"qid")
      .groupBy($"qid", $"lang")
      .agg(min(struct($"title", $"langRank")).as("__first"))
      .select($"qid", $"lang", $"__first.langRank".as("langRank"),
        $"__first.title".as("title"))

    val units = deduped
      .hint("merge")
      .join(sitelinks, Seq("qid"), "inner")
      .withColumn("host", concat($"lang", lit(".wikipedia.org")))
      // F1 title→URL encoding (wikipedia_page_writer.py:76-79:
      // quote(title.replace(' ', '_'))): underscore spaces, then
      // percent-encode the path segment
      .withColumn("url", UrlCanon.canonCol(
        concat(lit("https://"), $"host", lit("/wiki/"),
          url_encode(translate($"title", " ", "_")))))
      .withColumn("docId", concat($"qid", lit(":"), $"lang"))
      // byte-identical to format_string("%01d|%02d|%s|%02d|%s", ...): the
      // ranks are bounded (families 20, langs 12) so lpad-2 ≡ %02d and
      // 9-priority ∈ [0,9] needs no padding; concat+lpad stay in codegen
      // while FormatString span a java.util.Formatter per ROW (r6 —
      // measured as a visible slice of the candidate-synthesis stages)
      .withColumn("sortKey", concat(
        (lit(9) - $"priority").cast("string"), lit("|"),
        lpad($"familyRank".cast("string"), 2, "0"), lit("|"),
        $"pk", lit("|"),
        lpad($"langRank".cast("string"), 2, "0"), lit("|"),
        $"qid"))

    // robots gate (C3/F4): tiny rules dimension, broadcast join
    val robots = robotsDim(spark, cfg.seed)
    val allowed = units
      .withColumn("letter", lower(substring($"title", 1, 1)))
      .join(broadcast(robots), Seq("host", "letter"), "left")
      .filter(coalesce($"allowed", lit(true)))
      .drop("letter", "allowed")

    // distinct canonical URL: colliding titles (two qids, same page) keep
    // the first unit in crawl order — deterministic. Groups are
    // (host, salt, url) — identical to (url), since url determines host
    // and salt — under an EXPLICIT hash(host, salt) exchange: (host, salt)
    // clusters (host, salt, url) too (subset rule), and the SAME exchange
    // then satisfies the politeness window in selectBatch. One full-row
    // shuffle instead of two.
    // r6 (same rewrite as the relational keep-first operators): keep-first
    // is min over struct(sortKey, carried...) — the struct leads with the
    // old window's order key, so the selected unit is identical (ties
    // beyond sortKey are the canonical-URL variants, identical in every
    // carried column; the struct tiebreak just makes the pick
    // deterministic where row_number was arbitrary). The window form
    // sorted the full candidate set by (host, salt, url, sortKey) before
    // the politeness sort; the aggregation never sorts — the politeness
    // window's (host, salt, sortKey) sort is now the pipeline's ONLY full
    // sort. CrawlEqualitySpec re-verifies batch composition against the
    // single-threaded oracle.
    allowed
      .withColumn("salt",
        pmod(xxhash64($"url"), lit(cfg.saltBuckets)).cast("int"))
      .repartition($"host", $"salt")
      .groupBy($"host", $"salt", $"url")
      .agg(min(struct($"sortKey", $"qid", $"lang", $"langRank", $"family",
        $"familyRank", $"pk", $"priority", $"title", $"docId")).as("__first"))
      .select($"__first.qid".as("qid"), $"__first.lang".as("lang"),
        $"__first.langRank".as("langRank"), $"__first.family".as("family"),
        $"__first.familyRank".as("familyRank"), $"__first.pk".as("pk"),
        $"__first.priority".as("priority"), $"__first.title".as("title"),
        $"url", $"host", $"__first.docId".as("docId"),
        $"__first.sortKey".as("sortKey"), $"salt")
      .as[CrawlUnit]
  }

  /** The persisted global candidate set of a crawl state dir. */
  def candidatesPath(cfg: CrawlConfig): String = s"${cfg.workDir}/candidates"

  /** [[candidateUnits]] as a scan of its persisted table, written first if
    * missing. The set is a pure function of (seed, nEntities), so it is
    * synthesized at most once per crawl state dir and committed columnar
    * (tmp dir, then atomic rename). Every reader after that — later batch
    * ticks, streaming micro-batches, the writeback seed generation — gets a
    * parquet scan instead of a recompute of the frontier dedup, sitelink
    * join, robots join and URL-dedup aggregate, which at 10^10 entities
    * would re-shuffle the full world each time. */
  def storedCandidates(spark: SparkSession, cfg: CrawlConfig): Dataset[CrawlUnit] = {
    import spark.implicits._
    val dir = Paths.get(candidatesPath(cfg))
    // stamped with (seed, nEntities) so reusing a workDir with a CHANGED
    // config fails fast instead of silently serving the stale set (the rest
    // of the workDir state — seen sets, manifests — is config-bound the same
    // way, so a silent rebuild would still mix worlds; failing is the safe
    // move)
    val stampVal = s"${cfg.seed},${cfg.nEntities}"
    val stamp = dir.resolve("_cfg") // `_`-prefixed: parquet-invisible
    if (Files.exists(dir)) {
      val found = if (Files.exists(stamp)) Files.readString(stamp) else "<missing>"
      if (found != stampVal)
        throw new IllegalStateException(
          s"candidate set at $dir was built for (seed,nEntities)=($found), " +
            s"but this config is ($stampVal) — use a fresh workDir")
    } else {
      val tmp = Paths.get(candidatesPath(cfg) + ".tmp")
      // leftovers of a crashed materialization: rebuild from scratch
      FileUtils.deleteQuietly(tmp.toFile)
      candidateUnits(spark, cfg).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      Files.writeString(tmp.resolve("_cfg"), stampVal)
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    }
    spark.read.parquet(dir.toString).as[CrawlUnit]
  }

  /** Robots rules dimension: (host, first-letter) → allowed (FIXTURES.md F4). */
  def robotsDim(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    val rows = for {
      lang <- World.langs
      host = World.hostOf(lang)
      c <- ('a' to 'z') :+ '_'
    } yield (host, c.toString, World.robotsAllowed(seed, host, s"/wiki/$c"))
    rows.toDF("host", "letter", "allowed")
  }

  // ---- one crawl tick -------------------------------------------------------

  final case class TickResult(
      tick: Int,
      scheduled: Long,
      fetchedOk: Long,
      parsedDocs: Long,
      totalSpans: Long,
      done: Boolean)

  def seenDir(workDir: String) = s"$workDir/seen"

  private def seenExists(spark: SparkSession, workDir: String): Boolean =
    new java.io.File(seenDir(workDir)).exists &&
      new java.io.File(seenDir(workDir)).listFiles().exists(_.getName.startsWith("tick="))

  def readSeen(spark: SparkSession, workDir: String): DataFrame =
    spark.read.parquet(seenDir(workDir))

  /** Two-phase URL-seen dedup: Bloom prefilter → exact anti-join for the
    * suspected subset only (no false drops, SURVEY.md §7.3: "seen-set
    * equality"). Bloom-negatives are PROVABLY new and skip the join.
    *
    * The filter comes from the persisted per-tick sketches merged at load
    * (graft.dedup.BloomSeen) — never rebuilt from the full seen table; a
    * missing sketch (older state dirs) falls back to a distributed build. */
  def filterNew(spark: SparkSession, units: Dataset[CrawlUnit],
                cfg: CrawlConfig): Dataset[CrawlUnit] = {
    import spark.implicits._
    if (!seenExists(spark, cfg.workDir)) return units
    val seen = readSeen(spark, cfg.workDir).select($"url")
    val bloom: BloomFilter = graft.dedup.BloomSeen.loadMerged(cfg.workDir)
      .getOrElse(graft.dedup.BloomSeen.build(
        seen.as[String], cfg.effectiveBloomCapacity, cfg.bloomFpp))
    val bc = spark.sparkContext.broadcast(bloom)
    // probe the broadcast filter as a COLUMN rather than two typed filters
    // that would each deserialize the full CrawlUnit object per row — and
    // as a native codegen expression rather than a UDF: the probe hashes
    // the url's UTF-8 bytes straight off the internal row (same bits the
    // sketch hashes for a java String), no per-row String allocation
    val tagged = units.withColumn("__hit",
      graft.functions.BloomProbe.probe($"url", bc))
    val definitelyNew = tagged.filter(!$"__hit").drop("__hit").as[CrawlUnit]
    val suspected = tagged.filter($"__hit").drop("__hit").as[CrawlUnit]
    val confirmedNew = suspected.join(seen, Seq("url"), "left_anti").as[CrawlUnit]
    definitelyNew.unionByName(confirmedNew)
  }

  /** Per-host salted politeness selection: rank within (host, salt bucket)
    * by the total crawl order; per-bucket budget = B/S with the remainder
    * to bucket 0. Pure ranked filter — batch composition is independent of
    * parallelism and timing. `salt` rides in from candidateUnits, whose
    * url-dedup window already exchanged on (host, salt) — on the fresh
    * tick-0 path this window therefore adds a sort but NO new shuffle. */
  def selectBatch(units: Dataset[CrawlUnit], budgetPerHost: Int,
                  saltBuckets: Int): DataFrame = {
    import units.sparkSession.implicits._
    val perBucket = budgetPerHost / saltBuckets
    val remainder = budgetPerHost % saltBuckets
    val w = Window.partitionBy($"host", $"salt").orderBy($"sortKey".asc)
    units
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= lit(perBucket) + when($"salt" === 0, lit(remainder)).otherwise(lit(0)))
      .drop("rn")
  }

  /** Run one tick: schedule → fetch+parse → persist docs + seen + manifest.
    * Idempotent per tick (doc-level full replacement, M2/M3 semantics):
    * re-running a tick overwrites the same tick directories byte-equal. */
  def tick(spark: SparkSession, cfg: CrawlConfig, tickIdx: Int,
           candidatesOpt: Option[Dataset[CrawlUnit]] = None): TickResult = {
    // run() passes tick 0 the lazy synthesis plan and every later tick the
    // scan of the persisted table (storedCandidates); a standalone call
    // synthesizes
    val candidates = candidatesOpt.getOrElse(candidateUnits(spark, cfg))
    val fresh = filterNew(spark, candidates, cfg)
    scheduleAndPersist(spark, cfg, tickIdx, fresh)
  }

  /** Schedule a batch from already-deduped fresh units, fetch+parse it,
    * and persist pages + seen + Bloom + manifest. The micro-batch core
    * shared by the batch loop ([[tick]]) and the streaming frontier
    * (graft.streaming.StreamingCrawl). */
  def scheduleAndPersist(spark: SparkSession, cfg: CrawlConfig, tickIdx: Int,
                         fresh: Dataset[CrawlUnit]): TickResult = {
    import spark.implicits._

    // NOT cached: the batch has exactly one consumer (the fetch+parse+write
    // job below) — a cache here is a pure memory-store write of the full
    // batch inside the hot job (and at 10^10 URLs, an eviction storm).
    // r6: project to the EIGHT columns the fetch worker actually consumes
    // (guide §2.3 "project before the exchange") — the full CrawlUnit
    // shipped langRank/familyRank/pk/priority/docId through the fetch
    // repartition AND deserialized all 13 fields per row (5 string
    // conversions per URL for columns the worker never reads; docId is
    // recomputed inside fetchParse)
    val batch = selectBatch(fresh, cfg.budgetPerHost, cfg.saltBuckets)
      .select($"qid", $"lang", $"family", $"title", $"url", $"host",
        $"sortKey", $"salt")

    val seed = cfg.seed
    // fetch+parse on executors; pure fn of the unit → identical at any
    // parallelism. The politeness CONTRACT was already enforced by the
    // ranked budget selection above, so the fetch stage is free to
    // rebalance: hash-repartition on url spreads the hot hosts' units
    // uniformly (partitioning by (host, salt) instead was measured to bound
    // the critical path at the biggest host bucket — C2's serialization
    // trap, reborn as a skewed partition). In a live crawler the per-host
    // rate limiter would pin host partitions; in synthetic mode there is
    // no rate to limit, only CPU to balance.
    // ONE expensive pass: parse results stream straight into the pages
    // parquet (no driver-memory cache of span arrays); metrics, the seen
    // table, docs view, and watermarks all derive from the columnar file.
    // explicit partition count: a column-only repartition lets AQE coalesce
    // by the SHUFFLE INPUT size — but fetch+parse expands each row ~100×,
    // so AQE under-provisions the stage (measured: 8 tasks on 16 cores,
    // half the machine idle). A user-specified count is respected by AQE;
    // 6× parallelism keeps the longest task ≪ stage wall (stragglers) —
    // r6: raised from 3× after measuring ~19 s tasks at 4 cores, long
    // enough that one ambient-contention spike on a late task extended
    // the whole stage (A/B on the 491k-URL rep: 4-core 56.9 → 47.7-49.2 s,
    // 1-core 166.8 → 161.4 s; still parameterized by defaultParallelism,
    // so a 32-core bench session gets 192 ~0.3 s tasks, not a constant).
    // A5/A6 metrics via observe(): the aggregates are computed DURING the
    // write job — no second pass over the (span-heavy) parquet
    val obs = new org.apache.spark.sql.Observation(s"tick_$tickIdx")
    val fetchPartitions = spark.sparkContext.defaultParallelism * 6
    val perPartitionInterval =
      if (cfg.maxRps > 0) (fetchPartitions.toDouble / cfg.maxRps * 1e9).toLong
      else 0L
    batch
      .repartition(fetchPartitions, $"url")
      .as[FetchUnit]
      .mapPartitions { it =>
        // C2 min-interval limiter, partition-local share of the global cap
        var nextAllowed = 0L
        it.map { u =>
          if (perPartitionInterval > 0) {
            val now = System.nanoTime()
            if (now < nextAllowed)
              Thread.sleep((nextAllowed - now) / 1000000L,
                ((nextAllowed - now) % 1000000L).toInt)
            nextAllowed = math.max(now, nextAllowed) + perPartitionInterval
          }
          val p = Fetcher.fetchParse(seed, u.qid, u.lang, u.title, u.family,
            u.url, u.host)
          FetchedRow(
            p.result.doc_id, u.url, u.host, u.family, u.title, u.sortKey,
            u.salt, p.result.httpStatus, p.result.success, p.result.hasContent,
            p.result.mainImageUrl, p.result.spans,
            // section CONTENT lives in spans (kind='section', same offset);
            // persisting it twice doubled the write volume for nothing
            p.sections.map(s => SectionRow(s._1, s._2)),
            p.formatLine.getOrElse(""))
        }
      }
      .observe(obs,
        count(lit(1)).as("n"),
        sum(when($"success", 1).otherwise(0)).as("ok"),
        sum(when($"hasContent", 1).otherwise(0)).as("docs"),
        sum(size($"spans")).as("spans"))
      .write.mode(SaveMode.Overwrite)
      // span text / urls / titles are near-unique strings: parquet's
      // dictionary build is pure encode-side CPU+cache churn that falls
      // back per page anyway (measured: −10% task time AND task-time
      // inflation at 8 cores 1.18 -> 1.09 — the dictionary was churning
      // the shared cache). Downstream scans of these columns never
      // benefit from dictionary filtering (they read, not filter).
      .option("parquet.enable.dictionary", "false")
      .parquet(s"${cfg.workDir}/pages/tick=$tickIdx")
    val m = obs.get
    val scheduledCount = m("n").asInstanceOf[Long]
    if (scheduledCount == 0) {
      return TickResult(tickIdx, 0, 0, 0, 0, done = true)
    }

    val okCount = m("ok").asInstanceOf[Long]
    val docCount = m("docs").asInstanceOf[Long]
    val spanCount = m("spans").asInstanceOf[Long]
    val pages = spark.read.parquet(s"${cfg.workDir}/pages/tick=$tickIdx")

    // The three state-persistence jobs below are INDEPENDENT column-pruned
    // passes over the just-written pages file, and a Spark driver submits
    // actions serially per thread — so they run as concurrent jobs, letting
    // their (small) stage launch + IO latencies overlap instead of adding
    // up. Together they are the tick's fixed tail; serial they cost ~3x the
    // slowest one. The manifest still commits strictly AFTER all three
    // (Await below), preserving the M7 ordering.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global

    // seen append (url + xxhash64 key for bucketing/Bloom)
    val seenF = Future {
      pages.select($"url", xxhash64($"url").as("urlHash"))
        .write.mode(SaveMode.Overwrite)
        .option("maxRecordsPerFile", 500000) // W5 bounded write batches
        .option("parquet.enable.dictionary", "false") // unique urls
        .parquet(s"${seenDir(cfg.workDir)}/tick=$tickIdx")
    }

    // persist this tick's Bloom sketch (mergeable across ticks and runs)
    val bloomF = Future {
      graft.dedup.BloomSeen.save(
        graft.dedup.BloomSeen.build(pages.select($"url").as[String],
          cfg.effectiveBloomCapacity, cfg.bloomFpp),
        cfg.workDir, tickIdx)
    }

    // manifest: per-(host,salt)-partition lineage watermarks + counters (M7)
    val watermarksF = Future {
      pages.groupBy($"host", $"salt")
        .agg(max($"sortKey").as("wm"))
        .collect()
    }

    val watermarks = Await.result(watermarksF, Duration.Inf)
      .map(r => s""""${r.getString(0)}#${r.getInt(1)}": "${r.getString(2)}"""")
      .sorted.mkString(",\n    ")
    Await.result(seenF, Duration.Inf)
    Await.result(bloomF, Duration.Inf)
    val manifest =
      s"""{
         |  "snapshotId": ${cfg.seed ^ tickIdx},
         |  "tick": $tickIdx,
         |  "counters": {"scheduled": $scheduledCount, "fetchedOk": $okCount,
         |               "parsedDocs": $docCount, "spans": $spanCount},
         |  "watermarks": {
         |    $watermarks
         |  }
         |}""".stripMargin
    val mdir = Files.createDirectories(Paths.get(s"${cfg.workDir}/manifests"))
    // atomic rename (M7: checkpoint advances only after the batch persists);
    // Files.move throws, so a failed commit cannot pass for a committed tick
    val tmp = mdir.resolve(s".manifest_$tickIdx.tmp")
    Files.writeString(tmp, manifest)
    Files.move(tmp, mdir.resolve(s"manifest_$tickIdx.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)

    val res = TickResult(tickIdx, scheduledCount, okCount, docCount,
      spanCount, done = false)
    res
  }

  /** M7 crash recovery: a tick is COMMITTED only by its manifest (written
    * last, atomic rename). Pages/seen/Bloom outputs for ticks ≥
    * completedTicks are partial writes from a crashed run; left in place
    * they would poison the replay — the replayed tick would filter against
    * its own half-persisted seen rows, schedule the NEXT batch under the
    * same tick index, and `run()` would start from a wrong crawled count.
    * Deleting them makes the replay reproduce the oracle batch exactly
    * (the keyed-write idempotence argument, README.md:506-516). */
  def cleanPartialTicks(workDir: String): Unit = {
    val committed = completedTicks(workDir)
    def sweep(dir: java.io.File, suffix: String): Unit =
      if (dir.exists) dir.listFiles().foreach { f =>
        val n = f.getName
        if (n.startsWith("tick=") && n.endsWith(suffix)) {
          val t = n.stripPrefix("tick=").stripSuffix(suffix)
          if (t.matches("\\d+") && t.toInt >= committed) FileUtils.deleteQuietly(f)
        }
      }
    sweep(new java.io.File(s"$workDir/pages"), "")
    sweep(new java.io.File(seenDir(workDir)), "")
    sweep(graft.dedup.BloomSeen.bloomDir(workDir).toFile, ".bloom")
  }

  /** Resume point: ticks already fully persisted (manifest present). */
  def completedTicks(workDir: String): Int = {
    val mdir = new java.io.File(s"$workDir/manifests")
    if (!mdir.exists) 0
    else mdir.listFiles().map(_.getName)
      .collect { case s if s.matches("manifest_\\d+\\.json") =>
        s.stripPrefix("manifest_").stripSuffix(".json").toInt }
      .foldLeft(-1)(math.max) + 1
  }

  /** Run the crawl to completion (or maxTicks), resuming from the last
    * persisted manifest — the M7 protocol: the seen table is the state,
    * manifests are the watermark lineage. */
  def run(spark: SparkSession, cfg: CrawlConfig): Seq[TickResult] = {
    import spark.implicits._
    // AQE off for the crawl job (restored after): every partition count in
    // this pipeline is pinned explicitly (windows at shuffle.partitions,
    // fetch at 6x parallelism), so adaptive re-planning has nothing to
    // decide — but its per-exchange query-stage barriers serialize an
    // otherwise pipelined job (measured: 49.6->38.5 s at 8 cores AND
    // 149.8->113.7 s at 2 cores on the 491k-URL world, same machine
    // window). At 100 TB the same holds: a fixed-shape ETL job with
    // explicit partitioning gains nothing from AQE on the hot path.
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try runInner(spark, cfg)
    finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  private def runInner(spark: SparkSession, cfg: CrawlConfig): Seq[TickResult] = {
    import spark.implicits._
    cleanPartialTicks(cfg.workDir) // drop half-persisted state before resume
    val start = completedTicks(cfg.workDir)
    // Tick 0 runs on the lazy, unmaterialized synthesis plan, with the
    // candidate total (needed only for the frontier-exhaustion check)
    // observed inside its fetch+parse+write job: writing the table (or a
    // separate count) first would serialize a full candidate synthesis
    // BEFORE any fetch work starts (measured 6.4 s of the 39 s 8-core bench
    // run — pure Amdahl loss), and a crawl that finishes in one tick never
    // reads the candidates again. NOT cached either: a memory-store fill of
    // the full candidate set inside the fetch job competes with the parse's
    // allocation for the heap (measured +16 s on the 8-core 500k run).
    // Only when tick 0 leaves the crawl unfinished, with another tick
    // allowed, is the table written (storedCandidates) — once per state dir
    // — and every later tick scans it instead of re-synthesizing. A resumed
    // run reads (or, after a crash before it landed, writes) the table up
    // front, and its exhaustion check counts that scan.
    val obsCand = new org.apache.spark.sql.Observation("candidates_total")
    var candidates =
      if (start == 0)
        candidateUnits(spark, cfg).observe(obsCand, count(lit(1)).as("total"))
      else storedCandidates(spark, cfg)
    var total = if (start == 0) -1L else candidates.count()
    var crawled =
      if (start == 0) 0L
      else readSeen(spark, cfg.workDir).count()
    val out = Vector.newBuilder[TickResult]
    var i = start
    var done = total >= 0 && crawled >= total
    while (i < cfg.maxTicks && !done) {
      val r = tick(spark, cfg, i, Some(candidates))
      if (total < 0) total = obsCand.get("total").asInstanceOf[Long]
      done = r.done
      if (!r.done) out += r
      crawled += r.scheduled
      // frontier exhausted — skip scheduling an empty confirmation tick
      if (crawled >= total) done = true
      i += 1
      // i == 1 only right after tick 0 of a fresh run, the one tick that ran
      // on the synthesis plan
      if (i == 1 && !done && i < cfg.maxTicks)
        candidates = storedCandidates(spark, cfg)
    }
    out.result()
  }

  /** The consolidated docs view: latest tick wins per doc_id (keep-newest
    * W3; makes re-crawl with fewer spans an implicit tail-prune, M2/M3). */
  def docsView(spark: SparkSession, workDir: String): Dataset[Doc] = {
    import spark.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"tick".desc)
    spark.read.parquet(s"$workDir/pages")
      .filter($"hasContent")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"doc_id", $"spans")
      .as[Doc]
  }

  /** Compact the consolidated docs view into a doc_id-bucketed table (the
    * store-side twin of [[graft.store.MergeStore.snapshotBucketed]]).
    *
    * [[docsView]]'s keep-newest window re-shuffles every page row ever
    * crawled each time it runs; at a 10^10-URL store that is an O(store)
    * shuffle per consumer. After one bucketed compaction the consolidated
    * docs table reads with `HashPartitioning(doc_id, numBuckets)` straight
    * off the scan, so doc-keyed joins/windows/aggs over it plan
    * EXCHANGE-FREE, and a later tick's fresh pages fold in as one
    * O(delta) [[graft.store.MergeStore.mergeDelta]] step instead of a
    * store-wide re-window (BucketedStoreSpec pins both). `numBuckets`
    * sizes as store bytes / target file size, fixed per table so
    * successive compactions stay join-compatible. */
  def compactDocs(spark: SparkSession, workDir: String, table: String,
                  numBuckets: Int): Dataset[Doc] = {
    import spark.implicits._
    val path = new java.io.File(s"$workDir/docs_bucketed")
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    FileUtils.deleteQuietly(path)
    docsView(spark, workDir)
      .write.format("parquet")
      .option("path", path.getPath)
      .bucketBy(numBuckets, "doc_id")
      .sortBy("doc_id")
      .saveAsTable(table)
    // watermark: the highest tick folded into this compaction, so a later
    // incremental read knows where the delta starts
    val wm = new java.io.File(s"$workDir/pages").listFiles()
      .map(_.getName).filter(_.startsWith("tick="))
      .map(_.stripPrefix("tick=").toInt).max
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$workDir/docs_bucketed.wm"), wm.toString)
    spark.table(table).as[Doc]
  }

  /** The consolidated docs view as [base compaction] + [O(delta) fold] —
    * what [[docsView]] becomes once the store outgrows a per-read window.
    *
    * Reads ONLY the page partitions newer than the compaction watermark
    * (partition pruning on `tick` — the delta scan never touches compacted
    * ticks), keep-newest-windows that delta alone, and folds it over the
    * bucketed base with one [[graft.store.MergeStore.mergeDelta]]
    * full-outer step (base side exchange-free). Row-set ≡ [[docsView]]
    * over the full store — BucketedStoreSpec asserts it across a real
    * compact-mid-crawl + resume, and pins the plan (bucketed base scan,
    * pruned delta scan, exchanges on the delta only). */
  def docsViewIncremental(spark: SparkSession, workDir: String,
                          table: String): Dataset[Doc] = {
    import spark.implicits._
    val wm = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$workDir/docs_bucketed.wm")).trim.toInt
    val w = Window.partitionBy($"doc_id").orderBy($"tick".desc)
    val delta = spark.read.parquet(s"$workDir/pages")
      .filter($"tick" > wm && $"hasContent")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"doc_id", $"spans")
    graft.store.MergeStore
      .mergeDelta(spark.table(table), delta, Seq("doc_id"))
      .as[Doc]
  }

  /** The fetch worker's input row — the 8-column projection of a
    * [[CrawlUnit]] the fetch stage shuffles and deserializes (r6). */
  final case class FetchUnit(
      qid: String, lang: String, family: String, title: String,
      url: String, host: String, sortKey: String, salt: Int)

  final case class SectionRow(display_order: Int, title: String)

  final case class FetchedRow(
      doc_id: String, url: String, host: String, family: String,
      title: String, sortKey: String, salt: Int, httpStatus: Int,
      success: Boolean, hasContent: Boolean, mainImageUrl: String,
      spans: Seq[Span], sections: Seq[SectionRow], formatLine: String)
}
