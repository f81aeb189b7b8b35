package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.crawl.Crawl
import graft.crawl.Crawl.CrawlConfig

/** Streaming frontier: the crawl engine driven by Structured Streaming.
  *
  * Seed batches arrive as files (one `start,end` entity range per line);
  * each micro-batch runs the SAME scheduling semantics as the batch
  * engine — range-restricted candidates → URL-seen dedup against the
  * persistent seen state → politeness selection → fetch+parse →
  * pages/seen/Bloom/manifest persistence via `foreachBatch`. State is the
  * batch engine's own, the persisted candidate table included (owned by
  * [[Crawl.storedCandidates]]), so a crawl moves freely between batch and
  * streaming drivers: the micro-batch loop IS the reference's resumable
  * family loop (wikipedia_crawler.py:776-860), event-driven, with
  * exactly-once effects from idempotent keyed writes + the streaming
  * checkpoint (the reference's own argument, README.md:506-516).
  */
object StreamingCrawl {

  /** Start the streaming crawl over a seed directory; AvailableNow
    * processes everything present and stops (the test/backfill trigger —
    * a production deployment uses a processing-time trigger).
    * maxFilesPerTrigger > 0 caps seed files per micro-batch (AvailableNow
    * honors it): 1 makes each seed drop its own micro-batch = its own
    * scheduling tick, which is how the batch-parity query reproduces the
    * batch engine's tick sequence exactly. */
  def start(spark: SparkSession, cfg: CrawlConfig, seedDir: String,
            checkpointDir: String, maxFilesPerTrigger: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val reader = spark.readStream.format("text")
    val limited =
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader
    limited
      .load(seedDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        runMicroBatch(spark, cfg, batch, batchId)
      }
      .start()
  }

  /** One micro-batch: schedule + persist the announced entity ranges. */
  private[graft] def runMicroBatch(spark: SparkSession, cfg: CrawlConfig,
                                   batch: DataFrame, batchId: Long): Unit = {
    import spark.implicits._
    val ranges = batch.as[String].collect().toSeq // tiny: range specs only
      .map(_.trim).filter(_.nonEmpty)
      .map { line =>
        val Array(a, b) = line.split(",", 2)
        (a.trim.toLong, b.trim.toLong)
      }
    if (ranges.isEmpty) return
    // global dedup semantics: candidates carry the full world's precedence
    // + canonical-URL winners (the same no matter when a range arrives),
    // restricted to the announced entity ranges via a broadcast semi-join
    // on qid — so streaming arrival order can never crawl a unit the batch
    // engine would have deduped away. The candidate set itself is persisted
    // once per state dir (Crawl.storedCandidates), not recomputed per
    // micro-batch.
    val announcedQids = ranges
      .map { case (a, b) =>
        spark.range(a, b).flatMap(i =>
          graft.synth.World.frontierRows(cfg.seed, i).map(_.qid))
      }
      .reduce(_ unionByName _)
      .distinct()
      .toDF("qid")
    val candidates = Crawl.storedCandidates(spark, cfg)
      .join(org.apache.spark.sql.functions.broadcast(announcedQids),
        Seq("qid"), "left_semi")
      .as[Crawl.CrawlUnit]
    Crawl.cleanPartialTicks(cfg.workDir) // M7: drop crashed partial state
    val fresh = Crawl.filterNew(spark, candidates, cfg)
    val tickIdx = math.max(Crawl.completedTicks(cfg.workDir), batchId.toInt)
    Crawl.scheduleAndPersist(spark, cfg, tickIdx, fresh)
    ()
  }
}
