package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: one end-to-end mini-crawl tick (frontier → canon → dedup →
    * politeness → fetch → parse → spans). Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.CrawlQueries.crawlTick(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 + the
    * training-data pipeline operators (dedup / ANN / text / multimodal). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.all ++
      graft.ops.TextOps.queries ++
      graft.ops.DedupOps.queries ++
      graft.ops.AnnOps.queries ++
      graft.ops.MultimodalOps.queries ++
      graft.store.Cleanup.queries ++
      graft.queries.CrawlQueries.queries

  /** The headline queries: the leaves whose plans carry the engine's
    * operators (the crawl views are measured through the crawl itself).
    * [[ShuffleAuditMain]] measures this set and ShuffleBudgetSpec pins an
    * exchange budget for each of them. */
  val headline: Seq[String] = Seq(
    "q1_agg", "q_precedence_dedup", "q_keep_latest", "q_freq_agg",
    "q_anti_join_exclusion", "q_backfill_join", "q_topk", "q_hourly_agg",
    "q_dedup_exact", "q_dedup_prefix", "q_minhash_dedup", "q_simhash_dedup",
    "q_winnow_dedup",
    "q_embedding_neardup", "q_ann_brute", "q_ann_lsh", "q_token_count",
    "q_ann_ivf", "q_lang_id", "q_quality_score", "q_fingerprint",
    "q_html_strip", "q_curation", "q_media_decode", "q_frame_sample",
    "q_merge_latest")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracle ++
      graft.ops.TextOps.oracle ++
      graft.ops.DedupOps.oracle ++
      graft.ops.AnnOps.oracle ++
      graft.ops.MultimodalOps.oracle ++
      graft.store.Cleanup.oracle ++
      graft.queries.CrawlQueries.oracle
}
