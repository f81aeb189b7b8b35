package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ColSyntax._
import graft.crawl.Crawl
import graft.crawl.Crawl.CrawlConfig
import graft.synth.World

/** M5 — per-family writeback of crawl results into dimension tables
  * (wikipedia_page_writer.py:228-235 `UPDATE <imagetable> SET <imagecolumn>`
  * driven by CONTENT_CONFIG :41-62), plus the M6 format-line writeback
  * (wikipedia_page_writer.py:357-388 → WIKIPEDIA_FORMAT_LINE).
  *
  * Reference semantics reproduced:
  *  - only families with an image destination get written (P9 gate:
  *    keyword/season/other/technical have imagetable == "");
  *  - a value is written only when the payload RESOLVED one (never blanks a
  *    previous value — M1), so the merge is sticky latest-non-null;
  *  - languages are processed in fixed order per entity
  *    (wikipedia_crawler.py:800 arrlang), so the last language that
  *    resolved a value wins — one ingest generation per language in
  *    [[World.langs]] order reproduces exactly that;
  *  - the format line exists only for (movie, fr) payloads.
  *
  * At production scale each family is its own dimension table; here ONE
  * keyed [[MergeStore]] with `family` in the merge key — identical merge
  * semantics with 1+|langs| ingest jobs instead of 16×(1+|langs|).
  */
object Writeback {

  /** CONTENT_CONFIG analogue: families owning an image destination column. */
  val imageFamilies: Seq[String] = World.familiesWithImages.toSeq.sorted

  /** Build the written-back dimension store from a finished crawl. */
  def writeDims(spark: SparkSession, cfg: CrawlConfig, dimsDir: String): Unit = {
    // gen 0: the pre-crawl dimension — every candidate entity of an image
    // family, destination columns NULL. Seeded from the PERSISTED
    // candidate set (Crawl.storedCandidates: materialized once per workDir,
    // usually already by the crawl itself) instead of re-running the full
    // frontier synthesis + dedup windows: at 10^10 entities the seed
    // generation is a pruned columnar scan, not a second frontier shuffle.
    val seedGen = Crawl.storedCandidates(spark, cfg)
      .filter($"family".isin(imageFamilies: _*))
      .select($"family", $"qid").distinct()
      .withColumn("image_url", lit(null).cast("string"))
      .withColumn("format_line", lit(null).cast("string"))
    MergeStore.ingest(seedGen, dimsDir)

    val pages = spark.read.parquet(s"${cfg.workDir}/pages")
      .filter($"hasContent" && $"family".isin(imageFamilies: _*))
      .withColumn("qid", substring_index($"doc_id", ":", 1))
      .withColumn("lang", substring_index($"doc_id", ":", -1))

    World.langs.foreach { lang =>
      val upd = pages.filter($"lang" === lang)
        .select($"family", $"qid",
          when($"mainImageUrl" =!= "", $"mainImageUrl").as("image_url"),
          when($"family" === "movie" && lit(lang) === "fr" &&
            $"formatLine" =!= "", $"formatLine").as("format_line"))
        .filter($"image_url".isNotNull || $"format_line".isNotNull)
      MergeStore.ingest(upd, dimsDir)
    }
  }

  /** The written-back dimension: sticky merge (M1 never-blank) keyed
    * (family, qid); rows with no writeback keep NULL destinations. */
  def dimView(spark: SparkSession, dimsDir: String): DataFrame =
    MergeStore.mergedView(spark, dimsDir, keys = Seq("family", "qid"),
      stickyCols = Seq("image_url", "format_line"))
}
