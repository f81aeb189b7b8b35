package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}

/** Measured shuffle audit over the headline set → `SHUFFLE.json`.
  *
  * The plan-shape suites (PlanSpec / ShuffleBudgetSpec) pin the *structural*
  * claim — how many exchanges each headline plan is allowed. This main
  * records the *measured* counterpart at a real SF: bytes actually written
  * to and read from shuffle per query, input bytes scanned, and the
  * exchange/broadcast counts read off the executed plan. At 100 TB the
  * shuffle volume is the scalability budget — an operator whose shuffle
  * bytes approach its input bytes re-materializes the dataset across the
  * cluster per run, so the artifact makes "is there a shuffle here that
  * becomes the bottleneck" a recorded number instead of an assertion.
  *
  * Method: one task-metrics listener accumulates shuffle/input totals;
  * each query is bracketed by a deterministic listener-bus drain
  * ([[org.apache.spark.GraftListenerBridge]] — a fixed sleep is a race),
  * so per-query deltas cannot bleed across brackets. Execution is a
  * `noop`-sink write, which materializes every output column —
  * `count()` (the bench's latency convention) lets Spark prune columns,
  * which is right for timing but would under-report scan and shuffle
  * bytes here. Dedup/ANN operators that eagerly compute inside the
  * builder (detached pair sets — see `DedupOps.run`) are still
  * measured correctly: the bracket spans the builder call, and their
  * `plan_detached` flag records that the exchange count of the *returned*
  * frame (a local relation — 0) is not the work's plan.
  *
  * Env: `SPARK_GRAFT_SF_DIR` (default sf0.01), `GRAFT_SHUFFLE_OUT`
  * (default `SHUFFLE.json` in the CWD). The sizes below are the recorded
  * artifact's.
  */
object ShuffleAuditMain {
  private final val Cores = 8
  private final val CrawlEntities = 50000L

  private final class Totals extends SparkListener {
    val shuffleWrite = new AtomicLong
    val shuffleRead = new AtomicLong
    val shuffleRecs = new AtomicLong
    val input = new AtomicLong
    val spill = new AtomicLong
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        input.addAndGet(m.inputMetrics.bytesRead)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
    def snapshot: Seq[Long] =
      Seq(shuffleWrite.get, shuffleRead.get, shuffleRecs.get, input.get, spill.get)
  }

  private def num(pat: String, v: Double): String =
    String.format(Locale.ROOT, pat, Double.box(v))

  /** Scan paths as FormattedMode prints them:
    * `Location: InMemoryFileIndex(1 paths)[file:/root/testdata/...]`. */
  private val locationRe = "file:(/[^\\]\\s,]+)".r

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outPath = sys.env.getOrElse("GRAFT_SHUFFLE_OUT", "SHUFFLE.json")
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-shuffle-audit")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val totals = new Totals
    spark.sparkContext.addSparkListener(totals)

    def drained[A](body: => A): A = {
      val r = body
      GraftListenerBridge.waitListenerBusEmpty(spark.sparkContext, 60000L)
      r
    }

    val rows = SparkEntry.headline.map { name =>
      val before = drained(totals.snapshot)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      // SimpleMode prints one line per physical node ("Exchange
      // hashpartitioning(...)"), so a line count is a node count;
      // FormattedMode would split the node name from its arguments
      val plan = df.queryExecution.explainString(SimpleMode)
      // accurate scan volume from the plan's file locations: the
      // FS-statistics callback under-reports vectorized parquet reads on
      // local file:// (measured 17 KB "read" for a 10.8 MB lineitem scan),
      // so the task-metric input counter cannot carry this claim
      val scannedBytes = locationRe.findAllMatchIn(
          df.queryExecution.explainString(FormattedMode))
        .map(_.group(1)).toSet.toSeq
        .map((p: String) => new java.io.File(p).length).sum
      df.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val after = drained(totals.snapshot)
      val Seq(sw, sr, recs, in, sp) = after.zip(before).map { case (a, b) => a - b }
      val exchanges = plan.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") ||
          l.contains("Exchange rangepartitioning") ||
          l.contains("Exchange SinglePartition"))
      val broadcasts = plan.linesIterator.count(_.contains("BroadcastExchange"))
      // a detached result plans as a local relation: its exchange count
      // describes the returned frame, not the (already measured) work
      val detached = plan.contains("LocalTableScan") && exchanges == 0
      System.err.println(f"[shuffle] $name%-24s exch=$exchanges bcast=$broadcasts " +
        f"write=${sw / 1e6}%.1fMB read=${sr / 1e6}%.1fMB scan=${scannedBytes / 1e6}%.1fMB " +
        f"spill=${sp / 1e6}%.1fMB ${sec}%.2fs${if (detached) " (detached)" else ""}")
      s"""    "$name": {"exchanges":$exchanges,"broadcasts":$broadcasts,""" +
        s""""plan_detached":$detached,"shuffle_write_bytes":$sw,""" +
        s""""shuffle_read_bytes":$sr,"shuffle_write_records":$recs,""" +
        s""""scanned_file_bytes":$scannedBytes,"fs_bytes_read":$in,""" +
        s""""disk_spill_bytes":$sp,""" +
        s""""sec":${num("%.3f", sec)}}"""
    }
    // ---- crawl pipeline: shuffle volume vs page-output volume ----------
    // The 100 TB claim for the crawl is structural: every shuffle carries
    // frontier METADATA (url/host/salt/sortKey rows for dedup+politeness,
    // qid-keyed rows for the sitelink SMJ) — page bodies are fetched,
    // parsed, and written map-side AFTER batch selection and never cross
    // an exchange. So shuffle bytes scale with frontier size, not corpus
    // size: at 100 TB of bodies the shuffles stay at frontier scale.
    // Measured here on a real crawl (same config shape as the bench,
    // smaller world) and recorded next to the per-query numbers.
    val crawlJson = {
      val work = Files.createTempDirectory("graft-shuffle-crawl").toString
      val cfg = graft.crawl.Crawl.CrawlConfig(seed = 42L,
        nEntities = CrawlEntities,
        budgetPerHost = 1000000, saltBuckets = 4, maxTicks = 3, workDir = work)
      val before = drained(totals.snapshot)
      val t0 = System.nanoTime()
      val ticks = graft.crawl.Crawl.run(spark, cfg)
      val sec = (System.nanoTime() - t0) / 1e9
      val after = drained(totals.snapshot)
      val Seq(sw, sr, _, _, sp) = after.zip(before).map { case (a, b) => a - b }
      def dirBytes(p: java.io.File): Long =
        if (p.isDirectory) p.listFiles().map(dirBytes).sum else p.length()
      val pageBytes = dirBytes(new java.io.File(s"$work/pages"))
      val stateBytes = dirBytes(new java.io.File(work))
      val urls = ticks.map(_.scheduled).sum
      // tmpfs is memory on this host — drop the state as soon as measured
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
      System.err.println(f"[shuffle] crawl ${urls} urls: shuffle write=${sw / 1e6}%.1fMB " +
        f"read=${sr / 1e6}%.1fMB spill=${sp / 1e6}%.1fMB pages=${pageBytes / 1e6}%.1fMB " +
        f"state=${stateBytes / 1e6}%.1fMB ratio=${sw.toDouble / pageBytes}%.3f ${sec}%.1fs")
      s""""crawl": {"entities":${cfg.nEntities},"urls":$urls,"ticks":${ticks.size},
         |    "shuffle_write_bytes":$sw,"shuffle_read_bytes":$sr,"disk_spill_bytes":$sp,
         |    "pages_output_bytes":$pageBytes,"state_output_bytes":$stateBytes,
         |    "shuffle_to_pages_ratio":${num("%.4f", sw.toDouble / math.max(1L, pageBytes))},
         |    "sec":${num("%.2f", sec)}},""".stripMargin
    }
    spark.stop()
    val json =
      s"""{
         |  "sf": "$sfDir",
         |  "cores": $Cores,
         |  $crawlJson
         |  "method": "noop-sink write (full-column materialization); per-query task-metric deltas bracketed by deterministic listener-bus drains. scanned_file_bytes = on-disk size of the plan's scan locations (column pruning reads less); fs_bytes_read is the raw task-metric counter, which under-reports vectorized parquet on local file:// and fully reports cached-block reads — shuffle/spill counters are the accurate scale numbers",
         |  "queries": {
         |${rows.mkString(",\n")}
         |  }
         |}
         |""".stripMargin
    Files.write(Paths.get(outPath), json.getBytes(StandardCharsets.UTF_8))
    println(s"[shuffle] wrote $outPath")
  }
}
