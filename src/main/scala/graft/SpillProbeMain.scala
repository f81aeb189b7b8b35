package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spill-resilience probe → `SPILL.json`.
  *
  * The 100 TB design claim everywhere else in this repo is about shuffle
  * VOLUME (SHUFFLE.json) and plan SHAPE (PlanSpec/ShuffleBudgetSpec).
  * This main records the third leg: what happens when a partition does
  * NOT fit in executor memory. At production scale someone always gets a
  * skewed partition or an under-provisioned executor; the engine's answer
  * must be "Tungsten spills the sort/aggregate to disk and the result is
  * byte-identical", not an OOM. That property is an execution-engine
  * behavior, so it is evidenced by measurement, not by a unit assertion:
  * the SAME deterministic shuffle+sort+aggregate kernel runs in two
  * forked JVMs — an ample heap and a deliberately tight one — and the
  * artifact records per-run disk-spill bytes, wall time, and the result
  * fingerprint. Pass = tight-heap spill bytes > 0 (the pressure was
  * real), ample-heap spill = 0 (the baseline was clean), fingerprints
  * equal (spilling changed nothing).
  *
  * The kernel is sized so the tight fork MUST spill: [[Rows]] rows of
  * ~128-byte deterministic payload, shuffled on an 8192-key column into
  * [[Cores]] shuffle partitions, sorted within partitions (the external
  * sorter under pressure), then aggregated per key with a sort_array'd
  * collect_list (sort_array makes the per-key fingerprint independent of
  * buffer merge order, so the fingerprint is deterministic WHETHER OR
  * NOT the aggregate falls back to sort-based spilling). The final
  * global fingerprint collapses the 8192 per-key fingerprints the same
  * way.
  *
  * The sizes below are the recorded artifact's. Env: `GRAFT_SPILL_OUT`
  * (default `SPILL.json`).
  */
object SpillProbeMain {
  private final val Rows = 6000000L // ≈ 0.9 GB of unsafe rows
  private final val Cores = 8
  private final val TightMb = 1024
  private final val AmpleMb = 12288

  /** The JDK-17 module opens Spark needs when a session is created outside
    * spark-submit (mirror of build.sbt / JavaModuleOptions). */
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private final class SpillTotals extends SparkListener {
    val disk = new AtomicLong
    val mem = new AtomicLong
    val shuffleWrite = new AtomicLong
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        disk.addAndGet(m.diskBytesSpilled)
        mem.addAndGet(m.memoryBytesSpilled)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  /** Deterministic shuffle+sort+aggregate kernel (see scaladoc). */
  private[graft] def kernel(spark: SparkSession, rows: Long): DataFrame = {
    val payload = concat_ws("",
      (1 to 8).map(c => lower(hex(xxhash64(col("id") * c + c)))): _*)
    val df = spark.range(0, rows, 1, 64).select(
      col("id"),
      // 8192 keys keeps each collect_list buffer small (~250 KB at the
      // default 6M rows): the memory pressure must land in the external
      // SORTER (which spills row pages gracefully), not in one oversized
      // aggregation buffer (which can only OOM)
      pmod(xxhash64(col("id")), lit(8192)).as("k"),
      payload.as("payload"))
    val perKey = df
      .repartition(col("k"))
      .sortWithinPartitions(col("k"), col("id"))
      .groupBy(col("k"))
      .agg(md5(concat_ws("", sort_array(collect_list(col("payload")))))
        .as("kfp"))
    perKey.agg(md5(concat_ws("",
      sort_array(collect_list(concat_ws(":", col("k"), col("kfp"))))))
      .as("fp"))
  }

  /** Child mode: run the kernel once in THIS JVM, print one SPILLREP line. */
  private def child(): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-spill-probe")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val totals = new SpillTotals
    spark.sparkContext.addSparkListener(totals)
    val t0 = System.nanoTime()
    val fp = kernel(spark, Rows).collect()(0).getString(0)
    val sec = (System.nanoTime() - t0) / 1e9
    org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(
      spark.sparkContext, 60000L)
    println(s"SPILLREP fp=$fp sec=${num("%.2f", sec)} " +
      s"disk_spill=${totals.disk.get} mem_spill=${totals.mem.get} " +
      s"shuffle_write=${totals.shuffleWrite.get}")
    spark.stop()
  }

  private def num(pat: String, v: Double): String =
    String.format(Locale.ROOT, pat, Double.box(v))

  private def fork(xmxMb: Int): Map[String, String] = {
    val java = System.getProperty("java.home") + "/bin/java"
    val cmd: Seq[String] = Seq(java) ++ addOpens ++ Seq(
      s"-Xmx${xmxMb}m", "-XX:+UseParallelGC",
      s"-XX:ActiveProcessorCount=$Cores",
      "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.SpillProbeMain", "child")
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes())
    val rc = proc.waitFor()
    val line = out.linesIterator.find(_.startsWith("SPILLREP")).getOrElse(
      sys.error(s"spill child (xmx=${xmxMb}m, rc=$rc) produced no SPILLREP line:\n$out"))
    line.split("\\s+").drop(1).map(_.split("=")).map(a => a(0) -> a(1)).toMap
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("child")) {
      child()
      return
    }
    val outPath = sys.env.getOrElse("GRAFT_SPILL_OUT", "SPILL.json")

    System.err.println(s"[spill] ample fork: ${AmpleMb}m, $Rows rows, $Cores cores")
    val ample = fork(AmpleMb)
    System.err.println(s"[spill] ample: $ample")
    System.err.println(s"[spill] tight fork: ${TightMb}m")
    val tight = fork(TightMb)
    System.err.println(s"[spill] tight: $tight")

    val fpEqual = ample("fp") == tight("fp")
    val tightSpilled = tight("disk_spill").toLong > 0
    val ampleClean = ample("disk_spill").toLong == 0
    def run(m: Map[String, String]) =
      s"""{"sec":${m("sec")},"disk_spill_bytes":${m("disk_spill")},""" +
        s""""mem_spill_bytes":${m("mem_spill")},""" +
        s""""shuffle_write_bytes":${m("shuffle_write")},"fp":"${m("fp")}"}"""
    val json =
      s"""{
         |  "rows": $Rows,
         |  "cores": $Cores,
         |  "method": "same deterministic shuffle+sort+aggregate kernel (8192-key repartition, in-partition sort, sort_array'd collect_list per key -> one global md5) in two forked JVMs; task-metric spill totals drained via GraftListenerBridge. pass = tight spills, ample does not, fingerprints byte-equal",
         |  "ample": {"xmx_mb": $AmpleMb, "run": ${run(ample)}},
         |  "tight": {"xmx_mb": $TightMb, "run": ${run(tight)}},
         |  "fp_equal": $fpEqual,
         |  "tight_spilled": $tightSpilled,
         |  "ample_clean": $ampleClean,
         |  "pass": ${fpEqual && tightSpilled && ampleClean}
         |}""".stripMargin
    Files.write(Paths.get(outPath), (json + "\n").getBytes(StandardCharsets.UTF_8))
    println(json)
    if (!(fpEqual && tightSpilled)) sys.exit(1)
  }
}
