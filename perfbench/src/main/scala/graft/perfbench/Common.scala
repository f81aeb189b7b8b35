package graft.perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Shared plumbing for the benchmark JVMs: options, sessions, clocks, files
  * and the one JSON result line each JVM prints. */
object Common {

  final case class Opts(kv: Map[String, String]) {
    def str(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def long(k: String): Long = str(k).toLong
    def int(k: String): Int = str(k).toInt
    def flag(k: String): Boolean = kv.get(k).contains("1")
  }

  def parse(args: Array[String]): Opts =
    Opts(args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)

  /** A local session shaped like the engine's own bench sessions; scratch
    * space (shuffle files, warehouse) stays under `scratch`. */
  def session(cpus: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-perfbench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Seconds since this JVM was launched (the set-up clock starts there). */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }

  def bytesUnder(f: File): Long =
    if (!f.exists) 0L
    else if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally status.close()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** JSON of maps, sequences, strings and numbers (Jackson, as Spark ships it). */
  def toJson(v: Any): String = mapper.writeValueAsString(v)

  /** The JVM's one result line, read back by run.py. */
  def emit(result: Map[String, Any]): Unit = {
    println("PERFBENCH " + toJson(result))
    System.out.flush()
  }
}
