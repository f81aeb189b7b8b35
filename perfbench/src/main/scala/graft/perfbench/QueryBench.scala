package graft.perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import graft.SparkEntry

import Common._

/** The `analytics` workload: the `--queries` run through `SparkEntry.queries`
  * over one generated table set. Warm passes run first and belong to set-up;
  * timed passes follow, each in an order shuffled from the seed. A query
  * that throws counts as failed and leaves no sample. The first warm pass
  * writes every result out for run.py to compare against DuckDB. */
object QueryBench {

  /** The engine module each query's operators live in. */
  def module(name: String): String =
    if (graft.queries.Relational.all.contains(name)) "relational"
    else if (graft.ops.DedupOps.queries.contains(name)) "dedup"
    else if (graft.ops.AnnOps.queries.contains(name)) "ann"
    else if (graft.ops.TextOps.queries.contains(name)) "text"
    else if (graft.ops.MultimodalOps.queries.contains(name)) "media"
    else "store"

  val modules: Seq[String] = Seq("relational", "dedup", "ann", "text", "media", "store")

  def main(o: Opts): Unit = {
    val scratch = o.str("scratch")
    val data = o.str("data")
    val seed = o.long("seed")
    val names = o.str("queries").split(",").toSeq
    val spark = session(o.int("cpus"), scratch)
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    val results = new File(s"$scratch/results")

    /** Runs one query to the noop sink, or to parquet for the check. */
    def run(name: String, keep: Boolean = false): Option[Double] = {
      attempted += 1
      try {
        val (_, s) = time {
          val w = SparkEntry.queries(name)(spark, data).write.mode("overwrite")
          if (keep) w.parquet(s"$results/$name") else w.format("noop").save()
        }
        Some(s)
      } catch {
        case e: Throwable =>
          failed += 1
          errors += s"$name: $e"
          None
      }
    }

    // set-up: the warm pass at the measured scale (it builds the memoized
    // merge store `q_merge_latest` reads, so no timed call pays for it); its
    // results are the ones checked against DuckDB. More warm passes bring
    // the JIT closer to steady state before timing starts.
    names.foreach(run(_, keep = true))
    (1 until o.int("warm-passes")).foreach(_ => names.foreach(run(_)))
    val setupSec = sinceJvmStart

    /** One pass in a seeded order: per-query seconds, None if any failed. */
    def pass(i: Int, wrap: (String, => Option[Double]) => Option[Double])
        : (Map[String, Double], Boolean) = {
      val order = new scala.util.Random(seed * 1000003L + i).shuffle(names)
      val got = order.map(n => n -> wrap(n, run(n)))
      (got.collect { case (n, Some(s)) => n -> s }.toMap, got.forall(_._2.isDefined))
    }

    // timed passes; with --trace 1 each is paired with a traced pass, the
    // order alternating, so both sets see the same point of the JIT warm-up
    val tr = if (o.flag("trace")) Some(new Tracer(spark.sparkContext)) else None
    val untraced = mutable.ArrayBuffer.empty[Map[String, Double]]
    val traced = mutable.ArrayBuffer.empty[Map[String, Double]]
    def untracedPass(i: Int): Unit = {
      System.gc() // every pass starts from the same heap state
      val (q, complete) = pass(i, (_, f) => f)
      if (complete) untraced += q // a pass with a failed query has no total
    }
    def tracedPass(t: Tracer, i: Int): Unit = {
      System.gc()
      val (q, complete) = pass(1000 + i, (n, f) => t.span(s"query.$n")(f))
      if (complete) traced += q
    }
    (0 until o.int("passes")).foreach { i =>
      tr match {
        case None => untracedPass(i)
        case Some(t) if i % 2 == 0 => untracedPass(i); tracedPass(t, i)
        case Some(t) => tracedPass(t, i); untracedPass(i)
      }
    }
    val layer = tr.map { t =>
      t.drain()
      Files.writeString(new File(o.str("trace-out")).toPath, toJson(t.dump))
      val k = math.max(1, traced.size).toDouble
      val perModule = modules.flatMap { m =>
        val c = names.filter(module(_) == m).map(n => t.counters(s"query.$n"))
          .foldLeft(Counters())(_ + _)
        Seq(s"query.$m.stages" -> c.stages / k,
          s"query.$m.shuffle_bytes" -> (c.shuffleWrite + c.shuffleRead) / k,
          s"query.$m.task_ms" -> c.taskMs / k)
      }
      val all = names.map(n => t.counters(s"query.$n")).foldLeft(Counters())(_ + _)
      perModule.toMap ++
        all.metrics("spark").map { case (name, v) => name -> v / k } ++
        names.map(n => s"query.${n}_s" -> median(traced.toSeq.flatMap(_.get(n)))) +
        ("query.traced_total_s" -> median(traced.toSeq.map(_.values.sum)))
    }.getOrElse(Map.empty[String, Double])

    // the crawl-world and media exports some oracle SQL reads (`__EXPORT__`)
    attempted += 1
    try graft.queries.Exports.writeAll(spark, data, results.getAbsolutePath)
    catch {
      case e: Throwable =>
        failed += 1
        errors += s"exports: $e"
    }
    Files.writeString(new File(s"$scratch/oracle_sql.json").toPath,
      toJson(names.flatMap(n => SparkEntry.oracleSql.get(n).map(sql =>
        n -> sql.replace("__EXPORT__", results.getAbsolutePath))).toMap))
    spark.stop()

    emit(Map(
      "setup_s" -> setupSec,
      "passes" -> untraced.toSeq,
      "modules" -> names.map(n => n -> module(n)).toMap,
      "peak_rss_mb" -> peakRssMb,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq,
      "layer" -> layer))
  }
}
