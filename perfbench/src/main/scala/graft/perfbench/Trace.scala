package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftListenerBridge, SparkContext}
import org.apache.spark.scheduler._

/** Spark work done by a set of stages. */
final case class Counters(
    stages: Long = 0, tasks: Long = 0, taskMs: Long = 0, cpuMs: Long = 0,
    gcMs: Long = 0, shuffleWrite: Long = 0, shuffleRead: Long = 0,
    spill: Long = 0, output: Long = 0) {
  def +(o: Counters): Counters = Counters(stages + o.stages, tasks + o.tasks,
    taskMs + o.taskMs, cpuMs + o.cpuMs, gcMs + o.gcMs,
    shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
    spill + o.spill, output + o.output)
  def fields: Map[String, Long] = Map(
    "stages" -> stages, "tasks" -> tasks, "task_ms" -> taskMs, "cpu_ms" -> cpuMs,
    "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
    "output_bytes" -> output)
  def metrics(prefix: String): Map[String, Double] =
    fields.map { case (k, v) => s"$prefix.$k" -> v.toDouble }
}

final case class StageRec(submitMs: Long, c: Counters)
final case class JobRec(id: Int, startMs: Long, endMs: Long)

/** Records every completed stage and job of a SparkContext. */
final class StageLog extends SparkListener {
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val c =
      if (m == null) Counters(stages = 1, tasks = si.numTasks)
      else Counters(1, si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
    stages.add(StageRec(si.submissionTime.getOrElse(0L), c))
  }
  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.add(JobRec(e.jobId, jobStarts.getOrDefault(e.jobId, e.time), e.time))
}

final case class TraceSpan(id: Int, parent: Int, name: String,
                           startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def sec: Double = (endNs - startNs) / 1e9
}

/** In-memory spans around the benchmark's calls into the engine, plus the
  * Spark stages each span caused (a stage belongs to the innermost span open
  * when it was submitted). Nothing is written until [[dumpJson]]. */
final class Tracer(first: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[TraceSpan]
  private var open: List[Int] = Nil
  private var nextId = 0
  private val logs = mutable.ArrayBuffer.empty[StageLog]
  private var sc: SparkContext = _
  attach(first)

  /** Follows the work into a new SparkContext (a resumed session). */
  def attach(context: SparkContext): Unit = if (context ne sc) {
    sc = context
    val log = new StageLog
    logs += log
    sc.addSparkListener(log)
  }

  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val ms0 = System.currentTimeMillis()
    val ns0 = System.nanoTime()
    try f
    finally {
      val ns1 = System.nanoTime()
      done += TraceSpan(id, parent, name, ms0, System.currentTimeMillis(), ns0, ns1)
      open = open.tail
    }
  }

  /** Blocks until every queued listener event has been delivered. */
  def drain(): Unit = if (!sc.isStopped) GraftListenerBridge.waitListenerBusEmpty(sc, 60000L)

  def spans: Seq[TraceSpan] = done.toSeq.sortBy(_.id)

  /** Summed duration of every span with this name. */
  def total(name: String): Double = spans.filter(_.name == name).map(_.sec).sum

  def selfSec(s: TraceSpan): Double =
    s.sec - done.filter(_.parent == s.id).map(_.sec).sum

  private def depth(s: TraceSpan): Int = {
    val byId = done.map(x => x.id -> x).toMap
    Iterator.iterate(s.parent)(p => byId.get(p).map(_.parent).getOrElse(-1))
      .takeWhile(_ >= 0).size
  }

  /** Counters per span id, each stage charged to its innermost span. */
  def countersBySpan: Map[Int, Counters] = {
    drain()
    val withDepth = done.map(s => (s, depth(s))).toSeq
    val out = mutable.Map.empty[Int, Counters]
    for (log <- logs; st <- log.stages.asScala) {
      val owner = withDepth
        .filter { case (s, _) => s.startMs <= st.submitMs && st.submitMs <= s.endMs }
        .sortBy(-_._2).headOption.map(_._1.id)
      owner.foreach(id => out(id) = out.getOrElse(id, Counters()) + st.c)
    }
    out.toMap
  }

  /** Counters of every stage submitted inside spans with this name. */
  def counters(name: String): Counters = {
    val by = countersBySpan
    val ids = spans.filter(_.name == name).map(_.id).toSet
    // a span's own counters plus those of its descendants
    def under(id: Int): Boolean =
      ids.contains(id) || done.find(_.id == id).exists(s => s.parent >= 0 && under(s.parent))
    by.collect { case (id, c) if under(id) => c }.foldLeft(Counters())(_ + _)
  }

  /** End time (epoch ms) of the longest job started inside the span. */
  def longestJobEndMs(s: TraceSpan): Option[Long] = {
    val js = for (log <- logs; j <- log.jobs.asScala
                  if j.startMs >= s.startMs && j.startMs <= s.endMs) yield j
    js.maxByOption(j => j.endMs - j.startMs).map(_.endMs)
  }

  /** Every span with its self time and Spark counters, for the trace file. */
  def dump: Seq[Map[String, Any]] = {
    val by = countersBySpan
    spans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "sec" -> s.sec, "self_sec" -> selfSec(s),
        "spark" -> by.getOrElse(s.id, Counters()).fields)
    }
  }
}
