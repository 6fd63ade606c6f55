package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed span: a call into a layer, made from the benchmark's code.
  * Times are `System.nanoTime`; `parent` is -1 for a root span.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, op: Int)

/** In-memory span recorder. Disabled, it runs the body and records
  * nothing, so the untraced run pays one branch per call site.
  * The benchmark drives every layer from one thread, so a plain stack
  * gives each span its parent.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val counters = scala.collection.mutable.Map.empty[String, Double]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, t0, System.nanoTime(), parent, op)
      }
    }

  /** A count made at a layer boundary (files, bytes, pairs). */
  def count(name: String, v: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v

  def all: Seq[Span] = spans.toSeq
  def counts: Map[String, Double] = counters.toMap

  /** Span duration minus the part of it that its children cover. */
  def selfNs: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
        .sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      cs.foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += curE - curS
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }
}

/** Spark-side probe for the traced run: a SparkListener for jobs, stages
  * and tasks plus a QueryExecutionListener for planning phases. Events
  * are only buffered here; [[SparkProbe.perOp]] attributes them to ops by
  * wall-clock window once the listener bus has drained (after
  * `spark.stop()`), because ops run one at a time.
  */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, start: Long, var end: Long)
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, shWrite: Long, shRead: Long, spill: Long,
      fetchWaitMs: Long, inBytes: Long, outBytes: Long)
  final case class Stage(id: Int, submitted: Long, completed: Long)
  final case class Plan(start: Long, ms: Long)

  val jobs = ArrayBuffer.empty[Job]
  val tasks = ArrayBuffer.empty[Task]
  val stages = ArrayBuffer.empty[Stage]
  val plans = ArrayBuffer.empty[Plan]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, -1L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages += Stage(i.stageId, s, c)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.taskInfo.launchTime,
      e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled,
      m.shuffleReadMetrics.fetchWaitTime, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten)
  }
  private def planned(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) plans += Plan(ph.map(_.startTimeMs).min,
      ph.map(_.durationMs).sum)
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    planned(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    planned(qe)

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Spark-layer metrics of one op whose wall-clock window is
    * [t0, t1] (epoch ms). */
  def perOp(t0: Long, t1: Long): Map[String, Double] = synchronized {
    def in(t: Long) = t >= t0 && t <= t1
    val js = jobs.filter(j => in(j.start))
    val ts = tasks.filter(t => in(t.launch))
    val ss = stages.filter(s => in(s.submitted))
    // op wall covered by no running job
    val ivs = js.map(j => (math.max(j.start, t0),
      math.min(if (j.end < 0) t1 else j.end, t1))).sortBy(_._1)
    var covered = 0L
    var cs = Long.MinValue
    var ce = Long.MinValue
    ivs.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) covered += ce - cs
    // skew of the op's longest stage: max / median task run time
    val skew = ss.maxByOption(s => s.completed - s.submitted).map { s =>
      val rt = ts.filter(_.stage == s.id).map(t => (t.finish - t.launch)
        .toDouble).sorted
      if (rt.isEmpty) 1.0
      else {
        val med = rt(rt.size / 2)
        if (med <= 0) 1.0 else rt.last / med
      }
    }.getOrElse(1.0)
    Map(
      "spark.plan_ms" -> plans.filter(p => in(p.start)).map(_.ms).sum.toDouble,
      "spark.driver_gap_ms" -> (t1 - t0 - covered).toDouble,
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> ss.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.executor_run_ms" -> ts.map(_.runMs).sum.toDouble,
      "spark.executor_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "spark.executor_gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "spark.task_skew" -> skew,
      "spark.shuffle_write_bytes" -> ts.map(_.shWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> ts.map(_.shRead).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "spark.shuffle_fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum.toDouble,
      "spark.scan_bytes" -> ts.map(_.inBytes).sum.toDouble,
      "spark.output_bytes" -> ts.map(_.outBytes).sum.toDouble)
  }
}
