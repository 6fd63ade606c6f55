package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One timed operation. Times are `System.nanoTime` (latency) and epoch
  * ms (attribution of Spark events); `dueNs` is when the op was due,
  * which for a closed loop is its start.
  */
final case class Op(id: Int, kind: String, name: String, dueNs: Long,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long,
    error: Option[String])

/** What a workload sees of the run: the tracer and the op log. Traced,
  * each op also counts the files it left under `outputs` and the
  * collector time spent inside it. */
final class Ctx(val tracer: Tracer, outputs: => Seq[String]) {
  val ops = ArrayBuffer.empty[Op]
  private def files() = outputs.flatMap(Host.treeFiles).toSet

  /** A full collection between ops, as graft.Bench does, keeps one op's
    * garbage out of the next one's latency. What it leaves is the heap
    * the driver retains; its largest value is the run's peak_heap_mb. */
  def settle(): Unit = {
    System.gc()
    retainedMb = math.max(retainedMb, Host.heapUsedMb())
  }
  var retainedMb = 0.0

  /** Run `body` as one op of `kind`. A throw is recorded, never fatal:
    * the op is marked failed and the run goes on. */
  def op(kind: String, name: String, dueNs: Long)(body: => Unit): Op = {
    val id = ops.size
    tracer.op = id
    val before = if (tracer.enabled) files() else Set.empty[String]
    val gc0 = Host.gcMs()
    val s = System.nanoTime()
    val sMs = System.currentTimeMillis()
    val err =
      try { tracer(s"op.$kind")(body); None }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $kind $name failed: $e")
        Some(e.toString)
      }
    val o = Op(id, kind, name, dueNs, s, System.nanoTime(), sMs,
      System.currentTimeMillis(), err)
    ops += o
    System.err.println(f"[perfbench] $kind $name ${(o.endNs - s) / 1e6}%.0f ms")
    if (tracer.enabled) {
      tracer.count("jvm.gc_ms", (Host.gcMs() - gc0).toDouble)
      tracer.count("spark.output_files", (files() -- before).size.toDouble)
    }
    tracer.op = -1
    o
  }
}

/** A correctness check made after the timed window. `failsOps` names the
  * ops a failed check turns into failed ops (by op name). */
final case class Check(name: String, ok: Boolean, detail: String,
    failsOps: Seq[String] = Nil)

trait Workload {
  /** Load inputs and warm up; also leaves whatever the Python side needs
    * for its own correctness check. */
  def setup(spark: SparkSession): Unit
  def run(spark: SparkSession, ctx: Ctx): Unit
  def check(spark: SparkSession, ctx: Ctx): Seq[Check]
  /** Bytes of generated input the timed ops consumed. */
  def inputBytes: Long
  /** Bytes of generated input behind what is live under `roots`. */
  def liveInputBytes: Long = inputBytes
  /** Directories the timed ops write under. */
  def roots: Seq[String]
  /** Per-layer counts computed outside the timed window (traced run). */
  def traceExtras(spark: SparkSession, ctx: Ctx): Map[String, Double] =
    Map.empty
  /** Extra facts for the artifact (digests, schedule). */
  def facts: Map[String, String] = Map.empty
}

/** The benchmark's JVM entry point. Python (`perfbench/run.py`) builds
  * the classes, generates the inputs and calls:
  *
  *   graft.perfbench.Main <workload> <inputs> <work> <seed> <seconds>
  *     <trace 0|1> <cores> <out.json> [<batches> <interval_ms>
  *     <compact_every>]
  *
  * The last three set the `arrival` schedule.
  *
  * It writes one JSON document to `out.json`: the op log, set-up times,
  * I/O and heap figures, correctness checks, host context and — traced —
  * the per-layer metrics and spans.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, seedS, secondsS, traceS, coresS,
      out) = args.take(8)
    val seed = seedS.toLong
    val cores = coresS.toInt
    val seconds = secondsS.toInt
    val tracer = new Tracer(traceS == "1")
    val load0 = Host.loadAvg()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val wl: Workload = workload match {
      case "warehouse" => new Warehouse(inputs, work, seed, seconds, tracer)
      case "arrival" => new Arrival(inputs, work, args(8).toInt,
        args(9).toLong, args(10).toInt, tracer)
    }
    val ctx = new Ctx(tracer, wl.roots)

    // set-up: JVM start (class loading) to the first timed op, through
    // the session build and the workload's warm-up
    val s0 = System.nanoTime()
    val spark = GraftSession.local(cores, timeZone = Some("UTC"),
      appName = "perfbench")
    val sessionMs = (System.nanoTime() - s0) / 1e6
    wl.setup(spark)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(s"[perfbench] set-up $setupS s")

    val probe = new SparkProbe
    if (tracer.enabled) probe.register(spark)
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
    System.gc()
    heap.foreach(_.resetPeakUsage())
    val gc0 = Host.gcMs()
    val w0 = Host.bytesWritten()
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis()

    wl.run(spark, ctx)

    ctx.settle()
    val windowS = (System.nanoTime() - t0) / 1e9
    val written = Host.bytesWritten() - w0
    val gcWindowMs = Host.gcMs() - gc0
    val poolPeaks = heap.map(p => p.getName -> p.getPeakUsage.getUsed / 1048576.0)
    val heapAfterGc = heap.flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed).sum / 1048576.0
    val live = wl.roots.map(Host.treeBytes).sum

    val checks = wl.check(spark, ctx)
    val extras = if (tracer.enabled) wl.traceExtras(spark, ctx) else Map.empty
    val calib = Host.calibrate(cores)
    spark.stop()

    val primary = ctx.ops.filter(o => o.kind != "read").toSeq
    val layers: Map[String, Double] =
      if (!tracer.enabled) Map.empty
      else {
        val n = math.max(1, primary.size)
        val sparkLayer = primary.map(o => probe.perOp(o.startMs, o.endMs))
          .foldLeft(Map.empty[String, Double]) { (acc, m) =>
            m.foldLeft(acc) { case (a, (k, v)) => a.updated(k,
              if (k == "spark.task_skew") math.max(a.getOrElse(k, 0.0), v)
              else a.getOrElse(k, 0.0) + v) }
          }.map { case (k, v) => k -> (if (k == "spark.task_skew") v else v / n) }
        val self = tracer.selfNs
        val spanMs = tracer.all.filter(_.op >= 0).groupBy(_.name)
          .map { case (k, ss) =>
            s"${k}_ms" -> ss.map(s => self(s.id)).sum / 1e6 / n }
        def epochMs(ns: Long) = t0Ms + (ns - t0) / 1000000L
        val applies = tracer.all.filter(_.name == "flows.TrainingCorpus.apply_batch")
          .filter(_.op >= 0)
        val jobsPerBatch = Map("flows.TrainingCorpus.jobs_per_batch" ->
          applies.map(s => probe.perOp(epochMs(s.startNs), epochMs(s.endNs))(
            "spark.jobs")).sum / math.max(1, applies.size))
        sparkLayer ++ spanMs ++ jobsPerBatch ++
          tracer.counts.map { case (k, v) => k -> v / n } ++ extras ++ Map(
            "jvm.heap_after_gc_mb" -> heapAfterGc,
            "GraftSession.start_ms" -> sessionMs)
      }

    val load1 = Host.loadAvg()
    val j = new Json
    j.obj {
      j.field("workload", workload); j.field("seed", seed)
      j.field("trace", tracer.enabled)
      j.field("setup_s", setupS); j.field("session_ms", sessionMs)
      j.field("window_s", windowS)
      j.field("input_bytes", wl.inputBytes.toDouble)
      j.field("live_input_bytes", wl.liveInputBytes.toDouble)
      j.field("bytes_written", written.toDouble)
      j.field("live_bytes", live.toDouble)
      j.field("peak_heap_mb", ctx.retainedMb)
      j.field("gc_ms", gcWindowMs.toDouble)
      j.key("pool_peak_mb"); j.obj(poolPeaks.foreach { case (k, v) => j.field(k, v) })
      j.key("host"); j.obj {
        j.field("nproc", Runtime.getRuntime.availableProcessors.toDouble)
        j.field("spark_cores", cores.toDouble)
        j.field("driver_heap_mb", Runtime.getRuntime.maxMemory / 1048576.0)
        j.field("load_avg_start", load0); j.field("load_avg_end", load1)
        j.field("calib_sec", calib)
        j.field("calib_ref_sec", graft.Bench.CalibRefSec)
        j.field("host_factor", calib / graft.Bench.CalibRefSec)
      }
      j.key("facts"); j.obj { wl.facts.foreach { case (k, v) => j.field(k, v) } }
      j.key("checks"); j.arr(checks) { c => j.obj {
        j.field("name", c.name); j.field("ok", c.ok)
        j.field("detail", c.detail); j.field("fails_ops", c.failsOps)
      } }
      j.key("ops"); j.arr(ctx.ops.toSeq) { o => j.obj {
        j.field("kind", o.kind); j.field("name", o.name)
        j.field("due_ms", (o.dueNs - t0) / 1e6)
        j.field("start_ms", (o.startNs - t0) / 1e6)
        j.field("end_ms", (o.endNs - t0) / 1e6)
        o.error.foreach(e => j.field("error", e))
      } }
      j.key("layers"); j.obj {
        layers.toSeq.sortBy(_._1).foreach { case (k, v) => j.field(k, v) }
      }
      j.key("spans"); j.arr(tracer.all) { s => j.obj {
        j.field("id", s.id.toDouble); j.field("name", s.name)
        j.field("start_ms", (s.startNs - t0) / 1e6)
        j.field("end_ms", (s.endNs - t0) / 1e6)
        j.field("parent", s.parent.toDouble); j.field("op", s.op.toDouble)
      } }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), j.result)
  }
}

/** Host context and engine-free I/O counters. */
object Host {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Bytes written through Hadoop's local file system since JVM start:
    * every lake, state and index write of the engine goes through it. */
  def bytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def treeBytes(root: String): Long = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val st = java.nio.file.Files.walk(p)
      try st.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally st.close()
    }
  }

  def treeFiles(root: String): Set[String] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Set.empty
    else {
      val st = java.nio.file.Files.walk(p)
      try st.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(_.toString).toSet
      finally st.close()
    }
  }

  /** The host-speed probe graft.Bench takes: `threads` threads × 2^27
    * xorshift64 steps, one untimed rep, median of five. */
  def calibrate(threads: Int): Double = {
    val blackhole = new java.util.concurrent.atomic.AtomicLong(0L)
    def rep(): Double = {
      val t0 = System.nanoTime()
      val ts = (1 to threads).map { t =>
        new Thread(() => {
          var x = 0x9E3779B97F4A7C15L + t
          var s = 0L
          var i = 0
          while (i < (1 << 27)) {
            x ^= x << 13; x ^= x >>> 7; x ^= x << 17; s += x
            i += 1
          }
          blackhole.addAndGet(s)
          ()
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    rep()
    val reps = (1 to 5).map(_ => rep()).sorted
    reps(2)
  }
}

/** Minimal JSON writer for the artifact. */
final class Json {
  private val sb = new StringBuilder
  private var first = true
  private def sep(): Unit = { if (!first) sb.append(','); first = false }
  private def str(s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
  private def num(d: Double): Unit =
    sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
  def key(k: String): Unit = { sep(); str(k); sb.append(':'); first = true }
  def obj(body: => Unit): Unit = {
    if (!first) sb.append(',')
    sb.append('{'); first = true; body; sb.append('}'); first = false
  }
  def arr[A](xs: Seq[A])(f: A => Unit): Unit = {
    sb.append('['); first = true; xs.foreach(f); sb.append(']'); first = false
  }
  def field(k: String, v: String): Unit = { key(k); str(v); first = false }
  def field(k: String, v: Double): Unit = { key(k); num(v); first = false }
  def field(k: String, v: Long): Unit = field(k, v.toDouble)
  def field(k: String, v: Boolean): Unit = {
    key(k); sb.append(v.toString); first = false
  }
  def field(k: String, v: Seq[_]): Unit = {
    key(k); sb.append('['); first = true
    v.foreach {
      case d: Double => sep(); num(d)
      case x => sep(); str(x.toString)
    }
    sb.append(']'); first = false
  }
  def result: String = sb.toString
}
