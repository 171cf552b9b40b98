package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Settings of one run, passed by `perfbench/run.py`. */
final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, out: String, cores: Int, offHeapMb: Long)

/** Shared plumbing of a run: the session, the trace, the outcome and the
  * run's scratch directory. */
final class Ctx(val spark: SparkSession, val conf: Conf, val trace: Trace) {
  val out = new Outcome
  def dir(name: String): String = s"${conf.work}/$name"
  def seed: Long = conf.seed

  def delete(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
}

/** One workload: inputs made from the seed, a set-up that builds the
  * starting state (timed, repeated), then a closed loop over a fixed number
  * of operations sized from `seconds`. */
abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  protected def trace: Trace = ctx.trace
  protected def out: Outcome = ctx.out

  /** Number of times set-up runs; `setup_s` is the median. */
  def setups: Int = 3

  /** Writes the generated input files (not timed). */
  def prepare(): Unit

  /** Builds starting state number `i`; the last one is measured. */
  def setup(i: Int): Unit

  /** Untimed warm-up after set-up. */
  def warm(): Unit = ()

  /** Nominal operations per second on a 4-core host. */
  def perSecond: Double

  /** Operations the closed loop runs: the same for a given `seconds` on
    * every commit, so a faster engine finishes the same work sooner and
    * the measured state (table size, maintenance cycles) does not depend
    * on speed. */
  lazy val planned: Int = math.max(1, math.round(ctx.conf.seconds * perSecond).toInt)

  /** The closed loop over [[planned]] operations. */
  def loop(): Unit

  /** Checks outputs against the independent reference. */
  def verify(): Unit

  /** Per-layer metrics from the trace (traced runs only). */
  def layers(): Unit

  // --- measurement, filled by loop()
  /** Latencies of the workload's request-level operation, ms. */
  val latMs = scala.collection.mutable.ArrayBuffer[Double]()
  /** Items of work completed (events, rows served, input rows). */
  var items = 0L
  /** Measured wall and process-CPU time, ms. */
  var busyMs = 0.0
  var busyCpuMs = 0.0

  /** Runs `f` as measured time: its wall and CPU time count. */
  protected def measured[T](f: => T): T = {
    val (t0, c0) = (Clock.nowMs, Host.cpuMs)
    try f finally { busyMs += Clock.nowMs - t0; busyCpuMs += Host.cpuMs - c0 }
  }

  /** An operation of the closed loop; an exception counts as a failure and
    * ends the loop loudly. */
  protected def op[T](f: => T): T = {
    out.attempted += 1
    try f
    catch {
      case e: Throwable =>
        out.failed += 1
        out.problems += s"operation failed: $e"
        throw e
    }
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val conf = Conf(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      a("work"), a("out"), a("cores").toInt, a("offheap-mb").toLong)
    Files.createDirectories(Paths.get(conf.out))
    val spark = session(conf)
    val ctx = new Ctx(spark, conf, new Trace(conf.trace, spark.sparkContext))
    val w: Workload = conf.workload match {
      case "mor_bulk_tail" => new MorBulkTail(ctx)
      case "cow_trickle_stream" => new CowTrickleStream(ctx)
      case "read_serve" => new ReadServe(ctx)
      case "operator_suite" => new OperatorSuite(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ok = try { run(w); true } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.out.problems += s"run aborted: $e"
        false
    }
    write(conf, ctx, ok)
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  private def session(c: Conf): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName(s"perfbench-${c.workload}")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "100000000")
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", s"${c.offHeapMb}m")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .config("spark.ui.enabled", "false")
    if (c.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def run(w: Workload): Unit = {
    val ctx = w.ctx
    val out = ctx.out
    val tPrep = Clock.nowMs
    w.prepare()
    Clock.log("prepare done")
    out.detail("prepare_s") = (Clock.nowMs - tPrep) / 1e3
    val setupMs = (0 until w.setups).map { i =>
      val t0 = Clock.nowMs
      w.setup(i)
      Clock.log(s"setup $i done")
      Clock.nowMs - t0
    }
    val tWarm = Clock.nowMs
    w.warm()
    Clock.log("warm done")
    out.detail("warm_s") = (Clock.nowMs - tWarm) / 1e3
    val (steal0, total0) = Host.stealTicks
    val wall0 = Clock.nowMs
    w.loop()
    val wallMs = Clock.nowMs - wall0
    Clock.log("loop done")
    val (steal1, total1) = Host.stealTicks
    val tVerify = Clock.nowMs
    w.verify()
    Clock.log("verify done")
    out.detail("verify_s") = (Clock.nowMs - tVerify) / 1e3

    val (tail, tailPct) = Stats.tail(w.latMs.toSeq)
    out.e2e("setup_s") = Stats.median(setupMs) / 1e3
    out.e2e("throughput_per_s") = w.items / (w.busyMs / 1e3)
    out.e2e("cpu_ms_per_kitem") = w.busyCpuMs / (w.items / 1e3)
    out.e2e("op_p50_ms") = Stats.median(w.latMs.toSeq)
    out.e2e("op_tail_ms") = tail
    val stealPct = if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0
    val cpuUtil = w.busyCpuMs / (w.busyMs * ctx.conf.cores)
    out.detail ++= Seq(
      "setup_s_each" -> setupMs.map(_ / 1e3),
      "planned_ops" -> w.planned,
      "ops" -> w.latMs.size,
      "op_latencies_ms" -> w.latMs.map(x => math.round(x * 10) / 10.0),
      "op_tail_percentile" -> tailPct,
      "op_max_ms" -> (if (w.latMs.isEmpty) 0.0 else w.latMs.max),
      "peak_rss_mb" -> Host.peakRssMb,
      "items" -> w.items,
      "measured_s" -> w.busyMs / 1e3,
      "window_wall_s" -> wallMs / 1e3,
      "host_steal_pct" -> stealPct,
      "host_cpu_util" -> cpuUtil)
    if (ctx.conf.trace) {
      ctx.trace.drain(ctx.spark)
      w.layers()
      out.layer("host.steal_pct") = stealPct
      out.layer("host.cpu_util") = cpuUtil
      out.layer("host.peak_rss_mb") = Host.peakRssMb
      val lines = Trace.spanLines(ctx.trace)
      Files.write(Paths.get(ctx.conf.out, "spans.jsonl"), (lines.mkString("\n") + "\n").getBytes(UTF_8))
      val summary = Trace.summary(ctx.trace) ++ Map("layer_metrics" -> out.layer.toMap,
        "end_to_end_traced" -> out.e2e.toMap)
      Files.write(Paths.get(ctx.conf.out, "summary.json"), json(summary).getBytes(UTF_8))
    }
  }

  def json(v: Any): String = {
    implicit val f: org.json4s.Formats = org.json4s.DefaultFormats
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])
  }

  private def write(c: Conf, ctx: Ctx, ok: Boolean): Unit = {
    val o = ctx.out
    val doc = Map(
      "workload" -> c.workload, "seed" -> c.seed, "seconds" -> c.seconds, "trace" -> c.trace,
      "completed" -> ok, "attempted" -> o.attempted, "failed" -> o.failed,
      "problems" -> o.problems.toSeq,
      "end_to_end" -> o.e2e.toMap, "per_layer" -> o.layer.toMap, "detail" -> o.detail.toMap)
    Files.write(Paths.get(c.out, "result.json"), json(doc).getBytes(UTF_8))
  }
}
