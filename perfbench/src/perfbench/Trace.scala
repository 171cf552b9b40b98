package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, LocalFileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Epoch milliseconds with nanosecond resolution: Spark's listener events
  * carry epoch-millisecond times, spans are measured with `nanoTime`, and
  * both must sit on one axis for self-time arithmetic. */
object Clock {
  /** Progress line on stderr, with seconds since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(nowMs - epoch0) / 1e3}%8.2fs $msg")

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Process and host counters read from the JVM and `/proc`. */
object Host {
  private lazy val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuMs: Double = os.getProcessCpuTime / 1e6

  /** (steal ticks, total ticks) of the aggregate `cpu` line of /proc/stat. */
  def stealTicks: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      }.getOrElse((0L, 0L))
    } finally src.close()
  }

  /** Peak resident set size of this process (VmHWM), MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try {
      src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    } finally src.close()
  }
}

/** The local filesystem with a count of metadata-file opens (paths under a
  * table's `meta/` directory). Installed as `fs.file.impl` in traced runs
  * only, so the lake layer's manifest and snapshot reads are counted where
  * they happen without touching the engine. */
class CountingFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.toString.contains("/meta/")) CountingFileSystem.metaOpens.incrementAndGet()
    CountingFileSystem.unbridgeCallSite()
    super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFileSystem.unbridgeCallSite()
    super.listStatus(f)
  }
}

object CountingFileSystem {
  val metaOpens = new AtomicLong()

  /** A Structured Streaming query thread pins its jobs' call site to the
    * one captured when the query started, which hides the engine frames of
    * every `foreachBatch` job. The file source lists its directory on that
    * thread before each batch, so clearing the pinned call site there lets
    * the batch's jobs report their real stack. */
  private val unbridged = new ThreadLocal[java.lang.Boolean]
  def unbridgeCallSite(): Unit =
    if (unbridged.get == null && Thread.currentThread.getName.startsWith("stream execution thread")) {
      unbridged.set(true)
      val sc = SparkContext.getOrCreate()
      locally {
        sc.setLocalProperty("callSite.short", null)
        sc.setLocalProperty("callSite.long", null)
      }
    }
}

/** One timed interval of the benchmark's own code, around a call into the
  * engine's public API. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    thread: String, startMs: Double, endMs: Double, metaOpens: Long) {
  def durMs: Double = endMs - startMs
}

/** Aggregated task metrics of one Spark job. */
final class JobRec(val id: Int, val startMs: Double, val span: Long, val batch: Long,
    val frames: Seq[(String, String)]) {
  @volatile var endMs: Double = startMs
  @volatile var ended = false
  var runMs = 0.0
  var cpuMs = 0.0
  var gcMs = 0.0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def durMs: Double = endMs - startMs

  /** Layer of the innermost `graft` frame of the job's call site. */
  val layer: String = frames.headOption.map(f => Layers.of(f._1, f._2)).getOrElse("")

  /** The innermost layer that is not the storage layer: a Parquet write
    * issued by `LakeTable` on behalf of `Merge` is merge work. */
  val owner: String = frames.map(f => Layers.of(f._1, f._2)).find(_ != "lake")
    .getOrElse(layer)

  def has(file: String): Boolean = frames.exists(_._2 == file)

  /** Jobs of the pipeline's background maintenance thread (compaction,
    * lineage roll-up) belong to no benchmark span: that thread inherited a
    * stale span property when it was created. */
  val background: Boolean = frames.exists(_._1.startsWith("graft.cdc.CdcPipeline$$anon"))
}

object Layers {
  private val Frame = """(graft\.[\w.$]+)\.[\w$<>]+\(([\w]+\.scala)""".r

  /** `graft` frames of a long call site, innermost first, as (class, file). */
  def frames(callSite: String): Seq[(String, String)] =
    Frame.findAllMatchIn(callSite).map(m => (m.group(1), m.group(2))).toSeq

  def of(cls: String, file: String): String =
    if (cls.startsWith("graft.cdc.")) file match {
      case "Merge.scala" => "merge"
      case "Pipeline.scala" => "pipeline"
      case "Compaction.scala" => "compaction"
      case "Feed.scala" => "feed"
      case _ => "cdc"
    }
    else if (cls.startsWith("graft.lake.")) "lake"
    else if (cls.startsWith("graft.streaming.")) "streaming"
    else if (cls.startsWith("graft.operators.")) "operators"
    else if (cls.startsWith("graft.functions.")) "functions"
    else if (cls.startsWith("graft.model.")) "model"
    else "graft"
}

/** Collects every Spark job with its call-site frames, the benchmark span
  * that submitted it (the `perfbench.span` local property) and its stages'
  * task metrics. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execFrames = new ConcurrentHashMap[Long, Seq[(String, String)]]()

  private def prop(e: SparkListenerJobStart, k: String): Option[String] =
    Option(e.properties).flatMap(p => Option(p.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // AQE submits most of a query's jobs from a pool thread whose stack holds
    // no engine frame; the SQL execution's start event carries the call site
    // of the thread that ran the action
    val fromExec = prop(e, "spark.sql.execution.id").map(_.toLong)
      .flatMap(id => Option(execFrames.get(id))).filter(_.nonEmpty)
    val frames = fromExec.getOrElse(Layers.frames(
      e.stageInfos.map(_.details).find(_.contains("graft.")).getOrElse("")))
    val rec = new JobRec(e.jobId, e.time.toDouble,
      prop(e, Trace.SpanProp).map(_.toLong).getOrElse(-1L),
      prop(e, "streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      frames)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execFrames.put(s.executionId, Layers.frames(s.details))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j => j.endMs = e.time.toDouble; j.ended = true }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    for (jid <- Option(stageJob.get(si.stageId)); job <- Option(jobs.get(jid))) {
      val m = si.taskMetrics
      if (m != null) job.synchronized {
        job.runMs += m.executorRunTime
        job.cpuMs += m.executorCpuTime / 1e6
        job.gcMs += m.jvmGCTime
        job.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        job.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Span recorder. With tracing off, `timed` only measures wall time, so the
  * untraced run does the same work as the traced one minus the bookkeeping. */
final class Trace(val enabled: Boolean, sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  val listener: JobListener = if (enabled) new JobListener else null
  if (enabled) sc.addSparkListener(listener)

  /** Runs `f`, returning its result and wall milliseconds. */
  def timed[T](name: String, layer: String)(f: => T): (T, Double) = {
    val t0 = Clock.nowMs
    if (!enabled) { val r = f; return (r, Clock.nowMs - t0) }
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    val prev = sc.getLocalProperty(Trace.SpanProp)
    val opens0 = CountingFileSystem.metaOpens.get()
    sc.setLocalProperty(Trace.SpanProp, id.toString)
    stack.set(id :: stack.get)
    try {
      val r = f
      (r, Clock.nowMs - t0)
    } finally {
      val t1 = Clock.nowMs
      stack.set(stack.get.tail)
      sc.setLocalProperty(Trace.SpanProp, prev)
      spans.add(Span(id, parent, name, layer, Thread.currentThread.getName, t0, t1,
        CountingFileSystem.metaOpens.get() - opens0))
    }
  }

  def span[T](name: String, layer: String)(f: => T): T = timed(name, layer)(f)._1

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)

  /** Blocks until the listener has seen every job submitted so far: the
    * listener bus is FIFO, so once a marker job's end arrives, all earlier
    * events have been delivered. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    spark.range(1).count()
    val marker = sc.statusTracker.getJobIdsForGroup(null).max
    val deadline = System.currentTimeMillis() + 30000
    while (!Option(listener.jobs.get(marker)).exists(_.ended) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }

  def jobs: Seq[JobRec] =
    if (enabled) listener.jobs.values.asScala.toSeq.sortBy(_.id) else Nil

  /** Jobs a span caused itself (background maintenance excluded). */
  def jobsOf(s: Span): Seq[JobRec] = jobs.filter(j => j.span == s.id && !j.background)

  /** Span duration minus the part covered by its child spans and jobs. */
  def selfMs(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)) ++
      jobsOf(s).map(j => (j.startMs, j.endMs))
    s.durMs - Trace.coveredMs(kids, s.startMs, s.endMs)
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def coveredMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: (Double, Double) = null
    clipped.foreach { case (a, b) =>
      if (cur == null) cur = (a, b)
      else if (a <= cur._2) cur = (cur._1, math.max(cur._2, b))
      else { total += cur._2 - cur._1; cur = (a, b) }
    }
    if (cur != null) total += cur._2 - cur._1
    total
  }

  /** Per-layer roll-up of jobs and spans for the summary file. */
  def summary(t: Trace): Map[String, Any] = {
    val all = t.allSpans
    val jobsByLayer = t.jobs.groupBy(j => if (j.owner.nonEmpty) j.owner else {
      all.find(_.id == j.span).map(_.layer).getOrElse("benchmark")
    })
    val jobPart = jobsByLayer.map { case (layer, js) =>
      layer -> Map(
        "jobs" -> js.size,
        "job_s" -> js.map(_.durMs).sum / 1e3,
        "busy_s" -> coveredMs(js.map(j => (j.startMs, j.endMs)), Double.MinValue, Double.MaxValue) / 1e3,
        "task_run_s" -> js.map(_.runMs).sum / 1e3,
        "cpu_s" -> js.map(_.cpuMs).sum / 1e3,
        "gc_s" -> js.map(_.gcMs).sum / 1e3,
        "shuffle_write_bytes" -> js.map(_.shuffleWriteBytes).sum,
        "spill_bytes" -> js.map(_.spillBytes).sum)
    }
    val spanPart = all.groupBy(_.name).map { case (name, ss) =>
      name -> Map(
        "count" -> ss.size,
        "total_s" -> ss.map(_.durMs).sum / 1e3,
        "self_s" -> ss.map(s => t.selfMs(s, all)).sum / 1e3,
        "meta_opens" -> ss.map(_.metaOpens).sum)
    }
    Map("jobs_by_layer" -> jobPart, "spans_by_name" -> spanPart,
      "jobs_total" -> t.jobs.size,
      "jobs_without_graft_frame" -> t.jobs.count(_.frames.isEmpty))
  }

  /** Spans and jobs as JSON lines, one record per line. */
  def spanLines(t: Trace): Seq[String] = {
    import org.json4s.jackson.Serialization
    implicit val f: org.json4s.Formats = org.json4s.DefaultFormats
    t.allSpans.map(s => Serialization.write(Map("kind" -> "span", "id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer, "thread" -> s.thread,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "meta_opens" -> s.metaOpens))) ++
    t.jobs.map(j => Serialization.write(Map("kind" -> "job", "id" -> j.id,
      "parent" -> (if (j.background) -1L else j.span), "batch" -> j.batch,
      "layer" -> j.layer, "owner" -> j.owner, "background" -> j.background,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs, "task_run_ms" -> j.runMs,
      "cpu_ms" -> j.cpuMs, "gc_ms" -> j.gcMs, "shuffle_write_bytes" -> j.shuffleWriteBytes,
      "spill_bytes" -> j.spillBytes,
      "frames" -> j.frames.take(8).map(f => s"${f._1}(${f._2})"))))
  }
}

/** Order statistics used for every reported latency. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile at or above the median with at least ten
    * samples beyond it, and the percentile it stands at: the 11th largest
    * sample once there are 21 or more. With fewer samples no percentile
    * above the median has ten beyond it, and the median is reported. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size < 21) (median(xs), 50.0)
    else {
      val s = xs.sorted
      (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
    }
}

/** Mutable outcome of one run: e2e metrics, per-layer metrics, details and
  * the operation/failure counts. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer[String]()
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val detail = mutable.LinkedHashMap[String, Any]()

  /** A correctness check: a mismatch counts as a failure and is reported. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failed += 1; problems += what; System.err.println(s"[perfbench] MISMATCH: $what") }
}
