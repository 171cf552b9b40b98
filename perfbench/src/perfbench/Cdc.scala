package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

import graft.cdc.{CdcFeed, CdcPipeline, Compaction, Lineage, MergeStats}
import graft.lake.{DataFile, LakeTable}
import graft.model.{CdcModel, SyntheticEvents}
import graft.streaming.CdcStream

/** Independent last-writer-wins reference: plain Spark over the generated
  * events, ordered by (lsn, delete first, content). No engine code. */
object Reference {
  val Keys = Seq("repo", "path", "commit")
  val LiveCols = Seq("repo", "path", "commit", "lang", "content")

  /** One winning event per key, with `_del` = 1 for a delete. */
  def winners(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(Keys.map(col): _*)
      .orderBy(col("lsn").desc, col("_del").desc, coalesce(col("content"), lit("")).desc)
    ev.withColumn("_del", when(col("op") === "D", 1).otherwise(0))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  def live(ev: DataFrame): DataFrame =
    winners(ev).filter(col("_del") === 0).select(LiveCols.map(col): _*)

  /** Order-independent digest of a live state: row count and the sum of a
    * 64-bit hash of every column. */
  def digest(df: DataFrame): String = {
    val h = xxhash64(LiveCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val r = df.select(h.cast("decimal(38,0)").as("h")).agg(count(lit(1)), sum("h")).collect()(0)
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}"
  }
}

/** Per-layer metrics shared by the CDC workloads, computed after the loop
  * from the trace, the snapshots and the merge statistics. */
object CdcLayers {
  /** One applied batch: its span, its self time and the jobs it caused. */
  final case class Batch(durMs: Double, selfMs: Double, jobs: Seq[JobRec])

  def mergeAndPipeline(out: Outcome, batches: Seq[Batch]): Unit = {
    def perBatch(f: Batch => Double) = batches.map(f)
    val prepass = (b: Batch) => b.jobs.filter(_.layer == "merge")
    val write = (b: Batch) => b.jobs.filter(j => j.owner == "merge" && j.layer == "lake")
    val merge = (b: Batch) => b.jobs.filter(_.owner == "merge")
    out.layer("pipeline.apply_batch_s") = Stats.median(perBatch(_.durMs)) / 1e3
    out.layer("pipeline.driver_self_s") = Stats.median(perBatch(_.selfMs)) / 1e3
    out.layer("merge.prepass_job_s") = Stats.median(perBatch(prepass(_).map(_.durMs).sum)) / 1e3
    out.layer("merge.prepass_jobs") = Stats.mean(perBatch(prepass(_).size.toDouble))
    out.layer("merge.write_job_s") = Stats.median(perBatch(write(_).map(_.durMs).sum)) / 1e3
    out.layer("merge.write_cpu_s") = Stats.median(perBatch(write(_).map(_.cpuMs).sum)) / 1e3
    out.layer("merge.shuffle_write_bytes") =
      Stats.mean(perBatch(merge(_).map(_.shuffleWriteBytes.toDouble).sum))
    out.layer("merge.spill_bytes") = Stats.mean(perBatch(merge(_).map(_.spillBytes.toDouble).sum))
    out.layer("merge.gc_s") = Stats.mean(perBatch(merge(_).map(_.gcMs).sum)) / 1e3
  }

  /** Bucket and target-read figures from the merges' own statistics and
    * the snapshots they committed. */
  def mergeStats(out: Outcome, table: LakeTable, numBuckets: Int,
      merges: Seq[(Long, Long, Int, Int)] /* version, eventsIn, buckets, filesRewritten */): Unit = {
    val rowsRead = merges.map { case (v, _, _, _) =>
      val s = table.snapshot(v)
      if (s.parentVersion < 0) 0L
      else {
        val now = s.files.map(_.path).toSet
        table.snapshot(s.parentVersion).files.filterNot(f => now.contains(f.path)).map(_.rows).sum
      }
    }.sum
    out.layer("merge.buckets_touched_ratio") = Stats.mean(merges.map(_._3.toDouble)) / numBuckets
    out.layer("merge.files_rewritten") = Stats.mean(merges.map(_._4.toDouble))
    out.layer("merge.target_rows_read_per_event") = rowsRead.toDouble / math.max(1L, merges.map(_._2).sum)
  }

  /** Files and bytes each commit after `fromVersion` added, by version. */
  def added(table: LakeTable, fromVersion: Long): Seq[(Long, List[DataFile])] =
    (fromVersion + 1 to table.latestVersion).map { v =>
      val s = table.snapshot(v)
      val before =
        if (s.parentVersion < 0) Set.empty[String]
        else table.snapshot(s.parentVersion).files.map(_.path).toSet
      v -> s.files.filterNot(f => before.contains(f.path))
    }

  /** Layout and write-volume figures of `table` since `fromVersion`;
    * `ops` normalises the per-operation counts. */
  def lake(out: Outcome, table: LakeTable, fromVersion: Long, ops: Int, metaOpens: Long): Unit = {
    val adds = added(table, fromVersion)
    val last = table.snapshot(table.latestVersion)
    val bytesAdded = adds.flatMap(_._2).map(_.bytes).sum.toDouble
    out.layer("lake.manifest_reads") = metaOpens.toDouble / math.max(1, ops)
    out.layer("lake.files_added") = adds.map(_._2.size).sum.toDouble / math.max(1, ops)
    out.layer("lake.bytes_added") = bytesAdded / math.max(1, ops)
    out.layer("lake.live_files") = last.files.size
    out.layer("lake.max_files_per_bucket") =
      if (last.files.isEmpty) 0 else last.files.groupBy(_.bucket).values.map(_.size).max
    out.layer("lake.write_amp") = bytesAdded / math.max(1L, last.files.map(_.bytes).sum)
  }

  /** Compaction commits are the versions no merge committed. */
  def compaction(out: Outcome, t: Trace, table: LakeTable, fromVersion: Long,
      mergeVersions: Set[Long], drainMs: Double): Unit = {
    val compactions = added(table, fromVersion).filterNot(a => mergeVersions.contains(a._1))
    val jobs = t.jobs.filter(_.has("Compaction.scala"))
    out.layer("compaction.runs") = compactions.size
    out.layer("compaction.job_s") = jobs.map(_.durMs).sum / 1e3
    out.layer("compaction.cpu_s") = jobs.map(_.cpuMs).sum / 1e3
    out.layer("compaction.bytes_rewritten") = compactions.flatMap(_._2).map(_.bytes).sum.toDouble
    out.layer("compaction.drain_s") = drainMs / 1e3
  }
}

/** Sustained ingest: `CdcPipeline.replay` of an ordered synthetic stream
  * (hot-repo skew) into a merge-on-read table with auto-compaction and
  * lineage on. One replay call per batch of `batchEvents` events; the
  * measured window ends when background maintenance has drained. */
final class MorBulkTail(ctx: Ctx) extends Workload(ctx) {
  private val buckets = 8
  private val batchEvents = 8000L
  private val prefix = 1 // batches every set-up applies
  def perSecond: Double = 1.1
  private lazy val maxBatches = prefix + planned
  private val eventsDir = ctx.dir("mor-events")
  private var schema: StructType = _
  private var table: LakeTable = _
  private var pipeline: CdcPipeline = _
  private var next = prefix
  private var v0 = -1L
  private var opens0 = 0L
  private var opens1 = 0L
  private var drainMs = 0.0
  private val merges = ArrayBuffer[MergeStats]()

  def prepare(): Unit = {
    SyntheticEvents.generate(spark, batchEvents * maxBatches, seed = ctx.seed)
      .withColumn("b", floor(col("lsn") / batchEvents))
      .write.partitionBy("b").parquet(eventsDir)
    schema = spark.read.parquet(s"$eventsDir/b=0").schema
  }

  private def batch(i: Int): DataFrame = spark.read.schema(schema).parquet(s"$eventsDir/b=$i")

  def setup(i: Int): Unit = {
    if (table != null) ctx.delete(table.root)
    table = LakeTable(ctx.dir(s"mor-table-$i"))(spark)
    pipeline = new CdcPipeline(table, "mor", mergeOnRead = true, compactEveryFiles = 4,
      maxCompactBucketsPerRun = 4)
    pipeline.bootstrap(numBuckets = buckets)
    (0 until prefix).foreach(b => pipeline.replay(batch(b), 1, b.toLong))
    pipeline.awaitMaintenance()
  }

  def loop(): Unit = {
    v0 = table.latestVersion
    opens0 = CountingFileSystem.metaOpens.get()
    measured {
      while (next < maxBatches) {
        val df = batch(next)
        val (stats, ms) = op(trace.timed("pipeline.replay", "pipeline") {
          pipeline.replay(df, 1, next.toLong)
        })
        latMs += ms
        items += stats.map(_.eventsIn).sum
        merges ++= stats
        next += 1
      }
      drainMs = trace.timed("pipeline.awaitMaintenance", "compaction")(pipeline.awaitMaintenance())._2
    }
    opens1 = CountingFileSystem.metaOpens.get()
    out.detail("batch_events") = batchEvents
    out.detail("maintenance_drain_s") = drainMs / 1e3
  }

  def verify(): Unit = {
    val applied = (0 until next).map(b => s"$eventsDir/b=$b")
    val want = Reference.digest(Reference.live(spark.read.schema(schema).parquet(applied: _*)))
    val got = Reference.digest(CdcPipeline.liveState(table))
    out.check(got == want, s"live state digest $got != reference $want")
    out.check(items == (next - prefix) * batchEvents,
      s"events applied $items != events delivered ${(next - prefix) * batchEvents}")
    out.detail("live_digest") = got
  }

  def layers(): Unit = {
    val all = trace.allSpans
    val batches = all.filter(_.name == "pipeline.replay")
      .map(s => CdcLayers.Batch(s.durMs, trace.selfMs(s, all), trace.jobsOf(s)))
    CdcLayers.mergeAndPipeline(out, batches)
    CdcLayers.mergeStats(out, table, buckets,
      merges.toSeq.map(m => (m.committedVersion, m.eventsIn, m.bucketsTouched, m.filesRewritten)))
    CdcLayers.lake(out, table, v0, batches.size, opens1 - opens0)
    CdcLayers.compaction(out, trace, table, v0, merges.map(_.committedVersion).toSet, drainMs)
  }
}

/** The low-rate tail: a Structured Streaming file source (`CdcStream`,
  * `foreachBatch`, unordered delivery) over small event files applied to a
  * populated copy-on-write table. Closed loop: the next file lands when the
  * previous batch's progress event arrives. Each file touches a few keys,
  * so a minority of buckets; a share of its events is late (an LSN below
  * the base load) or redelivered (a copy of an earlier event). */
final class CowTrickleStream(ctx: Ctx) extends Workload(ctx) {
  private val buckets = 64
  private val baseEvents = 40000L
  private val nRepos = 200
  private val filesPerRepo = 100
  private val warmFiles = 3
  def perSecond: Double = 1.1
  private lazy val files = warmFiles + planned
  private val keysPerFile = 12
  private val eventsPerFile = 48
  private val lateShare = 0.1
  private val redeliverShare = 0.1
  private val baseDir = ctx.dir("cow-base")
  private val stageDir = ctx.dir("cow-stage")
  private val inbox = ctx.dir("cow-inbox")
  private var table: LakeTable = _
  private var query: StreamingQuery = _
  private var pipeline: CdcPipeline = _
  private var next = 0
  private var v0 = -1L
  private var opens0 = 0L
  private var opens1 = 0L
  private var drainMs = 0.0
  private val progress = new java.util.concurrent.LinkedBlockingQueue[StreamingQueryProgress]()
  private val seen = ArrayBuffer[StreamingQueryProgress]()

  def prepare(): Unit = {
    val base = SyntheticEvents.generate(spark, baseEvents, nRepos = nRepos,
      filesPerRepo = filesPerRepo, seed = ctx.seed)
    base.write.parquet(baseDir)
    // keys the trickle updates: a seeded sample of the base events' keys
    val pool = spark.read.parquet(baseDir)
      .filter(pmod(xxhash64(lit(ctx.seed), col("lsn")), lit(20L)) === 0)
      .select("repo", "path", "commit", "lang").collect().toIndexedSeq
    val rng = new java.util.Random(ctx.seed)
    var lsn = baseEvents
    val rows = ArrayBuffer[Row]()
    for (f <- 0 until files) {
      val keys = (0 until keysPerFile).map { k =>
        if (rng.nextDouble() < 0.85) {
          val r = pool(rng.nextInt(pool.size)); (r.getString(0), r.getString(1), r.getString(2), r.getString(3))
        } else (f"org/new-${rng.nextInt(nRepos)}%05d", s"src/new/File$f-$k.scala",
          java.lang.Long.toHexString(rng.nextLong()), "scala")
      }
      for (e <- 0 until eventsPerFile) {
        val r = rng.nextDouble()
        val row =
          if (r < redeliverShare && rows.nonEmpty) {
            val old = rows(rng.nextInt(rows.size))
            Row.fromSeq(old.toSeq.dropRight(1) :+ f)
          } else {
            val (repo, path, commit, lang) = keys(rng.nextInt(keys.size))
            val late = r < redeliverShare + lateShare
            val l = if (late) (rng.nextDouble() * baseEvents).toLong else { lsn += 1; lsn - 1 }
            val o = rng.nextDouble()
            val opc = if (o < 0.1) "D" else if (o < 0.2) "I" else "U"
            Row(l, opc, repo, path, commit, lang,
              if (opc == "D") "" else s"// trickle $f.$e ${if (late) "late" else "new"} #${ctx.seed}",
              new java.sql.Timestamp(1704067200000L + l * 1000), f)
          }
        rows += row
      }
    }
    val schema = CdcModel.eventSchema.add("f", "int")
    spark.createDataFrame(rows.asJava, schema).repartition(col("f"))
      .write.partitionBy("f").parquet(stageDir)
    Files.createDirectories(Paths.get(inbox))
  }

  /** The one Parquet file of trickle file `f`. */
  private def staged(f: Int): java.nio.file.Path =
    Files.list(Paths.get(stageDir, s"f=$f")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get

  def setup(i: Int): Unit = {
    if (table != null) ctx.delete(table.root)
    table = LakeTable(ctx.dir(s"cow-table-$i"))(spark)
    val base = new CdcPipeline(table, "base")
    base.bootstrap(numBuckets = buckets)
    base.applyBatch(spark.read.parquet(baseDir), 0L)
    base.awaitMaintenance()
  }

  private def deliver(f: Int): Unit =
    Files.move(staged(f), Paths.get(inbox, f"trickle-$f%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)

  /** Waits for the progress event of the batch that applied file `f`. */
  private def awaitBatch(f: Int): StreamingQueryProgress = {
    var p: StreamingQueryProgress = null
    while (p == null) {
      p = progress.poll(200, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (p == null && !query.isActive)
        throw new IllegalStateException(s"stream stopped before file $f: ${query.exception}")
      if (p != null && p.numInputRows == 0) p = null
    }
    seen += p
    p
  }

  override def warm(): Unit = {
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.put(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val (q, p) = CdcStream.startWithPipeline(spark, inbox, table, ctx.dir("cow-checkpoint"),
      "trickle", trigger = Trigger.ProcessingTime(0L), maxFilesPerTrigger = Some(1))
    query = q
    pipeline = p
    while (next < warmFiles) { deliver(next); awaitBatch(next); next += 1 }
    seen.clear()
  }

  def loop(): Unit = {
    v0 = table.latestVersion
    opens0 = CountingFileSystem.metaOpens.get()
    measured {
      while (next < files) {
        val f = next
        val (_, ms) = op(trace.timed("streaming.batch", "streaming") { deliver(f); awaitBatch(f) })
        latMs += ms
        items += eventsPerFile
        next += 1
      }
      query.stop()
      drainMs = trace.timed("pipeline.awaitMaintenance", "pipeline")(pipeline.awaitMaintenance())._2
    }
    opens1 = CountingFileSystem.metaOpens.get()
    out.detail("events_per_file") = eventsPerFile
  }

  def verify(): Unit = {
    val delivered = spark.read.schema(CdcModel.eventSchema).parquet(inbox)
    val want = Reference.digest(Reference.live(
      spark.read.schema(CdcModel.eventSchema).parquet(baseDir).unionByName(delivered)))
    val got = Reference.digest(CdcPipeline.liveState(table))
    out.check(got == want, s"live state digest $got != reference $want")
    out.detail("live_digest") = got
  }

  def layers(): Unit = {
    val jobs = trace.jobs
    val batches = seen.toSeq.map { p =>
      val add = p.durationMs.asScala.get("addBatch").map(_.toDouble).getOrElse(0.0)
      val js = jobs.filter(j => j.batch == p.batchId && !j.background)
      CdcLayers.Batch(add, add - Trace.coveredMs(js.map(j => (j.startMs, j.endMs)),
        Double.MinValue, Double.MaxValue), js)
    }
    CdcLayers.mergeAndPipeline(out, batches)
    val lineage = Lineage.read(spark, table.root).filter(col("version") > v0)
      .select("version", "eventsIn", "bucketsTouched", "filesRewritten").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSeq
    CdcLayers.mergeStats(out, table, buckets, lineage)
    CdcLayers.lake(out, table, v0, batches.size, opens1 - opens0)
    CdcLayers.compaction(out, trace, table, v0, lineage.map(_._1).toSet, drainMs)
    def dur(k: String) = Stats.median(seen.toSeq.map(
      _.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0))) / 1e3
    out.layer("streaming.add_batch_s") = dur("addBatch")
    out.layer("streaming.get_batch_s") = dur("getBatch")
    out.layer("streaming.latest_offset_s") = dur("latestOffset")
    out.layer("streaming.query_planning_s") = dur("queryPlanning")
    out.layer("streaming.wal_commit_s") = dur("walCommit")
  }
}

/** Reads of one merge-on-read table in which half the buckets hold several
  * generations: full live-state scans, point lookups over live, updated,
  * deleted and absent keys, and a change-feed catch-up of a replica from a
  * fixed lagging version to head. A round runs one of each. */
final class ReadServe(ctx: Ctx) extends Workload(ctx) {
  private val buckets = 16
  private val genBatches = 3
  private val batchEvents = 10000L
  private val nRepos = 200
  private val filesPerRepo = 50
  private val kinds = Seq("live", "updated", "deleted", "absent")
  def perSecond: Double = 0.375 // rounds
  private val eventsDir = ctx.dir("read-events")
  private val replicaDir = ctx.dir("read-replica") // synced after batch 0, never modified
  private val offsetsDir = ctx.dir("read-replica-offsets")
  private var schema: StructType = _
  private var src: LakeTable = _
  private var lagVersion = -1L
  private var replicaV0 = -1L
  private var lastReplica: LakeTable = _
  private var measuredRounds = 0
  private var opens0 = 0L
  private var opens1 = 0L
  private var rounds = 0
  /** Candidate lookup keys by kind: key and expected (lang, content). */
  private var candidates: Map[String, IndexedSeq[(Map[String, Any], Option[(String, String)])]] = _
  /** Per kind, the candidates in single-generation and in multi-generation buckets. */
  private var byBucketKind: Map[String, (IndexedSeq[(Map[String, Any], Option[(String, String)])],
    IndexedSeq[(Map[String, Any], Option[(String, String)])])] = _
  private val scanMs = ArrayBuffer[Double]()
  private val feedMs = ArrayBuffer[Double]()

  private def batch(i: Int): DataFrame = spark.read.schema(schema).parquet(s"$eventsDir/b=$i")

  private def pipeline(t: LakeTable): CdcPipeline = {
    val p = new CdcPipeline(t, "src", mergeOnRead = true, compactEveryFiles = 0)
    p.bootstrap(numBuckets = buckets)
    p
  }

  def prepare(): Unit = {
    SyntheticEvents.generate(spark, batchEvents * genBatches, nRepos = nRepos,
      filesPerRepo = filesPerRepo, seed = ctx.seed)
      .withColumn("b", floor(col("lsn") / batchEvents))
      .write.partitionBy("b").parquet(eventsDir)
    schema = spark.read.parquet(s"$eventsDir/b=0").schema
    val ev = spark.read.schema(schema).parquet(eventsDir).drop("b")
    // lookup candidates: the latest event of a seeded sample of keys, by kind
    val order = struct(col("lsn"), when(col("op") === "D", 1).otherwise(0), coalesce(col("content"), lit("")))
    val h = xxhash64(lit(ctx.seed), col("repo"), col("path"), col("commit"))
    val found = ev.filter(pmod(h, lit(16L)) === 0)
      .groupBy(Reference.Keys.map(col): _*)
      .agg(count(lit(1)).as("n"), max_by(struct(col("op"), col("lang"), col("content")), order).as("w"))
      .select(Reference.Keys.map(col) ++ Seq(col("n"), col("w.op"), col("w.lang"), col("w.content"),
        h.as("h")): _*)
      .collect().toIndexedSeq.sortBy(r => (r.getAs[Long]("h"), r.getAs[String]("repo"),
        r.getAs[String]("path"), r.getAs[String]("commit")))
      .map { r =>
        val key = Reference.Keys.map(k => k -> r.getAs[Any](k)).toMap
        val k = if (r.getAs[String]("op") == "D") "deleted" else if (r.getAs[Long]("n") > 1) "updated" else "live"
        (k, (key, if (k == "deleted") None else Some((r.getAs[String]("lang"), r.getAs[String]("content")))))
      }
    val rng = new java.util.Random(ctx.seed)
    val absent = (0 until 64).map { i =>
      (Map[String, Any]("repo" -> f"org/absent-${rng.nextInt(100000)}%05d",
        "path" -> s"src/none/File$i.scala", "commit" -> java.lang.Long.toHexString(rng.nextLong())),
        Option.empty[(String, String)])
    }
    candidates = found.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).take(64) } + ("absent" -> absent)
    // the lagging replica: synced from a table holding batch 0 only, which
    // is every set-up's source at the same version
    val proto = LakeTable(ctx.dir("read-proto"))(spark)
    pipeline(proto).replay(batch(0), 1, 0L)
    CdcFeed.pipe(proto, LakeTable(replicaDir)(spark), "feed", offsetsDir)
    lagVersion = proto.latestVersion
    ctx.delete(proto.root)
  }

  def setup(i: Int): Unit = {
    if (src != null) ctx.delete(src.root)
    src = LakeTable(ctx.dir(s"read-source-$i"))(spark)
    val p = pipeline(src)
    p.replay(batch(0), 1, 0L)
    require(src.latestVersion == lagVersion, "the source and the replica's origin diverged")
    val rest = (1 until genBatches).map(b => s"$eventsDir/b=$b")
    p.replay(spark.read.schema(schema).parquet(rest: _*), genBatches - 1, 1L)
    Compaction(src, horizonLsn = -1L, maxFilesPerBucket = 1, maxBucketsPerRun = buckets / 2)
    p.awaitMaintenance()
  }

  /** A fresh copy of the lagging replica and its offsets. */
  private def replicaCopy(n: Int): (LakeTable, String) = {
    val (r, o) = (ctx.dir(s"read-catchup-$n"), ctx.dir(s"read-catchup-offsets-$n"))
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(replicaDir), new java.io.File(r))
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(offsetsDir), new java.io.File(o))
    (LakeTable(r)(spark), o)
  }

  /** Lookups of round `r`: per kind, two keys in single-generation buckets
    * and one in a multi-generation bucket. The fixed 2:1 mix keeps the
    * median inside the single-generation mode and the tail inside the
    * multi-generation one. */
  private def lookupsOf(r: Int) = kinds.flatMap { k =>
    val (single, multi) = byBucketKind(k)
    Seq((single((2 * r) % single.size), k), (single((2 * r + 1) % single.size), k),
      (multi(r % multi.size), k))
  }

  override def warm(): Unit = {
    val snap = src.currentSnapshot.get
    val multiGen = snap.files.groupBy(_.bucket).collect { case (b, fs) if fs.size > 1 => b }.toSet
    // every candidate's bucket in one job, with the writer's own bucket expression
    val all = candidates.toSeq.flatMap { case (k, cs) => cs.map(c => (k, c)) }
    val rows = all.map { case (_, (key, _)) => Row.fromSeq(Reference.Keys.map(key)) }
    val keySchema = StructType(Reference.Keys.map(k => org.apache.spark.sql.types.StructField(k,
      org.apache.spark.sql.types.StringType)))
    val bucketOf = LakeTable.withBucket(spark.createDataFrame(rows.asJava, keySchema),
      Reference.Keys, snap.numBuckets).collect()
      .map(r => Reference.Keys.map(k => r.getAs[Any](k)) -> r.getAs[Int](LakeTable.BucketCol)).toMap
    byBucketKind = all.groupBy(_._1).map { case (k, cs) =>
      k -> cs.map(_._2).toIndexedSeq
        .partition(c => !multiGen.contains(bucketOf(Reference.Keys.map(c._1))))
    }
    require(byBucketKind.values.forall(p => p._1.nonEmpty && p._2.nonEmpty),
      s"seed ${ctx.seed} yields no lookup key of some kind in some bucket type")
    round(warmup = true)
  }

  private def round(warmup: Boolean): Unit = {
    val (replica, offsets) = replicaCopy(rounds)
    if (replicaV0 < 0) replicaV0 = replica.latestVersion
    if (trace.enabled && !warmup) trace.span("feed.poll", "feed")(CdcFeed.poll(src, lagVersion))
    val (stats, fms) = measured(op(trace.timed("feed.pipe", "feed") {
      CdcFeed.pipe(src, replica, "feed", offsets)
    }))
    val (_, sms) = measured(op(trace.timed("read.scan", "read") {
      val df = trace.span("read.resolve", "read")(CdcPipeline.liveState(src))
      df.write.format("noop").mode("overwrite").save()
    }))
    val snap = measured(trace.span("read.snapshot", "lake")(src.currentSnapshot.get))
    val keys = lookupsOf(rounds)
    val lookups = keys.map { case ((key, want), kind) =>
      val ((bucket, expectBucket, rows), ms) = measured(op(trace.timed("read.lookup", "read") {
        val b = trace.span("read.bucketOf", "lake")(src.bucketOf(snap, Reference.Keys, key))
        val (bucket, df) = CdcPipeline.lookupAt(src, snap, key)
        (bucket, b, df.collect())
      }))
      val got = rows.map(r => (r.getAs[String]("lang"), r.getAs[String]("content"))).toSeq
      out.check(got == want.toSeq && bucket == expectBucket,
        s"lookup of $kind key $key returned $got in bucket $bucket, expected ${want.toSeq} in $expectBucket")
      ms
    }
    if (!warmup) {
      feedMs += fms
      scanMs += sms
      latMs ++= lookups
      items += lookups.size + stats.events
      measuredRounds += 1
    }
    if (lastReplica != null) ctx.delete(lastReplica.root)
    lastReplica = replica
    ctx.delete(offsets)
    rounds += 1
  }

  def loop(): Unit = {
    busyMs = 0.0
    busyCpuMs = 0.0
    opens0 = CountingFileSystem.metaOpens.get()
    val r0 = rounds
    (0 until planned).foreach(_ => round(warmup = false))
    opens1 = CountingFileSystem.metaOpens.get()
    out.detail("rounds") = rounds - r0
    out.detail("scan_live_s_p50") = Stats.median(scanMs.toSeq) / 1e3
    out.detail("feed_catchup_s_p50") = Stats.median(feedMs.toSeq) / 1e3
  }

  def verify(): Unit = {
    val want = Reference.digest(Reference.live(spark.read.schema(schema).parquet(eventsDir).drop("b")))
    val got = Reference.digest(CdcPipeline.liveState(src))
    out.check(got == want, s"source live state digest $got != reference $want")
    // each round's scan served every live row
    val liveRows = got.takeWhile(_ != ':').toLong
    items += measuredRounds * liveRows
    out.detail("live_rows") = liveRows
    val replica = Reference.digest(CdcPipeline.liveState(lastReplica))
    out.check(replica == got, s"replica digest $replica != source digest $got")
    out.detail("live_digest") = got
  }

  def layers(): Unit = {
    val all = trace.allSpans
    def spans(n: String) = all.filter(_.name == n)
    val snap = src.snapshot(src.latestVersion)
    val byBucket = snap.files.groupBy(_.bucket)
    out.layer("read.resolve_s") = Stats.median(spans("read.resolve").map(_.durMs)) / 1e3
    out.layer("read.scan_job_s") =
      Stats.median(spans("read.scan").map(s => trace.jobsOf(s).map(_.durMs).sum)) / 1e3
    out.layer("read.scan_cpu_s") =
      Stats.median(spans("read.scan").map(s => trace.jobsOf(s).map(_.cpuMs).sum)) / 1e3
    out.layer("read.window_buckets_ratio") =
      byBucket.count(_._2.size > 1).toDouble / math.max(1, byBucket.size)
    out.layer("read.bucketof_ms") = Stats.median(spans("read.bucketOf").map(_.durMs))
    out.layer("read.lookup_job_ms") =
      Stats.median(spans("read.lookup").map(s => trace.jobsOf(s).map(_.durMs).sum))
    val pipes = spans("feed.pipe").drop(1) // the first is the warm-up round
    out.layer("feed.poll_s") = Stats.median(spans("feed.poll").map(_.durMs)) / 1e3
    out.layer("feed.merge_s") = Stats.median(pipes.map(s =>
      trace.jobsOf(s).filter(_.has("Merge.scala")).map(_.durMs).sum)) / 1e3
    out.layer("feed.manifest_reads") = Stats.median(pipes.map(_.metaOpens.toDouble))
    CdcLayers.lake(out, lastReplica, replicaV0, 1, 0L)
    out.layer("lake.manifest_reads") = (opens1 - opens0).toDouble / math.max(1, pipes.size)
    out.layer("lake.live_files") = snap.files.size
    out.layer("lake.max_files_per_bucket") = byBucket.values.map(_.size).max
  }
}
