package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{LakeTable, Snapshot}
import graft.model.CdcModel

/** Per-batch lineage records under `<root>/lineage/v<version>.json` (one
  * small JSON file per commit, written driver-side through the Hadoop
  * FileSystem API — object stores have no append, and a Spark job per
  * lineage row added ~0.5s of fixed cost to every micro-batch).
  * ≙ the reference's RowCounter/BytesCounter + per-step workflow logging
  * (/root/reference/workflow.go:100-136) promoted to a queryable table:
  * {source offset range, rows applied, conflicts resolved, bytes, duration}.
  * The commit version names the file, so a fenced/replayed batch that
  * re-reports the same commit is deduplicated by create-exclusive.
  */
object Lineage {
  val schema: StructType = StructType(Seq(
    StructField("batchId", LongType), StructField("version", LongType),
    StructField("eventsIn", LongType), StructField("distinctKeys", LongType),
    StructField("lwwConflicts", LongType), StructField("bucketsTouched", IntegerType),
    StructField("filesRewritten", IntegerType), StructField("rowsWritten", LongType),
    StructField("bytesWritten", LongType),
    StructField("minLsn", LongType), StructField("maxLsn", LongType),
    StructField("schemaEvolved", BooleanType), StructField("skippedFenced", BooleanType),
    StructField("durationMs", LongType),
    // per-source-partition offsets the batch advanced to (null in records
    // written before round 4) — batch provenance without snapshot history
    StructField("sourceOffsets", MapType(StringType, LongType))))

  def append(table: LakeTable, s: MergeStats): Unit = {
    // offset keys are free-form caller strings (a path, a URL): render them
    // through the JSON library so EVERY escape (control chars included) is
    // correct — a hand-rolled escaper that misses \n would split the
    // JSON-lines record and silently null the row on read
    val offsets = s.sourceOffsets.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        org.json4s.jackson.JsonMethods.compact(org.json4s.JsonAST.JString(k)) + ":" + v
      }.mkString("{", ",", "}")
    val json = s"""{"batchId":${s.batchId},"version":${s.committedVersion},""" +
      s""""eventsIn":${s.eventsIn},"distinctKeys":${s.distinctKeys},""" +
      s""""lwwConflicts":${s.lwwConflicts},"bucketsTouched":${s.bucketsTouched},""" +
      s""""filesRewritten":${s.filesRewritten},"rowsWritten":${s.rowsWritten},""" +
      s""""bytesWritten":${s.bytesWritten},""" +
      s""""minLsn":${s.minLsn},"maxLsn":${s.maxLsn},""" +
      s""""schemaEvolved":${s.schemaEvolved},"skippedFenced":${s.skippedFenced},""" +
      s""""durationMs":${s.durationMs},"sourceOffsets":$offsets}""" + "\n"
    val dir = new org.apache.hadoop.fs.Path(table.root, "lineage")
    val dest = new org.apache.hadoop.fs.Path(dir, s"v${s.committedVersion}.json")
    // temp + rename: a concurrent Lineage.read must never observe a
    // half-written record (a plain create+write is visible mid-write on
    // HDFS). The `.tmp-` name is invisible to the reader's `.json` filter;
    // fs.create makes the parent dir, so no per-batch mkdirs RPC. Fenced
    // replays re-report the same version with identical bytes, so a rename
    // onto an existing record (POSIX overwrite) is harmless and an HDFS
    // rename refusal just drops the duplicate tmp.
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s"v${s.committedVersion}.tmp-${java.util.UUID.randomUUID()}")
    LakeTable.writeString(table.fs, tmp, json)
    if (!table.fs.rename(tmp, dest)) table.fs.delete(tmp, false)
  }

  def read(spark: SparkSession, tableRoot: String): DataFrame =
    readAttempt(spark, tableRoot, attemptsLeft = 3)

  private def readAttempt(spark: SparkSession, tableRoot: String,
      attemptsLeft: Int): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(tableRoot, "lineage")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    // explicit file listing, not a glob: Spark's glob resolution was observed
    // to intermittently miss just-written files; listStatus is authoritative
    val (jsons, segments) =
      if (!fs.isDirectory(dir)) (Array.empty[String], Array.empty[String])
      else {
        val st = fs.listStatus(dir).filter(_.isFile)
        (st.collect { case s if s.getPath.getName.endsWith(".json") => s.getPath.toString },
         st.collect { case s if s.getPath.getName.startsWith("segment-") &&
           s.getPath.getName.endsWith(".parquet") => s.getPath.toString })
      }
    // a background roll-up may delete a listed JSON between the listing and
    // the read (live db-terminal over an ingesting lake) — the record is
    // already in the published segment, so nothing is lost, but the vanish
    // can surface at TWO points: at read() creation (the path-existence
    // check — caught here, re-list and retry) or at scan execution
    // (ignoreMissingFiles skips it)
    try {
      val parts =
        Option.when(jsons.nonEmpty)(spark.read.schema(schema)
          .option("ignoreMissingFiles", "true").json(jsons.toIndexedSeq: _*)).toSeq ++
        Option.when(segments.nonEmpty)(spark.read.schema(schema)
          .option("ignoreMissingFiles", "true").parquet(segments.toIndexedSeq: _*)).toSeq
      if (parts.isEmpty) // table has no lineage records (lineage=false)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      // a crash between "write roll-up segment" and "delete folded JSONs" (or a
      // fenced replay re-reporting an already-folded commit) leaves the same
      // version in both forms — the commit version is the primary key, dedup
      else parts.reduce(_ unionByName _).dropDuplicates("version")
    } catch {
      case e: org.apache.spark.sql.AnalysisException if attemptsLeft > 1 &&
          Option(e.getMessage).exists(m =>
            m.contains("PATH_NOT_FOUND") || m.contains("does not exist")) =>
        readAttempt(spark, tableRoot, attemptsLeft - 1)
    }
  }

  /** Roll-up: fold every lineage JSON older than the newest `keepRecent`
    * (plus any previous segments) into ONE parquet segment, then delete the
    * folded files. Bounds the `lineage/` directory at O(keepRecent) + one
    * segment: at seconds-per-batch streaming the one-JSON-per-commit scheme
    * otherwise accumulates ~500k files/month — an object-store listing
    * problem. Crash-safe: the new segment is PUBLISHED before any delete,
    * and [[read]] dedups by version, so every intermediate state reads
    * correctly. Readers are unchanged ([[read]] unions segments + JSONs).
    * Returns the number of files folded (0 = nothing to do).
    */
  def compact(spark: SparkSession, tableRoot: String, keepRecent: Int = 64): Int = {
    val dir = new org.apache.hadoop.fs.Path(tableRoot, "lineage")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.isDirectory(dir)) return 0
    val st = fs.listStatus(dir).filter(_.isFile)
    val jsons = st.map(_.getPath).filter(_.getName.endsWith(".json"))
      .sortBy(p => p.getName.stripPrefix("v").stripSuffix(".json").toLongOption.getOrElse(-1L))
    val segments = st.map(_.getPath)
      .filter(p => p.getName.startsWith("segment-") && p.getName.endsWith(".parquet"))
    // GC staging DIRECTORIES a crashed/failed previous roll-up left behind
    // (each holds a full folded copy — a persistent failure must not
    // accumulate them; `st` is pre-filtered to files, so list again);
    // 10-minute grace protects a roll-up actually in flight
    fs.listStatus(dir).filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(".rollup-")).map(_.getPath).foreach { p =>
      try {
        if (fs.getFileStatus(p).getModificationTime <
            System.currentTimeMillis() - 600000L) fs.delete(p, true)
      } catch { case _: java.io.FileNotFoundException => }
    }
    // ... and orphan `.tmp-` record files a crashed [[append]] left behind
    // (invisible to readers; same grace rule)
    st.filter(s => s.getPath.getName.contains(".tmp-") &&
        s.getModificationTime < System.currentTimeMillis() - 600000L)
      .foreach(s => try fs.delete(s.getPath, false)
        catch { case _: java.io.FileNotFoundException => })
    val fold = jsons.dropRight(math.max(0, keepRecent))
    if (fold.isEmpty || (fold.length + segments.length) <= 1) return 0
    try { foldAndPublish(spark, fs, dir, fold, segments) } catch {
      // a CONCURRENT roll-up (CLI vacuum + the pipeline's background one)
      // deleted our inputs before analysis — its published segment already
      // holds them; this run simply has nothing left to do
      case e: org.apache.spark.sql.AnalysisException if Option(e.getMessage)
          .exists(m => m.contains("PATH_NOT_FOUND") || m.contains("does not exist")) => 0
    }
  }

  private def foldAndPublish(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      fold: Array[org.apache.hadoop.fs.Path],
      segments: Array[org.apache.hadoop.fs.Path]): Int = {
    val folded = {
      // ignoreMissingFiles: a CONCURRENT roll-up (CLI vacuum + the pipeline's
      // background one) may delete an input mid-fold — every such record is
      // in the concurrent run's published segment, which this run does not
      // delete, so convergence holds (read() dedups by version)
      val parts =
        Seq(spark.read.schema(schema).option("ignoreMissingFiles", "true")
          .json(fold.map(_.toString).toIndexedSeq: _*)) ++
        Option.when(segments.nonEmpty)(
          spark.read.schema(schema).option("ignoreMissingFiles", "true")
            .parquet(segments.map(_.toString).toIndexedSeq: _*)).toSeq
      parts.reduce(_ unionByName _).dropDuplicates("version")
    }
    // one file: lineage rows are tiny (a few hundred bytes each) — even a
    // year of seconds-per-batch history is a few hundred MB of parquet
    val staging = new org.apache.hadoop.fs.Path(dir, s".rollup-${java.util.UUID.randomUUID()}")
    try {
      folded.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = fs.listStatus(staging)
        .find(s => s.getPath.getName.startsWith("part-") && s.getPath.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"roll-up wrote no parquet part in $staging"))
      val dest = new org.apache.hadoop.fs.Path(dir, s"segment-${java.util.UUID.randomUUID()}.parquet")
      if (!fs.rename(part.getPath, dest))
        throw new java.io.IOException(s"rename ${part.getPath} -> $dest failed")
      // the roll-up is live — now retire what it folded
      (fold ++ segments).foreach(p => fs.delete(p, false))
      fold.length + segments.length
    } finally {
      fs.delete(staging, true)
    }
  }
}

/** End-to-end CDC pipeline over a [[graft.lake.LakeTable]]: bootstrap
  * (≙ reference Full strategy), per-batch MERGE apply (≙ Incremental /
  * ModifiedOnly), and replay with checkpoint/fencing semantics.
  * This is the `foreachBatch` body used by [[graft.streaming.CdcStream]] and
  * callable directly for deterministic batch-mode replays.
  *
  * @param mergeOnRead append-only apply (O(batch) per batch; readers resolve
  *        LWW across file generations, [[Compaction]] folds them) vs
  *        copy-on-write (reads stay trivial). See [[Merge]].
  * @param compactEveryFiles in merge-on-read mode, fold any bucket whose file
  *        count exceeds this after a batch (0 disables auto-compaction).
  * @param maxCompactBucketsPerRun cap on buckets one auto-compaction run
  *        rewrites (most-fragmented first): bounds the background
  *        maintenance job so a pathologically fragmented table is healed
  *        over several runs instead of one table-sized rewrite.
  * @param retainSnapshots when > 0, the background maintenance also runs
  *        [[graft.lake.LakeTable.vacuum]] every `vacuumEveryBatches` batches,
  *        keeping the newest `retainSnapshots` versions readable. Without it
  *        a sustained stream grows `meta/` by one snapshot record (plus
  *        changed-group manifests) per commit and `data/` by every superseded
  *        copy-on-write generation — at seconds-per-batch that is the same
  *        ~500k-files-per-month object-store listing problem the lineage
  *        roll-up solves for `lineage/`. 0 (default) keeps every version:
  *        retention deliberately stays OPT-IN because it truncates the time-
  *        travel horizon (`show <v>`/`history`/`incremental` reach only
  *        retained versions).
  * @param vacuumGraceMs passed to vacuum: files younger than this are never
  *        collected. MUST exceed the longest write-to-commit gap of any
  *        concurrent writer (this stream's own merges included — staged data
  *        files are renamed into `data/` BEFORE their snapshot publishes);
  *        the 10-minute default covers any sane micro-batch. Tests that own
  *        the table exclusively and are quiesced may pass 0.
  */
final class CdcPipeline(val table: LakeTable, val appId: String,
    lineage: Boolean = true, val mergeOnRead: Boolean = false,
    val compactEveryFiles: Int = 16,
    val maxCompactBucketsPerRun: Int = 256,
    val retainSnapshots: Int = 0,
    val vacuumEveryBatches: Int = 64,
    val vacuumGraceMs: Long = 600000L) {

  // --- background maintenance (round 5): auto-compaction used to run
  // SYNCHRONOUSLY inside the micro-batch — at sustained ingest a hot batch
  // could stall the stream tail behind a multi-minute rewrite. It now runs
  // on a single daemon thread with at-most-one in flight (busy → skip; the
  // next batch's check resubmits), so batches never wait on maintenance.
  // Safety is unchanged: the compaction commit carries the parent's fencing
  // identity, and when it races the NEXT merge's commit the CAS serializes
  // them — the loser is skipped (compaction) or retries (merge, commit-only
  // in MOR mode — see [[Merge]]).
  private lazy val maintenancePool =
    java.util.concurrent.Executors.newSingleThreadExecutor(
      new java.util.concurrent.ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-maintenance-$appId"); t.setDaemon(true); t
        }
      })
  @volatile private var inflight: java.util.concurrent.Future[_] = null
  private[graft] val compactionsRun = new java.util.concurrent.atomic.AtomicInteger()
  @volatile private var maintenanceError: Throwable = null
  // last batchId whose submission carried each periodic job — the sticky
  // cadence base (see applyBatch); driver-thread only, like `inflight`
  private var lastRollupBatch = 0L
  private var lastVacuumBatch = 0L
  // test seam: lets a spec wedge the (single) maintenance thread to PROVE
  // batches never wait on it — if applyBatch ran compaction inline, the
  // spec would deadlock instead of committing
  private[graft] def maintenanceExecutor: java.util.concurrent.ExecutorService =
    maintenancePool

  /** Block until any in-flight background compaction finishes; rethrows a
    * real maintenance failure (commit-conflict losses are benign and only
    * logged). Call before tearing down the table directory or asserting
    * file-count invariants. */
  def awaitMaintenance(): Unit = {
    val f = inflight
    if (f != null) f.get()
    val e = maintenanceError
    if (e != null) { maintenanceError = null; throw e }
  }

  /** Create the target table (snapshot 0) if absent. */
  def bootstrap(schema: StructType = CdcModel.targetSchema, numBuckets: Int = 64): Unit =
    if (!table.exists) table.create(schema, numBuckets, appId, CdcModel.KeyCols)

  /** Full-refresh from a complete dataset (reference Full strategy,
    * /root/reference/dialect.go:22-24): one overwrite snapshot. `df` must
    * have target payload columns; `_lsn` is set from `lsnCol` or 0.
    */
  def fullRefresh(df: DataFrame, asOfLsn: Long = 0L): Snapshot = {
    val withLsn =
      if (df.columns.contains(CdcModel.RowLsnCol)) df
      else df.withColumn(CdcModel.RowLsnCol, lit(asOfLsn))
    table.overwrite(withLsn, CdcModel.KeyCols, appId, watermarkLsn = asOfLsn)
  }

  /** Apply one micro-batch of change events. Idempotent per (appId, batchId).
    *
    * Optimistic concurrency (the Iceberg commit model): when another writer
    * (a second stream, a compaction daemon, a config load) publishes a
    * snapshot between this merge's snapshot read and its commit, the commit
    * CAS throws [[graft.lake.CommitConflictException]] — the merge then
    * RE-RUNS against the fresh snapshot instead of dying. Safe because the
    * whole apply is idempotent (fencing + LWW against stored `_lsn`); the
    * loser's staged data files are unreferenced and vacuum() collects them
    * (its grace window protects the retry in flight).
    */
  def applyBatch(events: DataFrame, batchId: Long,
      sourceOffsets: Map[String, Long] = Map.empty,
      orderedDelivery: Boolean = false,
      maxCommitRetries: Int = 5): MergeStats = {
    // retry wraps ONLY the merge: a conflict from the post-merge compaction
    // must never re-run an already-committed batch (it would re-append every
    // row as duplicate generations and double-count lineage) — maintenance
    // is best-effort and the next batch's auto-compaction check catches up
    var attempt = 0
    var stats: MergeStats = null
    while (stats == null) {
      try {
        stats = Merge(table, events, appId, batchId, sourceOffsets,
          orderedDelivery, mergeOnRead)
      } catch {
        case e: graft.lake.CommitConflictException if attempt < maxCommitRetries =>
          attempt += 1
          System.err.println(s"[cdc] commit conflict on batch $batchId " +
            s"(attempt $attempt/$maxCommitRetries), re-merging against the new snapshot: ${e.getMessage}")
      }
    }
    // fenced replays are NOT appended: they re-report the committed version
    // with zeroed stats (eventsIn=0, skippedFenced=true), and on a POSIX
    // local FS the tmp+rename in Lineage.append would OVERWRITE the
    // version's real record with that zeroed one (HDFS rename refuses, so
    // behavior also diverged by FS) — the original record must always win
    if (lineage && !stats.skippedFenced) Lineage.append(table, stats)
    // schedule background maintenance: at most one task in flight, never
    // blocking the batch. The fragmentation probe reads the snapshot the
    // merge JUST committed from the table's in-process cache — zero metadata
    // IO per batch (currentSnapshot would re-list + re-read + re-inflate on
    // an object store every few seconds, forever); the lineage roll-up fires
    // every 64th batch (a listStatus probe per batch would add an RPC per
    // micro-batch for a directory that grows one file per commit — the
    // periodic fold keeps it O(100) files).
    val spark = events.sparkSession
    val needCompact = mergeOnRead && compactEveryFiles > 0 &&
      table.lastCommitted.orElse(table.currentSnapshot)
        .exists(_.files.groupBy(_.bucket).exists(_._2.size > compactEveryFiles))
    // STICKY cadence, not exact-modulo: a roll-up/vacuum whose trigger batch
    // coincides with an in-flight compaction occupying the single slot would
    // otherwise be silently dropped for a whole further interval (unbounded
    // lineage/meta growth under sustained ingest with long compactions) —
    // the due flag persists until a submission actually carries it
    val needRollup = lineage && batchId > 0 && batchId - lastRollupBatch >= 64
    val needVacuum = retainSnapshots > 0 && batchId > 0 &&
      batchId - lastVacuumBatch >= vacuumEveryBatches
    if ((needCompact || needRollup || needVacuum) && (inflight == null || inflight.isDone)) {
      if (needRollup) lastRollupBatch = batchId
      if (needVacuum) lastVacuumBatch = batchId
      inflight = maintenancePool.submit(new Runnable {
        def run(): Unit = {
          if (needCompact)
            try {
              Compaction(table, horizonLsn = -1L, maxFilesPerBucket = compactEveryFiles,
                maxBucketsPerRun = maxCompactBucketsPerRun)
              compactionsRun.incrementAndGet()
            } catch {
              case e: graft.lake.CommitConflictException =>
                System.err.println(s"[cdc] auto-compaction lost a commit race (skipped): ${e.getMessage}")
              case e: Throwable =>
                maintenanceError = e
                System.err.println(s"[cdc] background compaction FAILED: $e")
            }
          if (needVacuum)
            // after compaction, so the generations it just superseded age
            // toward collection; grace (not ordering) is the safety rail
            try table.vacuum(vacuumGraceMs, retainSnapshots)
            catch {
              case e: Throwable =>
                maintenanceError = e
                System.err.println(s"[cdc] retention vacuum FAILED: $e")
            }
          if (needRollup)
            try Lineage.compact(spark, table.root)
            catch {
              case e: Throwable =>
                maintenanceError = e
                System.err.println(s"[cdc] lineage roll-up FAILED: $e")
            }
        }
      })
    }
    stats
  }

  /** Replay an event stream deterministically in `numBatches` LSN-range
    * micro-batches (batch-mode equivalent of Trigger.AvailableNow). Events
    * are split by LSN so any re-run partitions the stream identically —
    * the exactly-once replay property tests drive this.
    */
  def replay(events: DataFrame, numBatches: Int, startBatchId: Long = 0L): Seq[MergeStats] = {
    val bounds = events.agg(min(col(CdcModel.LsnCol)), max(col(CdcModel.LsnCol))).collect()(0)
    if (bounds.isNullAt(0)) return Nil
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L, (hi - lo + numBatches) / numBatches)
    (0 until numBatches).map { i =>
      val (b0, b1) = (lo + i * width, lo + (i + 1) * width)
      val slice = events.filter(col(CdcModel.LsnCol) >= b0 && col(CdcModel.LsnCol) < b1)
      // LSN-range slices ascend, so ordered delivery holds and the watermark
      // fast-path may skip already-applied prefixes on re-runs; empty slices
      // still commit (fencing epoch advances uniformly). Each slice is a
      // self-contained batch: its stats come from its own pre-pass against
      // the snapshot it commits on, exactly as a streamed batch's do
      applyBatch(slice, startBatchId + i, Map("replay" -> (b1 - 1)),
        orderedDelivery = true)
    }
  }

  /** Current target state: live rows only (tombstones filtered), internal
    * columns dropped. */
  def state(): DataFrame = CdcPipeline.liveState(table)
}

object CdcPipeline {
  /** Resolve LWW across file generations: one surviving row per key, ordered
    * by (_lsn, _deleted, content) — deterministic under duplicate appends
    * (a replayed event re-appended by a new batchId carries identical
    * content, so either copy wins identically).
    *
    * GENERATION-AWARE (round 5): the manifest already knows files-per-bucket,
    * and a bucket with ≤1 file cannot hold cross-generation duplicates —
    * every writer that can co-locate two versions of a key in one file
    * dedups it first (MERGE's LWW window per batch, [[Compaction]]'s fold),
    * so multi-generation keys exist only where a bucket has ≥2 files. The
    * LWW window (a full shuffle + sort of everything it reads) therefore
    * runs ONLY over the multi-file buckets; single-file buckets stream
    * through untouched. A copy-on-write table and a fully-compacted MOR
    * table — the common read shapes — pay NO shuffle at all, at any size;
    * a fragmented MOR table pays for exactly its fragmented fraction.
    * (Full/overwrite loads are written one-file-per-bucket as-is: duplicate
    * keys in a Full extract pass through unresolved, which is the
    * reference's Full-load semantics — it INSERTs the extract verbatim,
    * /root/reference/dialect.go:22-24.)
    */
  def resolved(table: LakeTable): DataFrame =
    resolved(table, table.currentSnapshot.getOrElse(
      throw new IllegalStateException(s"no snapshot in ${table.root}")))

  /** [[resolved]] pinned to an explicit snapshot — the time-travel read path
    * (pass `table.snapshot(v)` for a retained older version). */
  def resolved(table: LakeTable, snap: Snapshot): DataFrame = {
    val allBuckets = snap.files.map(_.bucket).toSet
    // column probe via the SNAPSHOT schema (readBuckets reads with exactly
    // it) — constructing the all-buckets frame first would resolve a
    // FileIndex over every data file and then be DISCARDED on the windowed
    // branch: a full O(#files) driver metadata pass per read, for nothing
    if (!snap.schema.fieldNames.contains(CdcModel.RowLsnCol))
      return table.readBuckets(snap, allBuckets)
    val byBucket = snap.files.groupBy(_.bucket)
    val multi = byBucket.collect { case (b, fl) if fl.size > 1 => b }.toSet
    if (multi.isEmpty) // single-generation everywhere: no window
      return table.readBuckets(snap, allBuckets)
    val keys = effectiveKeys(snap)
    val windowed = lwwResolve(table.readBuckets(snap, multi), keys)
    if (multi.size == byBucket.size) windowed
    // keys are bucket-hashed, so no key spans the two sides: resolving each
    // side independently is exact, and the single-file side never shuffles
    else table.readBuckets(snap, allBuckets -- multi).unionByName(windowed)
  }

  /** The LWW resolution window over `df` (which must hold whole buckets):
    * one surviving row per key. Forwards to [[CdcModel.lwwResolve]] — THE
    * one definition of the cross-generation total order, shared with
    * [[Compaction]]'s fold and [[graft.lake.LakeTable.rebucket]]'s fold, so
    * reads and maintenance can never diverge on a tie-break. */
  private[cdc] def lwwResolve(df: DataFrame, keys: Seq[String]): DataFrame =
    CdcModel.lwwResolve(df, keys)

  /** Live rows of a CDC target table: LWW-resolved across generations,
    * tombstones + internal columns removed. `_deleted` may be null in files
    * written before tombstone support or by fullRefresh — treated as live. */
  def liveState(table: LakeTable): DataFrame = liveStateOf(resolved(table))

  /** Time-travel live state: LWW-resolved rows as of snapshot `version`
    * (must be retained — see [[graft.lake.LakeTable.versions]]). Same
    * generation-aware plan: a version whose buckets are single-file reads
    * with no shuffle. */
  def liveState(table: LakeTable, version: Long): DataFrame =
    liveStateOf(resolved(table, table.snapshot(version)))

  /** Point lookup: the LIVE row(s) of one concrete key, reading ONLY the
    * bucket that key hashes to ([[graft.lake.LakeTable.bucketOf]]) —
    * O(table/numBuckets) IO where [[liveState]] scans the table, which is
    * what makes "current state of repo X path Y" answerable in near-constant
    * time on a 100 TB table. The key-equality filter is applied BEFORE the
    * LWW window, so even a fragmented bucket resolves only this key's
    * generations (and parquet predicate pushdown skips non-matching row
    * groups inside the bucket's files); single-generation buckets skip the
    * window entirely, same as [[resolved]]. Requires the FULL key — the
    * bucket hash covers every key column, so a partial key cannot prune
    * (use `liveState(table).filter(...)` for partial-key scans).
    * Deleted keys return an empty frame (the tombstone is the live state).
    */
  def lookup(table: LakeTable, keyValues: Map[String, Any]): DataFrame =
    lookupAt(table, table.currentSnapshot.getOrElse(
      throw new IllegalStateException(s"no snapshot in ${table.root}")), keyValues)._2

  /** [[lookup]] pinned to an explicit snapshot, returning the pruned bucket
    * alongside the rows — so a caller reporting pruning stats (the CLI)
    * describes the SAME snapshot and hash evaluation the read uses, instead
    * of re-reading metadata that a concurrent commit may have moved. */
  def lookupAt(table: LakeTable, snap: Snapshot,
      keyValues: Map[String, Any]): (Int, DataFrame) = {
    val keys = effectiveKeys(snap)
    val extra = keyValues.keySet -- keys.toSet
    require(extra.isEmpty,
      s"not key columns of this table: ${extra.mkString(", ")} (key: ${keys.mkString(", ")})")
    val bucket = table.bucketOf(snap, keys, keyValues)
    val schema = snap.schema
    val df = table.readBuckets(snap, Set(bucket))
    val keyed = keys.foldLeft(df) { (d, k) =>
      d.filter(col(k) === lit(keyValues(k)).cast(schema(schema.fieldIndex(k)).dataType))
    }
    val multiGen = snap.files.count(_.bucket == bucket) > 1
    (bucket, liveStateOf(
      if (!df.columns.contains(CdcModel.RowLsnCol) || !multiGen) keyed
      else lwwResolve(keyed, keys)))
  }

  /** The key columns a snapshot's buckets hash: the RECORDED key (round-3+
    * manifests), falling back to the CDC model's key for pre-round-3 tables.
    * THE one definition of the fallback — [[resolved]], [[lookupAt]],
    * [[Compaction]] and the CLI all route through it, so no read surface can
    * drift on what a table's key is. */
  private[graft] def effectiveKeys(snap: Snapshot): Seq[String] =
    if (snap.keyCols.nonEmpty) snap.keyCols.toSeq else CdcModel.KeyCols

  private def liveStateOf(df: DataFrame): DataFrame = {
    val filtered =
      if (df.columns.contains(CdcModel.DeletedCol))
        df.filter(!coalesce(col(CdcModel.DeletedCol), lit(false))).drop(CdcModel.DeletedCol)
      else df
    filtered.drop(CdcModel.RowLsnCol)
  }
}
