package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{LakeTable, Snapshot}
import graft.model.CdcModel

/** The lineage table: one row per merge commit, {source offsets, rows
  * applied, conflicts resolved, bytes, duration} — the reference's
  * RowCounter/BytesCounter + per-step workflow logging
  * (/root/reference/workflow.go:100-136) promoted to a queryable table.
  * Each row is the [[graft.lake.Summary]] its commit stored in the snapshot
  * record it published ([[graft.lake.LakeTable.summaries]]), so a batch is
  * recorded exactly when it is committed, and a fenced replay of it records
  * nothing more.
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

  /** The lineage rows of the table at `tableRoot`, in [[schema]]. A fenced
    * batch commits nothing, so `skippedFenced` is always false. */
  def read(spark: SparkSession, tableRoot: String): DataFrame = {
    val rows = LakeTable(tableRoot)(spark).summaries()
    rows.select(schema.map(f =>
      (if (f.name == "skippedFenced") lit(false) else col(f.name)).cast(f.dataType).as(f.name)): _*)
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
  *        keeping the newest `retainSnapshots` versions readable and folding
  *        the summaries of the expired ones into one `lineage/` segment.
  *        Without it a sustained stream grows `meta/` by one snapshot record
  *        (plus changed-group manifests) per commit and `data/` by every
  *        superseded copy-on-write generation — at seconds-per-batch, about
  *        500k files a month, an object-store listing problem. 0 (default)
  *        keeps every version: retention deliberately stays OPT-IN because
  *        it truncates the time-travel horizon (`show <v>`/`history`/
  *        `incremental` reach only retained versions).
  * @param vacuumGraceMs passed to vacuum: files younger than this are never
  *        collected. MUST exceed the longest write-to-commit gap of any
  *        concurrent writer (this stream's own merges included — data files
  *        are in `data/`, touched at their write job's end, BEFORE their
  *        snapshot publishes); the 10-minute default covers any sane
  *        micro-batch. Tests owning the quiesced table may pass 0.
  */
final class CdcPipeline(val table: LakeTable, val appId: String,
    val mergeOnRead: Boolean = false,
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
  // them — the table re-applies the loser's change to the winner's snapshot
  // while it is still valid there (see [[LakeTable.replaceFiles]]); when it
  // is not, a compaction is skipped and a merge re-runs.
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
  // last batchId whose submission carried the periodic vacuum — the sticky
  // cadence base (see applyBatch); driver-thread only, like `inflight`
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
    * snapshot between this merge's snapshot read and its commit, the table
    * re-applies the commit when it is still valid
    * ([[graft.lake.LakeTable.replaceFiles]]); otherwise the merge RE-RUNS
    * against the fresh snapshot instead of dying. Safe because the whole
    * apply is idempotent (fencing + LWW against stored `_lsn`); the loser's
    * written data files are unreferenced and vacuum() collects them (its
    * grace window protects the retry in flight).
    */
  def applyBatch(events: DataFrame, batchId: Long,
      sourceOffsets: Map[String, Long] = Map.empty,
      orderedDelivery: Boolean = false): MergeStats = {
    // retry wraps ONLY the merge: a conflict from the post-merge compaction
    // must never re-run an already-committed batch (it would re-append every
    // row as duplicate generations) — maintenance is best-effort and the
    // next batch's auto-compaction check catches up
    var attempt = 0
    var stats: MergeStats = null
    while (stats == null) {
      try {
        stats = Merge(table, events, appId, batchId, sourceOffsets,
          orderedDelivery, mergeOnRead)
      } catch {
        case e: graft.lake.CommitConflictException if attempt < CdcPipeline.MaxReMerges =>
          attempt += 1
          System.err.println(s"[cdc] commit conflict on batch $batchId (attempt " +
            s"$attempt/${CdcPipeline.MaxReMerges}), re-merging against the new snapshot: ${e.getMessage}")
      }
    }
    // schedule background maintenance: at most one task in flight, never
    // blocking the batch. The fragmentation probe reads the snapshot the
    // merge JUST committed from the table's in-process cache — zero metadata
    // IO per batch (currentSnapshot would re-list + re-read + re-inflate on
    // an object store every few seconds, forever).
    val needCompact = mergeOnRead && compactEveryFiles > 0 &&
      table.lastCommitted.orElse(table.currentSnapshot)
        .exists(_.files.groupBy(_.bucket).exists(_._2.size > compactEveryFiles))
    // STICKY cadence, not exact-modulo: a vacuum whose trigger batch
    // coincides with an in-flight compaction occupying the single slot would
    // otherwise be silently dropped for a whole further interval (unbounded
    // meta growth under sustained ingest with long compactions) — the due
    // flag persists until a submission actually carries it
    val needVacuum = retainSnapshots > 0 && batchId > 0 &&
      batchId - lastVacuumBatch >= vacuumEveryBatches
    if ((needCompact || needVacuum) && (inflight == null || inflight.isDone)) {
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
        }
      })
    }
    stats
  }

  /** Replay an event stream deterministically in `numBatches` LSN-range
    * micro-batches (batch-mode equivalent of Trigger.AvailableNow), as
    * batches `startBatchId` onward. Events are split by LSN so any re-run
    * partitions the stream identically — the exactly-once replay property
    * tests drive this.
    *
    * One slice is `events` itself, handed straight to [[applyBatch]]: no
    * bounds job and no slice filter, so the batch is one Spark action, the
    * write. More slices first collect the LSN range (one more action) and
    * filter each slice by literal bounds, which Parquet uses to skip row
    * groups outside the slice.
    *
    * Slices ascend in LSN, so ordered delivery holds and the watermark guard
    * drops already-applied prefixes on re-runs. Every slice commits, an
    * empty one metadata-only, so the fencing epoch advances by one per
    * slice. Each slice is a self-contained batch: its stats come from its
    * own write job against the snapshot it commits on, exactly as a
    * streamed batch's do.
    *
    * Provenance: replay records no source offset. A slice's LSN range is
    * its summary's `minLsn`/`maxLsn`, and the table's watermark is
    * the snapshot's `watermarkLsn`.
    */
  def replay(events: DataFrame, numBatches: Int, startBatchId: Long = 0L): Seq[MergeStats] = {
    require(numBatches >= 1, s"replay needs at least one batch, got $numBatches")
    val slices =
      if (numBatches == 1) Seq(events)
      else {
        val bounds = events.agg(min(col(CdcModel.LsnCol)), max(col(CdcModel.LsnCol))).collect()(0)
        if (bounds.isNullAt(0)) Seq.fill(numBatches)(events) // no events: every slice is empty
        else {
          val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
          val width = math.max(1L, (hi - lo + numBatches) / numBatches)
          (0 until numBatches).map { i =>
            val (b0, b1) = (lo + i * width, lo + (i + 1) * width)
            events.filter(col(CdcModel.LsnCol) >= b0 && col(CdcModel.LsnCol) < b1)
          }
        }
      }
    slices.zipWithIndex.map { case (slice, i) =>
      applyBatch(slice, startBatchId + i, orderedDelivery = true)
    }
  }

  /** Current target state: live rows only (tombstones filtered), internal
    * columns dropped. */
  def state(): DataFrame = CdcPipeline.liveState(table)
}

object CdcPipeline {
  /** Re-merges [[CdcPipeline.applyBatch]] makes before a conflict propagates. */
  private val MaxReMerges = 5

  /** Resolve LWW across file generations: one surviving row per key, ranked
    * by the engine's one LWW ranking ([[CdcModel.lwwRank]], clustered on
    * `_bucket`) — deterministic under duplicate appends (a replayed event
    * re-appended by a new batchId carries identical content, so either copy
    * wins identically).
    *
    * GENERATION-AWARE (round 5): the manifest already knows files-per-bucket,
    * and a bucket with ≤1 file cannot hold cross-generation duplicates —
    * every writer that can co-locate two versions of a key in one file
    * dedups it first (MERGE's ranking per batch, [[Compaction]]'s fold),
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
    val stored = table.scan(snap)
    val multi = snap.files.groupBy(_.bucket).collect { case (b, fl) if fl.size > 1 => b }.toSeq
    if (multi.isEmpty || !snap.schema.fieldNames.contains(CdcModel.RowLsnCol))
      return stored.drop(LakeTable.BucketCol) // single-generation everywhere: no window
    val inMulti = col(LakeTable.BucketCol).isin(multi: _*)
    // keys are bucket-hashed, so no key spans the two sides: resolving each
    // side independently is exact, and the single-file side never shuffles
    // (when every bucket is multi-file its side is pruned to no files)
    stored.where(!inMulti)
      .unionByName(CdcModel.lwwResolve(stored.where(inMulti), effectiveKeys(snap)))
      .drop(LakeTable.BucketCol)
  }

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
    val (bucket, typed) = table.bucketAndKeys(snap, keys, keyValues)
    // one filter: the bucket prune and equality on the key values it hashed
    val keyed = table.scan(snap).where(keys.zip(typed).foldLeft(
      col(LakeTable.BucketCol) === bucket) { case (p, (k, v)) => p && col(k) === v })
    val multiGen = snap.files.count(_.bucket == bucket) > 1
    (bucket, liveStateOf(
      if (!multiGen || !keyed.columns.contains(CdcModel.RowLsnCol)) keyed
      else CdcModel.lwwResolve(keyed, keys)))
  }

  /** The key columns a snapshot's buckets hash: the RECORDED key (round-3+
    * manifests), falling back to the CDC model's key for pre-round-3 tables.
    * THE one definition of the fallback — [[resolved]], [[lookupAt]],
    * [[Compaction]] and the CLI all route through it, so no read surface can
    * drift on what a table's key is. */
  private[graft] def effectiveKeys(snap: Snapshot): Seq[String] =
    if (snap.keyCols.nonEmpty) snap.keyCols.toSeq else CdcModel.KeyCols

  private def liveStateOf(df: DataFrame): DataFrame = {
    val internal = Set(CdcModel.DeletedCol, CdcModel.RowLsnCol, LakeTable.BucketCol)
    val live = if (!df.columns.contains(CdcModel.DeletedCol)) df
      else df.where(!coalesce(col(CdcModel.DeletedCol), lit(false)))
    live.select(df.columns.filterNot(internal).map(col): _*)
  }
}
