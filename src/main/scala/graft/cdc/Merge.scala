package graft.cdc

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{LakeTable, Snapshot, DataFile}
import graft.model.CdcModel

/** Per-batch outcome, persisted to the lineage table (SURVEY.md §7.1#6). */
case class MergeStats(
    batchId: Long,
    committedVersion: Long,
    eventsIn: Long,
    distinctKeys: Long,
    lwwConflicts: Long, // events that lost LWW within the batch
    bucketsTouched: Int,
    filesRewritten: Int,
    rowsWritten: Long,
    bytesWritten: Long,
    minLsn: Long,
    maxLsn: Long,
    schemaEvolved: Boolean,
    skippedFenced: Boolean, // batch was already committed (exactly-once replay)
    durationMs: Long,
    // per-source-partition offsets this batch advanced to (what the snapshot
    // committed in sourceOffsets) — the lineage record carries the full
    // offset range so any batch's provenance is queryable without reading
    // snapshot history
    sourceOffsets: Map[String, Long] = Map.empty)

/** MERGE INTO for the LakeTable: applies one micro-batch of change events as
  * a key-bucket-pruned, single-shuffle upsert.
  *
  * Semantics = the reference's upsert SQL (`DELETE FROM primary WHERE pk IN
  * (SELECT pk FROM staging); INSERT INTO primary SELECT * FROM staging`,
  * /root/reference/dialect.go:26-29, and Snowflake `MERGE INTO`,
  * dialect.go:48-50) generalized to row-level I/U/D with LWW-by-LSN, plus the
  * staging+transaction atomicity (load.go:158-168) as an atomic snapshot
  * commit.
  *
  * Physical plan (deliberate, for 10^10-event scale — two jobs per batch):
  *  1. a narrow pre-pass over the batch (no shuffle: map-side partial agg to
  *     one row) collects the touched-bucket set + event count. The bucket set
  *     prunes the target scan to only files that can contain a matched key
  *     (affected-partition pruning); an empty batch short-circuits to a
  *     metadata-only commit.
  *  2. the merge job — ONE shuffle: union(prunedTarget, batch) repartitioned
  *     by `_bucket` alone. Hash-partitioning on `_bucket` satisfies the
  *     groupBy's clustered distribution on (_bucket, keys) because the
  *     partitioning expressions are a subset of the grouping keys, so
  *     Catalyst inserts no second shuffle, and the aggregated output stays
  *     one-bucket-per-task so the writer emits exactly one file per touched
  *     bucket. `max_by(struct(payload), orderKey)` resolves within-batch
  *     duplicate LSNs, multiple updates per key, and batch-vs-table LWW in a
  *     single hash aggregation with map-side combine. Deletes win and persist
  *     as tombstones (`_deleted=true`) so replayed or out-of-order pre-delete
  *     events can never resurrect a key ([[Compaction]] GCs them later).
  *     Lineage statistics (distinct keys, LWW conflicts, LSN range, rows
  *     written) ride on the same job via `Observation` — no extra pass.
  *
  * Skew, three layers: (1) the full primary key (repo, path, commit) feeds
  * the bucket hash, so a hot *repo* is spread across buckets by its
  * paths/commits — structural, not bolted on; (2) `graft.merge.salt` = S
  * splits each bucket across S shuffle tasks by key-hash when a single
  * bucket is still hot; (3) AQE for residual imbalance. Per-key skew cannot
  * exist in the output (keys are unique after LWW).
  *
  * Sizing rule (100 TB): numBuckets is the rewrite/pruning granule — size it
  * so one bucket's live data ≈ 0.5-2 GB (≈ table_bytes / 1e9), and keep
  * numBuckets ≥ 4× peak executor-core count so merge parallelism never caps
  * below the cluster. It is fixed at create(); re-bucketing is a full
  * rewrite, so size for the table's TARGET scale, not its bootstrap size —
  * empty buckets cost one manifest entry, nothing more.
  *
  * Exactly-once: commit-epoch fencing — if the current snapshot already
  * carries (appId, batchId), the batch is a replay after failure and the
  * apply is a no-op; combined with LWW-by-LSN against the stored `_lsn`,
  * re-applying any suffix of the stream is idempotent (SURVEY.md §2.9 T5).
  */
object Merge {
  private val OpRankCol = "_op_rank"
  private val TieCol = "_tb"
  private val SrcCol = "_src" // 1 = from batch, 0 = carried from target
  private val ObservationTimeoutSec = 900L

  /** Bounded wait for an Observation's metrics. `Observation.get` blocks
    * FOREVER if the execution's metrics event is never delivered — the
    * failure mode behind the streaming-MOR deadlock this module used to
    * have — and an unattended ingest must fail loudly with a diagnosis, not
    * hang its micro-batch. The observed job has already completed when this
    * is called, so the event is normally milliseconds away; the timeout only
    * fires on a genuine delivery bug. Shared (private[graft]) so EVERY
    * Observation consumer — the CLI extract verb included — fails loudly
    * instead of hanging on a delivery bug. */
  private[graft] def awaitMetrics(obs: Observation): Map[String, Any] = {
    try {
      val row = scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(ObservationTimeoutSec, java.util.concurrent.TimeUnit.SECONDS))
      row.schema.fieldNames.zip(row.toSeq).toMap
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"observation '${obs.name}' metrics not delivered within ${ObservationTimeoutSec}s after the " +
          "merge job completed — inside foreachBatch this indicates more than one " +
          "CollectMetrics node on the write job (only one ever reports); failing " +
          "loudly instead of hanging the stream")
    }
  }

  /** @param orderedDelivery caller guarantees every event LSN in this batch
    *        exceeds all previously-applied LSNs (e.g. an LSN-range replay).
    *        Enables the watermark fast-path that skips fully-stale batches;
    *        with out-of-order sources it MUST stay false — a "stale" LSN may
    *        be a never-applied late file, and tombstone-retaining LWW (not
    *        filtering) is what keeps replay idempotent then. */
  /** @param mergeOnRead append-only apply: the batch is LWW-deduped within
    *        itself and written as NEW files for its buckets — the target is
    *        never read or rewritten, so per-batch work is O(batch) instead of
    *        O(table ∩ touched buckets). Readers resolve LWW across file
    *        generations ([[CdcPipeline.liveState]]); [[Compaction]] folds
    *        fragmented buckets back to one file. This is the sustained-
    *        throughput mode for 10^10-event tails; copy-on-write (false)
    *        keeps reads trivial and is right for bootstrap/low-rate tables. */
  /** @param keyCols the target table's primary key (default: the CDC model's
    *        (repo, path, commit)). The config frontend routes arbitrary-key
    *        tables through the same merge — everything here is key-generic:
    *        bucketing, pruning, salting and the LWW window all derive from
    *        this sequence. */
  /** @param metaCols batch columns that are CDC bookkeeping, not payload —
    *        excluded from schema evolution. The default is the CDC event
    *        schema's set; the config frontend constructs only lsn/op and
    *        passes a narrower set, so an extract whose PAYLOAD genuinely has
    *        an `eventTime` column is not silently dropped. */
  def apply(table: LakeTable, events: DataFrame, appId: String, batchId: Long,
      sourceOffsets: Map[String, Long] = Map.empty,
      orderedDelivery: Boolean = false,
      mergeOnRead: Boolean = false,
      keyCols: Seq[String] = CdcModel.KeyCols,
      metaCols: Set[String] = Set(CdcModel.LsnCol, CdcModel.OpCol, "eventTime")): MergeStats = {
    val t0 = System.nanoTime()
    val spark = events.sparkSession
    val snap = table.currentSnapshot.getOrElse(
      throw new IllegalStateException(s"target table ${table.root} has no snapshot — bootstrap first"))
    // a batch that applies nothing: fenced (already committed, so it reports
    // no offsets of its own), or empty (a metadata-only commit that records
    // the epoch — no schema evolution, watermark unchanged)
    def appliedNothing(version: Long, fenced: Boolean) =
      MergeStats(batchId, version, 0, 0, 0, 0, 0, 0, 0, -1, -1,
        schemaEvolved = false, skippedFenced = fenced, (System.nanoTime() - t0) / 1000000,
        sourceOffsets = if (fenced) Map.empty else sourceOffsets)
    def metadataOnlyCommit(): MergeStats = appliedNothing(
      table.replaceFiles(snap, Set.empty, Nil, None, appId, batchId,
        snap.watermarkLsn, snap.sourceOffsets ++ sourceOffsets).version,
      fenced = false)

    // --- commit-epoch fencing (replayed foreachBatch after restart).
    // >= not ==: batchIds are monotonic within an appId (the foreachBatch
    // contract), so a batch at or BELOW the snapshot's epoch was already
    // applied — a zombie driver re-presenting batch N after N+1 committed
    // must be fenced too, or a MOR table gains the whole batch again as
    // duplicate generation files (same rule as the commit-retry fence below).
    if (snap.appId == appId && snap.batchId >= batchId && batchId >= 0) {
      if (snap.batchId > batchId)
        // equal = the normal restart replay; BELOW the epoch = a zombie
        // driver, or a checkpoint reset under a reused appId — the latter
        // would silently drop genuinely-new batches, so say what happened
        // and what the fix is (new appId, or fullRefresh)
        System.err.println(s"[merge] fencing batch $batchId of app '$appId': table " +
          s"${table.root} is already at batch ${snap.batchId} — if this is not a " +
          "zombie writer but a reset checkpoint, restart the stream under a NEW appId")
      return appliedNothing(snap.version, fenced = true)
    }

    val numBuckets = snap.numBuckets

    // --- key layout: the snapshot's RECORDED key is the bucket layout.
    // A caller passing the CDC-model default on a table recorded with a
    // different key (config-frontend tables keyed on e.g. ["id"]) adopts the
    // recorded key — bucketing/pruning with the wrong key would silently
    // read and prune the wrong files. An EXPLICIT mismatching key is a
    // config error (the layout is fixed at create; rebucket() changes it). ---
    val keys: Seq[String] =
      if (snap.keyCols.isEmpty) keyCols
      else if (keyCols == CdcModel.KeyCols || keyCols == snap.keyCols) snap.keyCols
      else throw new IllegalArgumentException(
        s"merge keyCols ${keyCols.mkString("(", ",", ")")} differ from the table's " +
        s"recorded key ${snap.keyCols.mkString("(", ",", ")")} at ${table.root} — " +
        "the bucket layout is fixed at create(); use rebucket() to change keys")
    val missingKeys = keys.filterNot(events.columns.contains)
    if (missingKeys.nonEmpty) throw new IllegalArgumentException(
      s"batch is missing key column(s) ${missingKeys.mkString(", ")} required by " +
      s"${table.root} (key ${keys.mkString("(", ",", ")")}) — conforming them to " +
      "null would bucket every row together and corrupt the layout")
    // key column TYPES are part of the bucket layout, exactly like the key
    // names: xxhash64 hashes INT and BIGINT (or INT and STRING) differently,
    // so a batch delivering a key in a different type — or schema evolution
    // widening a key column — would compute bucket ids that disagree with
    // the stored DataFile.bucket labels. Pruning would read the wrong files,
    // the stored row would never meet its update in the LWW window, and the
    // same key would land in two buckets (silent, permanent duplicates in
    // liveState, which resolves per bucket). Fail loudly instead: the key's
    // types are fixed at create(); rebucket() is the layout-change path.
    val tableSchema = snap.schema
    val tableFields = tableSchema.fields.map(f => f.name -> f.dataType).toMap
    val keyTypeMismatch = keys.flatMap { k =>
      for {
        tt <- tableFields.get(k)
        bt = events.schema(k).dataType
        if bt != tt
      } yield s"$k: batch ${bt.simpleString} vs table ${tt.simpleString}"
    }
    if (keyTypeMismatch.nonEmpty) throw new IllegalArgumentException(
      s"batch key column type(s) differ from ${table.root}'s stored layout " +
      s"(${keyTypeMismatch.mkString("; ")}) — the bucket hash is computed over " +
      "the key's exact types, so merging this batch would corrupt bucket " +
      "pruning; cast the batch to the table's key types, or rebucket()")

    // --- schema evolution: incoming payload vs table schema ---
    val incomingTarget = StructType(
      events.schema.fields.filterNot(f => metaCols.contains(f.name)) ++ Seq(
        StructField(CdcModel.RowLsnCol, LongType, nullable = false),
        StructField(CdcModel.DeletedCol, BooleanType, nullable = false)))
    val evolvedSchema = SchemaEvolution.merge(tableSchema, incomingTarget)
    val schemaEvolved = evolvedSchema != tableSchema
    val payloadCols = evolvedSchema.fieldNames.filterNot(keys.contains).toSeq // incl _lsn, _deleted

    // --- LSN watermark guard (ordered sources only) + bucket the batch ---
    val fresh =
      if (orderedDelivery) Dedup.aboveWatermark(events, snap.watermarkLsn)
      else events
    val batchB = LakeTable.withBucket(fresh, keys, numBuckets)

    // --- job 1 (copy-on-write ONLY): touched buckets + batch size + lsn
    // range. The bucket set must exist BEFORE the merge plan is built — it
    // prunes the target scan — so CoW pays one narrow pre-pass over the
    // batch (groupBy(_bucket) with primitive aggregates stays in
    // HashAggregateExec: codegen, map-side combine, ≤numBuckets rows out).
    // Merge-on-read never reads the target, needs no bucket set up front,
    // and therefore SKIPS this job entirely: batch size and LSN range ride
    // the main job as an Observation, and the touched-bucket count falls
    // out of the files written. Measured: the pre-pass was ~1-1.4s of an
    // ~8s 1M-row MOR batch (~13% of sustained-ingest throughput). ---
    // APPEND-ONLY apply = the merge writes new files without reading or
    // removing any existing one: merge-on-read by mode, and ALSO a
    // copy-on-write batch into a table with no data files yet (bootstrap
    // batch 0 / the first load after create) — there is nothing to prune,
    // so the bucket set (the only thing the pre-pass is FOR) is worthless
    // and the stats can ride the main job exactly like MOR's.
    val appendOnly = mergeOnRead || snap.files.isEmpty
    // (bucket, n, minLsn, maxLsn) per touched bucket — always this batch's
    // own pass over its own rows, after the watermark filter of the snapshot
    // it commits against: stats learned anywhere else could disagree with
    // what this merge actually applies
    val pre: Option[Seq[(Int, Long, Long, Long)]] =
      if (appendOnly) None
      else Some(batchB
        .groupBy(col(LakeTable.BucketCol))
        .agg(count(lit(1)).as("n"), min(col(CdcModel.LsnCol)).as("mn"),
          max(col(CdcModel.LsnCol)).as("mx"))
        .collect().toSeq
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))))
    // An append-only batch runs NO emptiness probe: a probe would be a full
    // extra job paid by EVERY batch, to save an empty-shuffle job only the
    // RARE all-fenced/watermark-filtered batch needs — an empty batch runs
    // the (0-row, fast) merge job and is detected after it by
    // (eventsIn == 0 && no files written), taking the same metadata-only
    // commit.
    if (pre.exists(_.map(_._2).sum == 0L)) return metadataOnlyCommit()
    val buckets = pre.map(_.map(_._1).toSet).getOrElse(Set.empty)

    // --- affected-bucket pruning: read only target files that can match;
    // merge-on-read appends instead and never touches existing files ---
    val targetFiles =
      if (mergeOnRead) Nil
      else snap.files.filter(f => buckets.contains(f.bucket))
    val targetRows =
      if (mergeOnRead) table.readBuckets(snap, Set.empty) // empty, schema-typed
      else table.readBuckets(snap, buckets)
    val tieBreak = CdcModel.lwwTieBreak(evolvedSchema.fieldNames.toIndexedSeq)
    // stored rows re-enter the LWW total order EXACTLY as the event that
    // produced them would: (their _lsn, their tombstone flag, their content).
    // This makes redelivery of ANY event subset a no-op — including a
    // same-LSN losing event alone, which with a lower stored rank or an
    // empty stored tie-break would wrongly overwrite the stored winner.
    // Only _src distinguishes the sides pre-union; the LWW order columns
    // (op rank, content tie-break) are DERIVED AFTER the shuffle from
    // _deleted/content — materializing the tie-break before it would ship a
    // second full copy of `content` (the widest column) through shuffle
    // write+read and the external sort.
    val target = SchemaEvolution.conform(targetRows, evolvedSchema)
      .withColumn(CdcModel.DeletedCol, coalesce(col(CdcModel.DeletedCol), lit(false)))
      .withColumn(SrcCol, lit(0L))
      .withColumn(LakeTable.BucketCol, LakeTable.bucketExpr(keys, numBuckets))

    val batchConformed =
      SchemaEvolution.conform(
          batchB.withColumn(CdcModel.RowLsnCol, col(CdcModel.LsnCol))
            .withColumn(CdcModel.DeletedCol, col(CdcModel.OpCol) === "D"),
          evolvedSchema)
        .withColumn(SrcCol, lit(1L))
        .withColumn(LakeTable.BucketCol, LakeTable.bucketExpr(keys, numBuckets))

    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // Sub-bucket salting (skew): partitioning the merge shuffle on _bucket
    // alone caps parallelism at the touched-bucket count and makes one hot
    // bucket a single task. With salt S > 1 the shuffle key becomes
    // (_bucket, khash mod S): a hot bucket spreads over S tasks while the
    // per-key grouping the window needs is untouched (khash is a pure
    // function of the keys that follow it in the partition spec). Cost: up
    // to S files per touched bucket per batch instead of 1 — size S to the
    // observed skew, not to the cluster (graft.merge.salt, default 1).
    val KeyHash = "_khash"
    val SaltCol = "_salt"
    val salt = spark.conf.getOption("graft.merge.salt").map(_.toInt).getOrElse(1)
    // the salt is a PLAIN pre-projected column, not an inline expression: a
    // computed expression in the window PARTITION spec gets extracted into a
    // Project between window nodes, splitting the five window functions into
    // five WindowExec passes (same CollapseWindow blocker as a computed
    // window argument — both observed in the real executed plan). Cost: one
    // int through the shuffle, salted mode only.
    val shuffleKeys =
      if (salt <= 1) Seq(col(LakeTable.BucketCol))
      else Seq(col(LakeTable.BucketCol), col(SaltCol))
    val unioned = target
      .select(batchConformed.columns.map(col): _*) // align column order for union
      .unionByName(batchConformed)
      .withColumn(KeyHash, xxhash64(keys.map(col): _*))
    val combined =
      (if (salt <= 1) unioned
       else unioned.withColumn(SaltCol, pmod(col(KeyHash), lit(salt))))
      .repartition(shufflePartitions, shuffleKeys: _*)
      // LWW order columns derived post-shuffle (see above): both sides'
      // rank is exactly their tombstone flag, and the tie-break is their
      // content — identical values to computing them per-side pre-union
      .withColumn(OpRankCol, col(CdcModel.DeletedCol).cast("int"))
      .withColumn(TieCol, tieBreak)

    // --- job 2: merge + write. LWW winner per key via an explicit
    // sort-within-partitions + row_number window: the sort we provide is
    // exactly the window's required ordering, so WindowExec adds no extra
    // sort or shuffle, and every other operator in the stage (scan, union,
    // project, filter, parquet write) stays in whole-stage codegen. A
    // max_by(struct) aggregation would instead run on
    // ObjectHashAggregateExec — interpreted expression eval, measured ~100x
    // more CPU per row. The same sorted pass also computes per-key
    // "contains a batch row" (unbounded max over _src) for lineage. ---
    // the 64-bit key hash leads the sort/partition keys: the external sort's
    // row comparisons then resolve on (int, long) almost always, instead of
    // comparing three string key columns byte-by-byte; grouping is unchanged
    // because the hash is a pure function of the keys that follow it
    // when salted, the salt expression must appear in the window partition
    // keys: the shuffle's HashPartitioning(bucket, khash mod S) satisfies
    // the window's clustered distribution only if both expressions are
    // among the clustering keys — otherwise Catalyst inserts a SECOND
    // shuffle (grouping semantics are unchanged: the salt is a pure
    // function of khash, which already follows it)
    val partCols =
      (if (salt <= 1) Seq(col(LakeTable.BucketCol), col(KeyHash))
       else Seq(col(LakeTable.BucketCol), col(SaltCol), col(KeyHash))) ++ keys.map(col)
    val sortKeys = partCols ++ Seq(
      col(CdcModel.RowLsnCol).desc, col(OpRankCol).desc, col(TieCol).desc)
    val w = Window
      .partitionBy(partCols: _*)
      .orderBy(col(CdcModel.RowLsnCol).desc, col(OpRankCol).desc, col(TieCol).desc)
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // ONE Observation for every lineage statistic, attached to the single
    // job (inside a streaming foreachBatch only ONE of two CollectMetrics
    // nodes on the write job ever reports — a second Observation.get
    // deadlocked the micro-batch in the round-3 design, found by driving
    // `replay ... mor` end-to-end; everything here keeps exactly one).
    //
    // MOR: the target side is EMPTY by construction (the merge never reads
    // it), so the frame entering the window is exactly the batch — batch
    // stats (events in, LSN range) are a plain pre-window CollectMetrics
    // (count/min/max: no window machinery), and distinctKeys = the written
    // row count the parquet footers already report (one winner per key).
    // The round-5 shape computed all four as unbounded-frame window aggs,
    // which forced WindowExec to buffer and re-walk every key group; with
    // them gone the window evaluates ONLY the streaming row_number — the
    // hot-path CPU cost of the 1M-row sustained-ingest batch drops with it.
    // CoW keeps the window-agg shape: its frame carries target rows, so
    // distinctKeys ("keys the batch touched") genuinely needs the per-key
    // max(_src) resolved inside the window pass.
    val obs = Observation(s"merge-$appId-$batchId-${snap.version}")
    val base =
      if (!appendOnly) combined
      else combined.observe(obs, count(lit(1)).as("n"),
        min(col(CdcModel.RowLsnCol)).as("mn"), max(col(CdcModel.RowLsnCol)).as("mx"))
    val ranked0 = base
      .sortWithinPartitions(sortKeys: _*)
      .withColumn("_rn", row_number().over(w))
    val ranked =
      if (appendOnly) ranked0
      else ranked0.withColumn("_hasBatch", max(col(SrcCol)).over(wAll))
    val filtered = ranked.filter(col("_rn") === 1)
    val observed =
      if (appendOnly) filtered
      else filtered.observe(obs, sum("_hasBatch").as("distinctKeys"))
    val winners = observed
      .select((col(LakeTable.BucketCol) +: keys.map(col)) ++
        payloadCols.map(col): _*)

    val added = table.writeDataFilesPrePartitioned(winners)
    val m = awaitMetrics(obs)
    val distinctKeys =
      if (appendOnly) added.map(_.rows).sum // one winner row per key (footer-true)
      else m("distinctKeys").asInstanceOf[Long] // null→0 on empty batch
    val (eventsIn, minLsn, maxLsn) = pre match {
      case Some(rows) =>
        (rows.map(_._2).sum, rows.map(_._3).min, rows.map(_._4).max)
      case None => // MOR: from the same observation (null when zero rows)
        Option(m("n")).map(_.asInstanceOf[Long]).filter(_ > 0L) match {
          case Some(n) => (n, m("mn").asInstanceOf[Long], m("mx").asInstanceOf[Long])
          case None => (0L, -1L, -1L)
        }
    }
    // the all-fenced/watermark-filtered MOR batch (no probe ran — see above):
    // nothing was applied, so take the same metadata-only commit the CoW
    // empty-pre path takes
    if (appendOnly && eventsIn == 0L && added.isEmpty) return metadataOnlyCommit()
    val bucketsTouched = if (appendOnly) added.map(_.bucket).distinct.size else buckets.size

    val removed = targetFiles.map(_.path).toSet
    // what the COMMITTED snapshot actually declared: the retry path below
    // may find a concurrent writer already applied the same evolution, in
    // which case its commit changes no schema and lineage must not record
    // an evolution point for it
    var committedEvolved = schemaEvolved
    val committed =
      try {
        table.replaceFiles(snap, removed, added,
          if (schemaEvolved) Some(evolvedSchema.json) else None,
          appId, batchId, math.max(snap.watermarkLsn, maxLsn),
          snap.sourceOffsets ++ sourceOffsets)
      } catch {
        // MOR commit-only retry: an append-only batch's staged files are
        // valid against ANY parent — the merge never read the target, so a
        // concurrent commit (typically the background compaction) landing
        // between our snapshot read and our commit invalidates NOTHING.
        // Re-resolving the parent and re-committing the same files avoids
        // re-running the whole merge job for every maintenance race — at
        // sustained ingest with async compaction that race is the COMMON
        // case, and a full re-merge per compaction would cost ~a batch each.
        // Copy-on-write conflicts still rethrow: the files we read (and
        // replace) may themselves have been replaced, so the outer
        // applyBatch loop re-merges against the fresh snapshot.
        case first: graft.lake.CommitConflictException if mergeOnRead && removed.isEmpty =>
          var done: Snapshot = null
          var last: graft.lake.CommitConflictException = first
          var tries = 0
          while (done == null && tries < 5) {
            tries += 1
            val fresh = table.currentSnapshot.getOrElse(throw last)
            // the entry fence applies HERE too, and one notch stronger: if
            // the same app's commits have reached THIS batch OR PAST it
            // (a zombie that committed N and then N+1 before our stale
            // commit of N landed), re-committing would apply the batch
            // TWICE — duplicate generation files and double-counted
            // lineage. batchIds are monotonic within an appId (the
            // foreachBatch contract this engine mirrors); concurrent
            // unordered writers must use distinct appIds. The staged files
            // become orphans; vacuum collects them.
            if (fresh.appId == appId && fresh.batchId >= batchId && batchId >= 0)
              return appliedNothing(fresh.version, fenced = true)
            // a rebucket() (or any layout change) invalidates the staged
            // files — they are bucketed under the OLD numBuckets. Rethrow so
            // the outer applyBatch loop re-merges with the new layout.
            if (fresh.numBuckets != numBuckets || fresh.keyCols != snap.keyCols) throw last
            System.err.println(s"[merge] commit conflict on MOR batch $batchId " +
              s"(attempt $tries/5) — re-committing the same staged files against " +
              s"version ${fresh.version}")
            val freshSchema = fresh.schema
            val mergedSchema = SchemaEvolution.merge(freshSchema, evolvedSchema)
            committedEvolved = mergedSchema != freshSchema
            try {
              done = table.replaceFiles(fresh, Set.empty, added,
                if (mergedSchema != freshSchema) Some(mergedSchema.json) else None,
                appId, batchId, math.max(fresh.watermarkLsn, maxLsn),
                fresh.sourceOffsets ++ sourceOffsets)
            } catch { case e: graft.lake.CommitConflictException => last = e }
          }
          if (done == null) throw last
          done
      }

    MergeStats(batchId, committed.version, eventsIn, distinctKeys,
      eventsIn - distinctKeys, bucketsTouched, targetFiles.size,
      added.map(_.rows).sum, added.map(_.bytes).sum, minLsn, maxLsn, committedEvolved,
      skippedFenced = false, (System.nanoTime() - t0) / 1000000,
      sourceOffsets = sourceOffsets)
  }
}
