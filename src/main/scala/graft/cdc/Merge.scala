package graft.cdc

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{DataFile, Epoch, LakeTable, Snapshot}
import graft.model.CdcModel

/** Per-batch outcome (SURVEY.md §7.1#6). A committed batch's stats are read
  * back from the [[graft.lake.Summary]] its snapshot record stores, which is
  * the row [[Lineage.read]] returns for it. */
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

object MergeStats {
  /** The stats of the merge that committed `s`, from its summary. */
  private[cdc] def committed(s: Snapshot, durationMs: Long): MergeStats = {
    val m = s.summary.get
    MergeStats(s.batchId, s.version, m.eventsIn, m.distinctKeys, m.lwwConflicts,
      m.bucketsTouched, m.filesRewritten, m.rowsWritten, m.bytesWritten, m.minLsn, m.maxLsn,
      m.schemaEvolved, skippedFenced = false, durationMs, m.sourceOffsets)
  }
}

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
  * Physical plan (deliberate, for 10^10-event scale — ONE SQL execution per
  * batch, the write, with ONE shuffle; adaptive execution runs it as 2 Spark
  * jobs, 4 with a copy-on-write target): the engine's one LWW ranking
  * ([[CdcModel.lwwRank]]) over the batch, unioned with the target on
  * copy-on-write — one exchange on `_bucket`, a sort the window needs no
  * second sort for — picks each key's winner, and the writer emits one file
  * per touched bucket. Each side is ONE projection: planning is a fixed cost
  * of every batch.
  *  - The target side is the snapshot's manifest-backed relation
  *    ([[LakeTable.scan]]), whose partition column is `_bucket`,
  *    left-semi-joined to the batch's distinct buckets. That join is a
  *    broadcast on the partition column, so dynamic partition pruning cuts
  *    the target scan at run time to the files of the touched buckets
  *    (affected-partition pruning) — no pre-pass collects the bucket set
  *    first. The broadcast side carries `_bucket >= 0`, a no-op (pmod is
  *    non-negative) that Catalyst needs to see a selective predicate, or it
  *    declines to prune. Merge-on-read and an empty table skip the target.
  *  - Each task holds whole buckets. Deletes win and persist as
  *    tombstones (`_deleted=true`) so replayed or out-of-order pre-delete
  *    events can never resurrect a key ([[Compaction]] GCs them later).
  *  - Every batch statistic rides the same job on one `Observation`: events
  *    in, LSN range, distinct keys, and the buckets whose target rows the
  *    job read. The commit removes exactly the files of those buckets —
  *    never the buckets of the written files, which can differ when the
  *    batch's two evaluations (broadcast side, union side) disagree: an
  *    unread bucket keeps its old file, and the generation-aware read
  *    resolves the two generations. An empty batch is detected after the
  *    job and takes a metadata-only commit.
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

  /** Applies one micro-batch of change events to `table` in one snapshot
    * commit (see the object doc) and returns its statistics.
    *
    * @param orderedDelivery caller guarantees every event LSN in this batch
    *        exceeds all previously-applied LSNs (e.g. an LSN-range replay).
    *        Enables the watermark guard ([[Dedup.aboveWatermark]]), which
    *        drops events at or below the snapshot's watermark; a fully-stale
    *        batch then takes a metadata-only commit. The guard holds the
    *        watermark out of the generated code, so it is not pushed to
    *        Parquet: a re-run reads its stale prefix and drops it row by
    *        row. With out-of-order sources it MUST stay false — a "stale"
    *        LSN may be a never-applied late file, and tombstone-retaining
    *        LWW (not filtering) is what keeps replay idempotent then.
    * @param mergeOnRead append-only apply: the batch is LWW-deduped within
    *        itself and written as NEW files for its buckets — the target is
    *        never read or rewritten, so per-batch work is O(batch) instead of
    *        O(table ∩ touched buckets). Readers resolve LWW across file
    *        generations ([[CdcPipeline.liveState]]); [[Compaction]] folds
    *        fragmented buckets back to one file. This is the sustained-
    *        throughput mode for 10^10-event tails; copy-on-write (false)
    *        keeps reads trivial and is right for bootstrap/low-rate tables.
    * @param keyCols the target table's primary key (default: the CDC model's
    *        (repo, path, commit)). The config frontend routes arbitrary-key
    *        tables through the same merge — everything here is key-generic:
    *        bucketing, pruning, salting and the LWW window all derive from
    *        this sequence.
    * @param metaCols batch columns that are CDC bookkeeping, not payload —
    *        excluded from schema evolution. The default is the CDC event
    *        schema's set; the config frontend constructs only lsn/op and
    *        passes a narrower set, so an extract whose PAYLOAD genuinely has
    *        an `eventTime` column is not silently dropped.
    */
  def apply(table: LakeTable, events: DataFrame, appId: String, batchId: Long,
      sourceOffsets: Map[String, Long] = Map.empty,
      orderedDelivery: Boolean = false,
      mergeOnRead: Boolean = false,
      keyCols: Seq[String] = CdcModel.KeyCols,
      metaCols: Set[String] = CdcModel.MetaCols): MergeStats = {
    val t0 = System.nanoTime()
    val spark = events.sparkSession
    val snap = table.currentSnapshot.getOrElse(
      throw new IllegalStateException(s"target table ${table.root} has no snapshot — bootstrap first"))
    def elapsedMs() = (System.nanoTime() - t0) / 1000000
    // one commit; on a conflict the table re-applies it to the newer
    // snapshot while it is still valid there, else the conflict propagates
    // and applyBatch re-merges. The record it publishes carries the batch's
    // summary, and the stats returned are read back from it.
    def commit(removed: Set[String], added: List[DataFile], schemaJson: Option[String],
        eventsIn: Long, distinctKeys: Long, minLsn: Long, maxLsn: Long): MergeStats = {
      val committed = table.replaceFiles(snap, removed, added, schemaJson,
        Some(Epoch(appId, batchId, maxLsn, sourceOffsets, eventsIn, distinctKeys,
          eventsIn - distinctKeys, minLsn, elapsedMs())))
      MergeStats.committed(committed, elapsedMs())
    }

    // --- commit-epoch fencing (replayed foreachBatch after restart).
    // >= not ==: batchIds are monotonic within an appId (the foreachBatch
    // contract), so a batch at or BELOW the snapshot's epoch was already
    // applied — a zombie driver re-presenting batch N after N+1 committed
    // must be fenced too, or a MOR table gains the whole batch again as
    // duplicate generation files (the same rule stops a stale commit of this
    // batch from re-applying: see LakeTable.replaceFiles).
    if (snap.appId == appId && snap.batchId >= batchId && batchId >= 0) {
      if (snap.batchId > batchId)
        // equal = the normal restart replay; BELOW the epoch = a zombie
        // driver, or a checkpoint reset under a reused appId — the latter
        // would silently drop genuinely-new batches, so say what happened
        // and what the fix is (new appId, or fullRefresh)
        System.err.println(s"[merge] fencing batch $batchId of app '$appId': table " +
          s"${table.root} is already at batch ${snap.batchId} — if this is not a " +
          "zombie writer but a reset checkpoint, restart the stream under a NEW appId")
      // already committed, so it reports no offsets of its own
      return MergeStats(batchId, snap.version, 0, 0, 0, 0, 0, 0, 0, -1, -1,
        schemaEvolved = false, skippedFenced = true, elapsedMs())
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

    // --- the batch side: the LSN watermark guard (ordered sources only),
    // then ONE projection onto the row schema, `_bucket` hashed over the
    // batch's own key columns ---
    val fresh =
      if (orderedDelivery) Dedup.aboveWatermark(events, snap.watermarkLsn)
      else events
    val rowSchema = evolvedSchema
      .add(StructField(LakeTable.BucketCol, IntegerType, nullable = false))
      .add(StructField(SrcCol, LongType, nullable = false))
    val batch = SchemaEvolution.conform(fresh, rowSchema, Map(
      LakeTable.BucketCol -> LakeTable.bucketExpr(keys, numBuckets),
      CdcModel.RowLsnCol -> col(CdcModel.LsnCol),
      CdcModel.DeletedCol -> (col(CdcModel.OpCol) === "D"),
      SrcCol -> lit(1L)))

    // --- the target side (copy-on-write, non-empty table only): the stored
    // rows of the touched buckets. `_bucket` is the manifest relation's
    // partition value, so the left-semi join against the batch's distinct
    // buckets is a broadcast join on the partition column, and dynamic
    // partition pruning cuts the target scan to the touched buckets' files at
    // run time inside this one write — no pre-pass. `_bucket >= 0` is always
    // true (pmod is non-negative) but load-bearing: DPP only prunes when the
    // broadcast side carries a predicate Catalyst deems selective
    // (PartitionPruning.hasSelectivePredicate). Stored rows re-enter the LWW
    // order EXACTLY as the event that produced them would (their _lsn,
    // tombstone flag and content), so redelivering ANY event subset — a
    // same-LSN loser alone included — is a no-op. Only _src tells the sides
    // apart.
    val rows =
      if (mergeOnRead || snap.files.isEmpty) batch
      else {
        val touched = table.scan(snap).join(
          broadcast(batch.select(LakeTable.BucketCol).distinct()
            .filter(col(LakeTable.BucketCol) >= 0)),
          Seq(LakeTable.BucketCol), "left_semi")
        val del = if (tableFields.contains(CdcModel.DeletedCol)) col(CdcModel.DeletedCol) else lit(null)
        SchemaEvolution.conform(touched, rowSchema,
          Map(CdcModel.DeletedCol -> coalesce(del, lit(false)), SrcCol -> lit(0L))).union(batch)
      }

    // --- the merge + write job: the LWW ranking ([[CdcModel.lwwRank]]) over
    // the rows, one shuffle on `_bucket`. Sub-bucket salting (skew):
    // partitioning on _bucket alone caps parallelism at the touched-bucket
    // count and makes one hot bucket a single task; with salt S > 1 a hot
    // bucket spreads over S tasks. Cost: up to S files per touched bucket
    // per batch instead of 1 — size S to the observed skew, not to the
    // cluster (graft.merge.salt, default 1).
    // ONE Observation for every batch statistic, in both modes (inside a
    // streaming foreachBatch only ONE of two CollectMetrics nodes on the
    // write job ever reports — a second Observation.get deadlocked the
    // micro-batch in the round-3 design). It sits between the window and the
    // winner filter, where every row of both sides passes: events in and
    // the LSN range over the batch rows; distinctKeys = the winners whose
    // key group holds a batch row (`_hasBatch`, a max over _src on the
    // ranking's own window, so it adds no pass); and the buckets whose
    // TARGET rows this job read — the files the commit removes (see the
    // class doc for why not the buckets of the files written).
    val salt = spark.conf.getOption("graft.merge.salt").map(_.toInt).getOrElse(1)
    val ranked = CdcModel.lwwRank(rows, keys,
      Some(spark.conf.get("spark.sql.shuffle.partitions").toInt), salt,
      perKey = Seq("_hasBatch" -> max(col(SrcCol))))
    val obs = Observation(s"merge-$appId-$batchId-${snap.version}")
    val fromBatch = col(SrcCol) === 1L
    val winner = col(CdcModel.RankCol) === 1
    val winners = ranked
      .observe(obs, sum(col(SrcCol)).as("n"),
        min(when(fromBatch, col(CdcModel.RowLsnCol))).as("mn"),
        max(when(fromBatch, col(CdcModel.RowLsnCol))).as("mx"),
        sum(when(winner, col("_hasBatch"))).as("distinctKeys"),
        collect_set(when(!fromBatch, col(LakeTable.BucketCol))).as("bucketsRead"))
      .filter(winner)
      .select((col(LakeTable.BucketCol) +: keys.map(col)) ++ payloadCols.map(col): _*)

    val added = table.writeDataFiles(winners)
    val m = awaitMetrics(obs)
    // sums, min and max are null over zero rows
    val eventsIn = Option(m("n")).fold(0L)(_.asInstanceOf[Long])
    // an all-fenced, watermark-filtered or empty batch applied nothing: a
    // metadata-only commit records the epoch (no schema evolution,
    // watermark unchanged)
    if (eventsIn == 0L && added.isEmpty) return commit(Set.empty, Nil, None, 0L, 0L, -1L, -1L)
    val (minLsn, maxLsn) =
      if (eventsIn == 0L) (-1L, -1L)
      else (m("mn").asInstanceOf[Long], m("mx").asInstanceOf[Long])
    val distinctKeys = Option(m("distinctKeys")).fold(0L)(_.asInstanceOf[Long])
    val bucketsRead = m("bucketsRead").asInstanceOf[scala.collection.Seq[Int]].toSet
    val removed = snap.files.filter(f => bucketsRead.contains(f.bucket)).map(_.path).toSet
    commit(removed, added, if (schemaEvolved) Some(evolvedSchema.json) else None,
      eventsIn, distinctKeys, minLsn, maxLsn)
  }
}
