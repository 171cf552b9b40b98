package graft.cdc

import org.apache.spark.sql.functions._

import graft.lake.LakeTable
import graft.model.CdcModel

/** Table maintenance: tombstone GC and small-file compaction.
  *
  * Tombstones (delete markers kept by MERGE, see [[Merge]]) are only needed
  * while an out-of-order or replayed event below their LSN could still
  * arrive. Once every source offset has passed `horizonLsn`, tombstones at or
  * below it are dead weight — this rewrite drops them and coalesces each
  * touched bucket back to one file. Runs as its own snapshot commit, so it is
  * atomic, replayable, and concurrent-safe like any other write.
  */
object Compaction {

  /** Consumer-safe tombstone horizon for [[apply]]: the highest `horizonLsn`
    * that cannot GC a tombstone any listed feed consumer has yet to apply.
    * A consumer's durable offset ([[CdcFeed.readOffset]]) is the last source
    * VERSION it applied; the watermark LSN recorded by that snapshot bounds
    * every tombstone already delivered to it, so the minimum across
    * consumers is safe for all of them — compaction keyed off this value
    * makes the GC-lag divergence [[CdcFeed.reconcile]] repairs structurally
    * impossible (the class-doc contract "horizonLsn must trail every
    * consumer's applied LSN", automated).
    *
    * Degenerate consumers pin the horizon to -1 ("GC nothing"), loudly:
    * one that never ran has applied no tombstone at all, and one whose
    * offset version was vacuumed away will full-resync on its next poll —
    * a resync delivers live rows only, so any tombstone GC'd before it
    * lands would strand deleted keys in that replica (resync or
    * `follow … reconcile` it, then re-compact). */
  def safeHorizon(source: LakeTable, offsetDirs: Seq[String]): Long = {
    require(offsetDirs.nonEmpty, "safeHorizon needs at least one consumer offset dir")
    offsetDirs.map { dir =>
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(source.hconf)
      val v = CdcFeed.readOffset(fs, dir)
      if (v < 0) {
        System.err.println(s"[compact] consumer $dir has never applied a batch — " +
          "horizon -1 (GC nothing) until it syncs")
        -1L
      } else
        try source.describe(v).watermarkLsn
        catch {
          // exactly what vacuum's deletion produces; transient IO keeps its
          // own exception (a guessed-low horizon would silently strand GC)
          case e: java.io.FileNotFoundException =>
            System.err.println(s"[compact] consumer $dir offset version $v " +
              s"expired (${e.getMessage}) — it must resync or reconcile; " +
              "horizon -1 (GC nothing)")
            -1L
        }
    }.min
  }

  /** Drop tombstones with `_lsn <= horizonLsn`; rewrite only buckets that
    * contain at least one such tombstone or more than `maxFilesPerBucket`
    * files. Returns the number of buckets rewritten.
    *
    * The maintenance commit CARRIES THE PARENT'S (appId, batchId) fencing
    * identity instead of stamping its own: auto-compaction can run
    * immediately after a merge commit, and if it published a fresh epoch a
    * restarted stream replaying that merge's batch would no longer be fenced
    * by the latest snapshot (LWW keeps state correct, but merge-on-read
    * would re-append duplicate generation files and lineage double-count).
    * A commit conflict is resolved by [[LakeTable.replaceFiles]]: the
    * rewrite is re-applied to the newer snapshot while the files it read
    * are still there, else the conflict propagates to the caller.
    *
    * @param maxBucketsPerRun rewrite at most this many buckets per run,
    *        most-fragmented first (ties → lowest bucket id): bounds one
    *        maintenance job's cost on a pathologically fragmented table —
    *        repeated runs converge, each bounded.
    */
  def apply(table: LakeTable, horizonLsn: Long,
      maxFilesPerBucket: Int = 1, maxBucketsPerRun: Int = Int.MaxValue): Int = {
    val snap = table.currentSnapshot.getOrElse(return 0)
    compactFrom(table, snap, horizonLsn, maxFilesPerBucket, maxBucketsPerRun)
  }

  /** [[apply]] body with the parent snapshot injectable, so specs can drive
    * the commit-conflict path deterministically (plan the rewrite against a
    * snapshot the table has already moved past). */
  private[graft] def compactFrom(table: LakeTable, snap: graft.lake.Snapshot,
      horizonLsn: Long, maxFilesPerBucket: Int, maxBucketsPerRun: Int): Int = {
    if (snap.files.isEmpty) return 0
    // key-generic like Merge: a config-frontend table with key ["id"]
    // compacts on ITS buckets (shared fallback rule: CdcPipeline.effectiveKeys)
    val keyCols = CdcPipeline.effectiveKeys(snap)
    val filesPerBucket = snap.files.groupBy(_.bucket)
    val fragmented = filesPerBucket.filter(_._2.size > maxFilesPerBucket).keySet

    // find buckets holding expired tombstones (cheap scan of only the two
    // relevant columns — parquet column pruning keeps this tiny; the bucket
    // is each file's partition value). Row LSNs are non-negative, so a
    // negative horizon (auto-compaction's -1 = "fragmentation only, GC
    // nothing") can never match — skip the job. The scan reads `snap`'s own
    // files, not the current snapshot's, so every bucket id this run uses
    // refers to one layout even if the table moves mid-run.
    val stored = table.scan(snap)
    val tombBuckets =
      if (horizonLsn < 0L || !snap.schema.fieldNames.contains(CdcModel.DeletedCol))
        Set.empty[Int]
      else stored
        .filter(coalesce(col(CdcModel.DeletedCol), lit(false)) &&
          col(CdcModel.RowLsnCol) <= horizonLsn)
        .select(LakeTable.BucketCol)
        .distinct().collect().map(_.getInt(0)).toSet

    val candidates = tombBuckets ++ fragmented
    if (candidates.isEmpty) return 0
    val buckets =
      if (candidates.size <= maxBucketsPerRun) candidates
      else candidates.toSeq
        .sortBy(b => (-filesPerBucket.get(b).map(_.size).getOrElse(0), b))
        .take(maxBucketsPerRun).toSet

    // fold merge-on-read generations through the engine's one LWW ranking
    // ([[CdcModel.lwwRank]]), then drop tombstones behind the horizon. The
    // ranking's exchange on `_bucket` is also the writer's clustering, so
    // the rewrite shuffles once.
    val raw = stored.where(col(LakeTable.BucketCol).isin(buckets.toSeq: _*))
    val resolved = CdcModel.lwwResolve(raw, keyCols)
    val del =
      if (resolved.columns.contains(CdcModel.DeletedCol))
        coalesce(col(CdcModel.DeletedCol), lit(false))
      else lit(false)
    val kept = resolved.filter(!(del && col(CdcModel.RowLsnCol) <= horizonLsn))
    val added = table.writeDataFiles(kept)
    val removed = snap.files.filter(f => buckets.contains(f.bucket)).map(_.path).toSet

    table.replaceFiles(snap, removed, added, None, None)
    buckets.size
  }
}
