package graft.cdc

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.lake.LakeTable
import graft.model.CdcModel

/** Downstream change-feed consumer: follow a LakeTable's commit history and
  * re-apply each version range's appended rows to a derived table — the
  * consumer half of the CDC loop (source DB → [[CdcStream]] → table →
  * **feed** → replicas / filtered projections), the reference's
  * extract-load chained one hop further (a teleport user runs a second
  * extract-load whose *source* is the first one's warehouse table;
  * /root/reference/main.go:153-169 composes the same way through the DB).
  *
  * Delivery semantics ride on the table format instead of a broker:
  *
  *  - **What a poll returns**: [[LakeTable.readAppends]] over
  *    `(lastSeen, latest]` — on a merge-on-read source this is EXACTLY the
  *    batches' LWW winners including tombstones (each commit's files ARE its
  *    change set); on copy-on-write it is a superset (rewritten buckets
  *    re-deliver old rows), which last-writer-wins at the target makes
  *    harmless: re-applying any stored row is a no-op by construction
  *    ([[CdcModel.lwwRank]] is op-insensitive).
  *  - **Durable offsets**: the applied version is recorded as a
  *    create-exclusive `offset-<v>.json` marker AFTER the target commit;
  *    resume = max marker. A crash between commit and marker re-presents the
  *    range — fenced to a no-op when the re-poll spans the same versions
  *    (batchId = toVersion, monotonic per appId), and LWW-idempotent when
  *    the re-poll coalesced further versions into a wider range. Exactly-once
  *    STATE, at-least-once delivery — the same contract as the ingest side.
  *  - **Retention interplay**: if the feed falls behind the source's vacuum
  *    horizon (the `fromVersion` snapshot has expired), the delta is
  *    unrecoverable and the feed logs loudly and RESYNCS from the full
  *    current state (correct under LWW, expensive — size the source's
  *    `retainSnapshots` above the consumer's worst-case lag). Tombstone GC
  *    has the matching contract (same as Kafka log compaction / Delta CDF
  *    retention): [[Compaction]]'s `horizonLsn` must trail every consumer's
  *    applied LSN — a tombstone collected before a lagging consumer polled
  *    it leaves the deleted key live in that replica — nothing in the feed
  *    ever re-delivers a delete for it (a resync doesn't either: the key is
  *    merely ABSENT from the resync delivery). [[reconcile]] heals exactly
  *    this: an anti-join of replica keys against source live keys, applied
  *    as deletes. Run it after any lag past the GC horizon — or simply key
  *    compaction's `horizonLsn` off the minimum feed offset so the case
  *    never arises.
  *
  * Scale shape: one poll does O(changed files) data IO on the source (no
  * scan of unchanged buckets), one bucket-pruned MERGE on the target, and
  * O(changed groups) metadata IO — the version-hint GET, two raw snapshot
  * records, only the CHANGED bucket groups' manifests (unchanged groups are
  * recognized by manifest-reference identity and never opened —
  * [[LakeTable.readAppends]]), and one offset-marker write. A month-long
  * tail is the same cost as a month of ingest batches.
  */
object CdcFeed {

  /** One feed run's summary. `toVersion` is the last SOURCE version applied;
    * -1 when the run applied nothing. */
  case class FeedStats(batches: Int, events: Long, fromVersion: Long, toVersion: Long)

  /** Stored-shape rows (payload + `_lsn` + `_deleted`) → change events
    * (payload + `lsn` + `op`): the inverse of what the merge persists.
    * Tombstones become `D` events so deletes propagate; a table written
    * without tombstone columns (plain appends) feeds as pure upserts. */
  def asEvents(stored: DataFrame): DataFrame = {
    require(stored.columns.contains(CdcModel.RowLsnCol),
      s"feed source rows carry no ${CdcModel.RowLsnCol} column — not a CDC table")
    val op =
      if (stored.columns.contains(CdcModel.DeletedCol))
        when(coalesce(col(CdcModel.DeletedCol), lit(false)), lit("D")).otherwise(lit("U"))
      else lit("U")
    val payload = stored.columns.filterNot(c =>
      c == CdcModel.RowLsnCol || c == CdcModel.DeletedCol)
    stored.select(
      (col(CdcModel.RowLsnCol).as(CdcModel.LsnCol) +:
        op.as(CdcModel.OpCol) +:
        payload.map(col).toSeq): _*)
  }

  /** The change batch in `(fromVersion, min(latest, fromVersion +
    * maxVersions)]` as events, or None when the source has no new versions.
    * `maxVersions` is admission control for catch-up polls: a consumer that
    * resumes behind a long-lived source otherwise coalesces EVERY pending
    * commit into one unbounded batch. Initial sync and the vacuum-expired
    * resync (`from` effectively -1) are exempt from the cap — only the
    * contiguous retained tail `[oldest, latest]` is readable, so a clamped
    * `to` could land on an expired version; a full-state rebuild is one
    * batch by design. Falls back to that FULL resync when `fromVersion` has
    * been vacuumed away — see the class doc; the fallback is loud. */
  def poll(source: LakeTable, fromVersion: Long,
      maxVersions: Int = Int.MaxValue): Option[(Long, DataFrame)] = {
    require(maxVersions >= 1, s"maxVersions must be >= 1 (got $maxVersions)")
    val latest = source.latestVersion
    if (latest <= fromVersion) None
    else {
      val from =
        if (fromVersion < 0) -1L
        else
          // raw-record probe (describe): existence is all that matters here,
          // and snapshot() would inflate EVERY manifest of the from-version —
          // O(table groups) GETs per poll on a fresh consumer process
          try { source.describe(fromVersion); fromVersion }
          catch {
            // ONLY the not-found a vacuum's deletion actually produces maps
            // to the resync path — a transient IO fault (throttle, timeout)
            // must keep its own exception and be retried, not silently
            // escalate an O(changed files) poll into a full-table feed
            case e: java.io.FileNotFoundException =>
              System.err.println(s"[feed] source version $fromVersion expired " +
                s"(${e.getMessage}) — resyncing ${source.root} from full state; " +
                "raise the source's retainSnapshots above the consumer's lag")
              -1L
          }
      val to =
        if (from < 0 || maxVersions == Int.MaxValue) latest
        else math.min(latest, from + maxVersions.toLong)
      Some((to, asEvents(source.readAppends(from, to))))
    }
  }

  /** Follow `source` and MERGE each change batch into `target`, creating the
    * target on first contact (source's stored schema, key and bucket count —
    * a replica unless `transform` projects it). Offsets are durable in
    * `offsetDir`; re-running resumes, and a fresh `offsetDir` against an
    * already-fed target is safe (fencing + LWW).
    *
    * @param transform applied to each EVENT-shaped batch (`lsn`, `op`,
    *        payload). Must preserve `lsn`, `op` and the source's key columns
    *        — enforced loudly. Filters must be KEY-derived predicates (a
    *        predicate over mutable payload would strand stale target rows
    *        when a key's row flips out of the filter: nothing re-delivers a
    *        delete for it).
    * @param idlePollsBeforeStop 0 = drain-and-exit on the first empty poll
    *        (Trigger.AvailableNow analogue); k > 0 tails: after an empty
    *        poll it sleeps `pollMs` and re-polls, tolerating k such sleeps
    *        (k+1 consecutive empty polls total) before stopping.
    * @param maxBatches stop after applying this many change batches (bounded
    *        runs: tests, incremental cron pulls).
    * @param maxVersionsPerPoll admission control: cap how many source
    *        versions one poll's batch may span (see [[poll]] — initial sync
    *        and resync are exempt). A consumer resuming behind a long-lived
    *        source then catches up in bounded, offset-committed steps (each
    *        chunk durable before the next starts) instead of one unbounded
    *        merge; clamped polls re-poll immediately, no idle sleep between
    *        chunks.
    * @param startAtVersion begin a BRAND-NEW feed (no offset marker yet) at
    *        this source version exclusive instead of the full initial sync —
    *        the [[graft.streaming.LakeSource]] `startingVersion` analogue,
    *        for key-filtered projections that should follow from a known
    *        point rather than replay history. A durable offset always wins
    *        over it; the replica holds only keys touched after this version
    *        (by construction — document the projection accordingly).
    */
  def pipe(source: LakeTable, target: LakeTable, appId: String, offsetDir: String,
      transform: DataFrame => DataFrame = identity,
      mergeOnRead: Boolean = false,
      idlePollsBeforeStop: Int = 0,
      pollMs: Long = 500L,
      maxBatches: Int = Int.MaxValue,
      maxVersionsPerPoll: Int = Int.MaxValue,
      startAtVersion: Long = -1L): FeedStats = {
    require(startAtVersion >= -1L,
      s"startAtVersion must be a version >= 0, or -1 for the full-sync default (got $startAtVersion)")
    val fs = offsetFs(source, offsetDir)
    // the durable offset WINS even when it is behind startAtVersion: an
    // existing replica's pending range must never be skipped over
    val recorded = readOffset(fs, offsetDir)
    val startV =
      if (recorded >= 0) recorded
      else {
        // pin the anchor DURABLY before the first poll: a follow-from-now
        // feed that starts idle (`from=latest`, nothing new yet) would
        // otherwise record no offset at all, and a rerun resolving `latest`
        // afresh would re-anchor PAST every commit made in between —
        // silently skipping them. The first invocation defines "now".
        if (startAtVersion >= 0) commitOffset(fs, offsetDir, startAtVersion)
        startAtVersion
      }
    var cur = startV
    var batches = 0
    var events = 0L
    var idle = 0
    var keys: Seq[String] = null // resolved once, on first contact
    var pipeline: CdcPipeline = null
    while (batches < maxBatches && idle <= idlePollsBeforeStop) {
      poll(source, cur, maxVersionsPerPoll) match {
        case None =>
          idle += 1
          if (idle <= idlePollsBeforeStop) Thread.sleep(pollMs)
        case Some((toV, batch)) =>
          idle = 0
          val ev = transform(batch)
          if (keys == null) keys = sourceKeys(source)
          val missing = (Seq(CdcModel.LsnCol, CdcModel.OpCol) ++ keys)
            .filterNot(ev.columns.contains)
          require(missing.isEmpty,
            s"feed transform dropped required column(s) ${missing.mkString(", ")} — " +
            s"it must preserve lsn, op and the source key ${keys.mkString("(", ",", ")")}")
          if (pipeline == null) pipeline = targetPipeline(source, target, ev, appId, mergeOnRead)
          val stats = pipeline.applyBatch(ev, batchId = toV,
            sourceOffsets = Map(source.root -> toV), orderedDelivery = false)
          commitOffset(fs, offsetDir, toV)
          cur = toV
          batches += 1
          events += stats.eventsIn
      }
    }
    if (pipeline != null) pipeline.awaitMaintenance()
    FeedStats(batches, events, startV, if (batches == 0) -1L else cur)
  }

  /** Repair a replica that lagged past the source's tombstone-GC horizon:
    * keys live at the TARGET but no longer live at the SOURCE are deleted
    * from the target (one change batch of `D` events at the source's
    * watermark LSN — which bounds every stale row's `_lsn`, and still loses
    * to any legitimately newer re-insert). Scale shape: two live-state
    * reads feeding one left-anti join; the JOIN shuffles keys only, though
    * each live-state read itself pays the normal LWW resolution (payload
    * crosses the window on multi-generation buckets) — a repair pass you
    * run on demand, not per poll. Runs
    * under `<appId>-reconcile` so its fencing epoch never collides with the
    * feed's version-numbered batches. Returns the number of keys repaired.
    *
    * A filtered projection replica must pass the SAME key-derived filter it
    * feeds with as `transform` — otherwise every key outside the filter
    * reads as "not live at the source" and gets deleted... which is an
    * empty set on such a replica (they were never fed), so the default is
    * still safe; passing it just skips the wasted work. */
  def reconcile(source: LakeTable, target: LakeTable, appId: String,
      transform: DataFrame => DataFrame = identity): Long = {
    if (!target.exists) return 0L
    val keys = sourceKeys(source)
    val srcSnap = source.currentSnapshot.get
    val srcLiveKeys = transform(
      asEvents(CdcPipeline.liveState(source)
        .withColumn(CdcModel.RowLsnCol, lit(0L)))) // liveState drops _lsn; only keys matter here
      .select(keys.map(col): _*)
    // cache the stale set: the plan under it (two LWW live-state resolutions
    // + the anti-join) is the expensive part, and it is consumed twice — the
    // emptiness probe and the merge (whose CoW write job evaluates its input
    // twice: for the broadcast bucket set and for the union)
    val stale = CdcPipeline.liveState(target)
      .select(keys.map(col): _*)
      .join(srcLiveKeys, keys, "left_anti")
      .persist()
    try {
      if (stale.isEmpty) return 0L
      // full target payload as typed nulls (a tombstone's payload is never
      // read), so this batch needs no schema reconciliation
      val payload = target.currentSnapshot.get.schema.fields.filterNot(f =>
        f.name == CdcModel.RowLsnCol || f.name == CdcModel.DeletedCol ||
          keys.contains(f.name))
      val deletes = payload.foldLeft(
        stale
          .withColumn(CdcModel.LsnCol, lit(math.max(srcSnap.watermarkLsn, 0L)))
          .withColumn(CdcModel.OpCol, lit("D"))) {
        (d, f) => d.withColumn(f.name, lit(null).cast(f.dataType))
      }
      val pipeline = new CdcPipeline(target, s"$appId-reconcile")
      val nextBatch = target.currentSnapshot.map(_.batchId + 1).getOrElse(0L).max(0L)
      val stats = pipeline.applyBatch(deletes, batchId = nextBatch,
        orderedDelivery = false)
      stats.eventsIn
    } finally stale.unpersist()
  }

  /** The target's pipeline, creating the table on first contact: stored
    * schema derived from the (transformed) event batch, key and bucket count
    * copied from the source so an untransformed feed is a byte-level replica
    * layout. */
  private def targetPipeline(source: LakeTable, target: LakeTable,
      events: DataFrame, appId: String, mergeOnRead: Boolean): CdcPipeline = {
    if (!target.exists) {
      val snap = source.currentSnapshot.getOrElse(
        throw new IllegalStateException(s"feed source ${source.root} has no snapshot"))
      val keys = CdcPipeline.effectiveKeys(snap)
      val payload = events.schema.fields.filterNot(f =>
        f.name == CdcModel.LsnCol || f.name == CdcModel.OpCol)
      val stored = org.apache.spark.sql.types.StructType(payload ++ Seq(
        org.apache.spark.sql.types.StructField(CdcModel.RowLsnCol,
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField(CdcModel.DeletedCol,
          org.apache.spark.sql.types.BooleanType, nullable = false)))
      target.create(stored, snap.numBuckets, appId, keys)
    }
    new CdcPipeline(target, appId, mergeOnRead = mergeOnRead)
  }

  private def sourceKeys(source: LakeTable): Seq[String] =
    CdcPipeline.effectiveKeys(source.currentSnapshot.getOrElse(
      throw new IllegalStateException(s"feed source ${source.root} has no snapshot")))

  // --- durable offsets: `offset-<v>.json` files via the shared
  // [[graft.lake.MonotoneMarkers]] scheme — a crash can only LOSE the newest
  // marker, and losing it merely replays an idempotent range.

  private val markers = new graft.lake.MonotoneMarkers("offset-", ".json")

  private def offsetFs(source: LakeTable, offsetDir: String): FileSystem =
    new HPath(offsetDir).getFileSystem(source.hconf)

  /** Last applied source version, -1 when the feed has never run. */
  def readOffset(fs: FileSystem, offsetDir: String): Long =
    markers.readMax(fs, new HPath(offsetDir))

  private def commitOffset(fs: FileSystem, offsetDir: String, v: Long): Unit =
    markers.advance(fs, new HPath(offsetDir), v, s"""{"version":$v}""")
}
