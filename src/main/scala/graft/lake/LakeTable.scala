package graft.lake

import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, DataType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

/** One data file tracked by a snapshot manifest.
  *
  * `bucket` is the hash-bucket of the table's key (pmod(xxhash64(keys), numBuckets));
  * it is the unit of MERGE rewrite and of scan pruning: a change batch that only
  * touches buckets {3, 17} reads and rewrites only the files with those buckets.
  * At 100 TB / thousands of buckets this is what keeps a CDC upsert from
  * rewriting the whole table (reference rewrites the whole primary table per
  * load: /root/reference/dialect.go:22-29).
  */
case class DataFile(path: String, bucket: Int, rows: Long, bytes: Long)

/** Reference to one immutable manifest file (`meta/manifest-<uuid>.json`)
  * holding the [[DataFile]] entries of one bucket GROUP (a fixed range of
  * `bucketsPerGroup` consecutive buckets, group = bucket / bucketsPerGroup).
  *
  * This is the Iceberg-spec two-level metadata shape (snapshot → manifest
  * list → manifests): a snapshot stores only these references, and a commit
  * REUSES the parent's reference verbatim for every group whose file set did
  * not change. A K-bucket MERGE therefore writes O(K/bucketsPerGroup)
  * manifest files — bounded by the batch, not by the table — where the
  * round-3 format serialized the full table file list into every snapshot
  * (O(table files) driver bytes per micro-batch commit: the one cost that
  * grew with table size).
  *
  * `files`/`rows`/`bytes` are group totals, so `show`-style stats and
  * pruning decisions never need to open the manifest.
  */
case class ManifestRef(path: String, group: Int, files: Int, rows: Long, bytes: Long)

/** An immutable table version. Commit protocol mirrors the reference's
  * staging-table + single-transaction swap (/root/reference/load.go:28-45,
  * 158-168 and transform.go:31-36) re-expressed as an atomic manifest
  * publish: writers never mutate data files, they add/remove whole files and
  * publish a new `snapshot-N.json` with an expected-parent check (optimistic
  * CAS — see [[LakeTable.commit]] for the per-filesystem primitive).
  * `batchId`/`appId` provide commit-epoch fencing so a replayed foreachBatch
  * is a no-op (exactly-once).
  */
case class Snapshot(
    version: Long,
    parentVersion: Long, // -1 for the first snapshot
    schemaJson: String,
    numBuckets: Int,
    files: List[DataFile],
    appId: String,
    batchId: Long, // -1 when not produced by a stream batch
    watermarkLsn: Long, // highest LSN applied up to and including this snapshot
    sourceOffsets: Map[String, Long], // per-source-partition last applied LSN
    keyCols: Seq[String] = Nil, // primary key the buckets hash (Nil in pre-round-3 manifests)
    // Persisted form (round 4+): `manifests` carries the bucket-group
    // manifest references and `files` is written EMPTY; [[LakeTable.snapshot]]
    // re-inflates `files` on read so every in-memory consumer keeps the flat
    // list. Pre-round-4 snapshots have `files` inline and `manifests` empty —
    // both forms read transparently; the first commit on a legacy table
    // migrates it.
    manifests: List[ManifestRef] = Nil,
    // The bucket-group granule `manifests` was grouped with — PERSISTED so a
    // chain of commits always groups consistently with its parent's refs. A
    // session configured with a different `graft.manifest.bucketsPerGroup`
    // than the table was committed with would otherwise compute group numbers
    // in a new layout while reusing parent references from the old one: a
    // coincidental file-count match could then record a manifest whose file
    // set is not the group's actual files (silent snapshot corruption). The
    // conf only applies to NEW tables (and to legacy tables on their
    // migration commit); 0 = pre-round-5 snapshot with no recorded granule.
    bucketsPerGroup: Int = 0
) {
  def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
}

object Snapshot {
  implicit val formats: Formats = DefaultFormats
  def toJson(s: Snapshot): String = Serialization.writePretty(s)
  def fromJson(j: String): Snapshot = Serialization.read[Snapshot](j)
}

/** Concurrent-commit conflict: someone else published the version we tried to. */
class CommitConflictException(msg: String) extends RuntimeException(msg)

/** From-scratch Iceberg-style table: Parquet data files + JSON snapshot
  * manifests with atomic commits. (No Iceberg/Delta jars exist in this
  * offline environment, so the table format is implemented here; the public
  * Iceberg spec's snapshot/manifest/optimistic-commit model is the design
  * reference.)
  *
  * Layout:
  * {{{
  *   <root>/data/<uuid>.parquet       — immutable data files
  *   <root>/meta/snapshot-<N>.json    — manifest per version
  *   <root>/lineage/<n>.json          — per-batch lineage records
  * }}}
  *
  * ALL metadata IO goes through the Hadoop `FileSystem` API resolved from
  * `root`'s scheme, so the same table code runs on local disk (`file://`,
  * tests), HDFS and HCFS object stores — the only places a 100 TB table can
  * actually live; `java.nio` would bind it to posix. Readers resolve the
  * latest snapshot by max N; writers commit with an expected-parent CAS
  * (create-exclusive / rename-without-overwrite, see [[commit]]). All data
  * paths in the manifest are relative to `<root>/data`.
  */
final class LakeTable(val root: String, spark: SparkSession) {
  import LakeTable._

  private val rootPath: HPath = new HPath(root)
  private[graft] val hconf: Configuration = spark.sessionState.newHadoopConf()
  private[graft] val fs: FileSystem = rootPath.getFileSystem(hconf)
  private val dataDir: HPath = new HPath(rootPath, "data")
  private val metaDir: HPath = new HPath(rootPath, "meta")

  def exists: Boolean = fs.isDirectory(metaDir) && latestVersion >= 0

  private def allVersions: List[Long] = {
    if (!fs.isDirectory(metaDir)) return Nil
    fs.listStatus(metaDir).iterator
      .map(_.getPath.getName)
      .collect { case SnapshotName(n) => n.toLong }
      .toList.sorted
  }

  private def snapshotPath(v: Long): HPath = new HPath(metaDir, s"snapshot-$v.json")
  private def hintPath: HPath = new HPath(metaDir, "version-hint.text")

  /** Latest committed version, resolved WITHOUT listing `meta/` when the
    * best-effort `version-hint.text` (the Iceberg HadoopTableOperations
    * pattern) is present: read the hint, then probe FORWARD until the next
    * snapshot slot is empty. Sound because versions are consecutive by
    * construction (version = parent+1 under the commit CAS) and vacuum only
    * expires the OLDEST, so the existing records always form a contiguous
    * tail — a hint that is stale-low (a writer crashed between publish and
    * hint write, or a racing commit landed since) is corrected by the probe,
    * and a hint pointing at an EXPIRED version misses its probe base and
    * falls back to the listing. Turns the per-read/per-commit metadata cost
    * from one LIST (O(retained files), the expensive+slow call on object
    * stores) into one GET + ~1-2 existence probes. The hint is written
    * best-effort after every successful commit; any failure to read,
    * parse, or trust it degrades to the listing, never to a wrong answer. */
  def latestVersion: Long = {
    val hinted: Long =
      try {
        val h = readString(fs, hintPath).trim.toLong
        if (h < 0 || !fs.exists(snapshotPath(h))) -1L // stale/expired → list
        else {
          var v = h
          while (fs.exists(snapshotPath(v + 1))) v += 1
          // re-check the landing slot: a vacuum racing this probe deletes
          // expired records in ASCENDING version order (see [[vacuum]]), so
          // if the probe stopped because vacuum removed v+1, v itself is
          // already gone too — the recheck detects exactly that race and
          // falls back to the listing (whose max is race-free: vacuum never
          // deletes the newest retained record). One extra GET, only here.
          if (fs.exists(snapshotPath(v))) v else -1L
        }
      } catch { case _: Exception => -1L }
    if (hinted >= 0) hinted else allVersions.foldLeft(-1L)(math.max)
  }

  /** Snapshot with `files` inflated from its manifests (cached — manifests
    * are immutable, so one read per path per process). */
  def snapshot(version: Long): Snapshot = inflate(rawSnapshot(version))

  /** The persisted snapshot record as-is: manifest REFERENCES only, no file
    * entries (for round-4 snapshots). O(#groups) bytes — what commit and
    * vacuum consult when the flat file list isn't needed. */
  private def rawSnapshot(version: Long): Snapshot =
    Snapshot.fromJson(readString(fs, new HPath(metaDir, s"snapshot-$version.json")))

  private def inflate(s: Snapshot): Snapshot =
    if (s.manifests.isEmpty) s else s.copy(files = loadManifests(s.manifests))

  /** Immutable manifest contents, cached by path — BOUNDED LRU: a streaming
    * driver commits manifests every few seconds for weeks, and an unbounded
    * map would retain every superseded generation forever (a slow driver
    * leak). 8192 entries covers a 10^5-bucket table's full manifest set
    * (~3e3 at 32 buckets/group) with headroom; eviction only costs a re-read.
    */
  private val manifestCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, List[DataFile]](256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, List[DataFile]]): Boolean = size() > 8192
      })

  // count of manifest files actually READ (cache misses) — the IO-boundedness
  // specs assert on this (e.g. readAppends touches O(changed groups) manifests)
  private[graft] val manifestReads = new java.util.concurrent.atomic.AtomicInteger()

  private def loadManifest(path: String): List[DataFile] = {
    val hit = manifestCache.get(path)
    if (hit != null) return hit
    implicit val formats: Formats = DefaultFormats
    manifestReads.incrementAndGet()
    val files = Serialization.read[List[DataFile]](readString(fs, new HPath(metaDir, path)))
    manifestCache.put(path, files) // idempotent on a racing double-load
    files
  }

  /** Parallel manifest loads: a 1e5-bucket table has O(10^3) small manifests
    * and sequential opens would dominate driver-side snapshot resolution on
    * an object store. Deterministic order: refs are stored sorted by group,
    * entries sorted by path. Runs on the shared [[LakeTable.ioPool]] — a
    * streaming driver resolves a snapshot every micro-batch for weeks, and a
    * per-call thread pool would churn 16 threads per batch. */
  private def loadManifests(refs: List[ManifestRef]): List[DataFile] =
    LakeTable.inParallel(refs)(r => loadManifest(r.path)).flatten

  private def writeManifest(group: Int, files: List[DataFile]): ManifestRef = {
    val name = s"manifest-${UUID.randomUUID()}.json"
    implicit val formats: Formats = DefaultFormats
    writeString(fs, new HPath(metaDir, name), Serialization.write(files))
    manifestCache.put(name, files)
    ManifestRef(name, group, files.size, files.map(_.rows).sum, files.map(_.bytes).sum)
  }

  /** Buckets per manifest group — the rewrite granule of commit metadata.
    * Bounded CONSTANT (not a fraction of numBuckets), so one manifest holds
    * the entries of ≤32 buckets (~32-130 files once compacted) and a K-bucket
    * batch rewrites ⌈K/32⌉ manifests regardless of table size. The snapshot
    * record itself holds numBuckets/32 references — fixed by the table's
    * bucket CONFIG (≈3e3 refs / ~300 KB at the 100 TB sizing rule's 1e5
    * buckets), not growing with file count or commit history.
    * NOTE: this conf seeds NEW tables only — commits on an existing table
    * use the granule persisted in the parent snapshot (see [[commit]]). */
  private def bucketsPerGroup: Int =
    spark.conf.get("graft.manifest.bucketsPerGroup", "32").toInt

  def currentSnapshot: Option[Snapshot] = latestVersion match {
    case -1L => None
    case v   => Some(snapshot(v))
  }

  /** All RETAINED snapshot versions, ascending — the time-travel horizon.
    * `vacuum(retainSnapshots = k)` bounds how far back this reaches; a
    * version absent here has been expired and its files may be gone. */
  def versions: List[Long] = allVersions

  /** The persisted snapshot record at `version` WITHOUT inflating manifests
    * — O(#groups) metadata, for history listings: [[ManifestRef]] carries
    * per-group file/row/byte totals, so per-version stats never open a
    * manifest (`files` is empty on round-4+ snapshots; legacy snapshots
    * carry it inline). Use [[snapshot]] when the flat file list is needed. */
  def describe(version: Long): Snapshot = rawSnapshot(version)

  /** Time-travel read: the table's file state as of snapshot `version`
    * (same physical-rows semantics as [[read]] — CDC readers resolve LWW via
    * [[graft.cdc.CdcPipeline.liveState]], which has a versioned overload).
    * The version must still be retained; reading an expired snapshot fails
    * with the missing-manifest error. Schema is the snapshot's own, so a
    * read below a schema-evolution commit sees the old columns. */
  def readAt(version: Long): DataFrame = {
    val s = snapshot(version)
    readFiles(s, s.files)
  }

  /** Incremental read: rows in data files ADDED between `fromVersion`
    * (exclusive; -1 = since table creation) and `toVersion` (inclusive) —
    * the Iceberg incremental-append scan, the feed for downstream
    * consumers that want "what changed since I last looked" without
    * re-scanning the table. O(changed files) IO by construction.
    *
    * Exact change semantics on merge-on-read tables: each MOR commit's
    * added files are exactly its batch's LWW winners (tombstones included,
    * `_deleted=true`), because the merge never rewrites target files. On
    * copy-on-write commits a rewritten bucket's file also carries the
    * CARRIED rows of that bucket — a superset of the changes, same caveat
    * as Iceberg's append scan over rewrites. Schema is `toVersion`'s.
    * Metadata cost: O(changed groups) manifest reads (unchanged bucket
    * groups are recognized by manifest-reference identity and never opened).
    */
  def readAppends(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"readAppends needs fromVersion < toVersion (got $fromVersion, $toVersion)")
    val toRaw = rawSnapshot(toVersion)
    val added: List[DataFile] =
      if (fromVersion < 0) inflate(toRaw).files
      else {
        val fromRaw = rawSnapshot(fromVersion)
        // Two-level fast path: manifests are IMMUTABLE, so a group whose
        // manifest reference is identical in both snapshots contributes no
        // new files — skip loading it entirely. A month-long feed tail then
        // costs O(changed groups) manifest GETs per poll instead of
        // re-inflating the whole table's metadata on both sides (~2×#groups
        // GETs per poll on a fresh consumer process — the dominant poll cost
        // at 1e5 buckets). Group numbers are only comparable when both
        // snapshots were grouped with the same persisted granule; commit()
        // keeps the parent's granule, so a chain is uniform — the guard only
        // trips across a legacy-format migration, where we fall back to the
        // full path-set diff.
        val sameGranule = toRaw.bucketsPerGroup > 0 &&
          fromRaw.bucketsPerGroup == toRaw.bucketsPerGroup
        if (!sameGranule || toRaw.manifests.isEmpty || fromRaw.manifests.isEmpty) {
          val before = inflate(fromRaw).files.map(_.path).toSet
          inflate(toRaw).files.filterNot(f => before.contains(f.path))
        } else {
          val fromByGroup = fromRaw.manifests.map(m => m.group -> m).toMap
          val changed = toRaw.manifests.filterNot(m =>
            fromByGroup.get(m.group).exists(_.path == m.path))
          // `before` needs only the CHANGED groups' parent manifests: a data
          // file's bucket (hence group) is fixed, so a path present in the
          // from-snapshot can only recur in the same group's to-manifest
          val before = inParallel(changed.flatMap(m => fromByGroup.get(m.group)))(
            r => loadManifest(r.path)).flatten.map(_.path).toSet
          inParallel(changed)(r => loadManifest(r.path))
            .flatten.filterNot(f => before.contains(f.path))
        }
      }
    readFiles(toRaw, added)
  }

  // The most recent snapshot THIS process committed, flat file list included —
  // a free read for heuristic per-batch probes (the auto-compaction
  // fragmentation check), which would otherwise pay a listStatus + snapshot
  // read + manifest inflation per micro-batch. May be stale vs OTHER writers;
  // correctness decisions must use currentSnapshot.
  @volatile private var lastCommittedSnap: Snapshot = null
  private[graft] def lastCommitted: Option[Snapshot] = Option(lastCommittedSnap)

  /** Read the current table state. Schema comes from the manifest (not file
    * footers) so schema-evolution commits govern; files written before an
    * added column are read with that column as null (Parquet missing-column
    * semantics), which is exactly the widening rule of SURVEY.md §2.2 P2/P3.
    */
  def read(): DataFrame = currentSnapshot match {
    case None => throw new IllegalStateException(s"no snapshot in $root")
    case Some(s) => readFiles(s, s.files)
  }

  /** Read only the files whose bucket is in `buckets` — partition pruning for
    * MERGE and for bucket-filtered scans.
    */
  def readBuckets(s: Snapshot, buckets: Set[Int]): DataFrame =
    readFiles(s, s.files.filter(f => buckets.contains(f.bucket)))

  /** The bucket a CONCRETE key hashes to under this snapshot's recorded
    * layout — the reader-side inverse of [[LakeTable.bucketExpr]]. Evaluated
    * by running the writer's OWN expression over a one-row local relation
    * (each value first cast to its key column's recorded type), so reader
    * and writer can never disagree on the hash — the same exact-types rule
    * the merge's key-layout guard enforces on the write side. Point lookups
    * use this to prune a keyed read to ONE bucket's files:
    * O(table/numBuckets) IO instead of a full scan.
    */
  def bucketOf(s: Snapshot, keyCols: Seq[String], keyValues: Map[String, Any]): Int = {
    require(keyCols.nonEmpty, "bucketOf needs the table's key columns")
    val missing = keyCols.filterNot(keyValues.contains)
    require(missing.isEmpty,
      s"bucketOf needs a value for EVERY key column (missing ${missing.mkString(", ")}) — " +
      "the bucket hash covers the full key, so a partial key cannot prune")
    val nulls = keyCols.filter(k => keyValues(k) == null)
    require(nulls.isEmpty,
      s"null key value for ${nulls.mkString(", ")} — key columns are non-null " +
      "by the write-side layout guard, so no stored row can match")
    val schema = s.schema
    val fieldOf = keyCols.map { k =>
      k -> schema.fields.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(
          s"key column $k is not in the snapshot schema (${schema.fieldNames.mkString(", ")})"))
    }.toMap
    // resolve the INPUT value types first: this is also the guard that turns
    // an unsupported value type into a diagnostic naming the key column —
    // it must run before any other lit(keyValues(k)) call, which would
    // throw Spark's raw 'Unsupported literal type' past the friendly path
    val inType = keyCols.map { k =>
      k -> (try org.apache.spark.sql.catalyst.expressions.Literal(keyValues(k)).dataType
      catch { case e: RuntimeException => throw new IllegalArgumentException(
        s"unsupported value type for key column $k: ${keyValues(k).getClass.getName}", e) })
    }.toMap
    // try_cast: null on a bad value under EVERY ansi mode (a plain cast
    // throws a raw CAST_INVALID_INPUT under ansi=true and silently nulls
    // under ansi=false — and xxhash64 SKIPS null children, so an unchecked
    // null would hash to a wrong-but-plausible bucket: a silent miss)
    val typed = keyCols.map(k => lit(keyValues(k)).try_cast(fieldOf(k).dataType).as(k))
    // …and a cast that SUCCEEDS but changes the value (42.9 passed for a
    // long key truncates to 42) would silently return ANOTHER key's row:
    // require the typed value to round-trip back to the input, in the
    // input's own type domain
    val roundtrip = keyCols.map(k =>
      (col(k).cast(inType(k)) <=> lit(keyValues(k))).as(s"_rt_$k"))
    import spark.implicits._
    // a true LocalRelation — NOT spark.range(1), which is a Range exec and
    // would launch a real one-task job per lookup; this folds to a
    // LocalTableScan evaluated driver-side
    val row = Seq(1).toDF("one").select(typed: _*)
      .select((keyCols.map(col) ++ roundtrip :+
        bucketExpr(keyCols, s.numBuckets).as("_b")): _*)
      .head()
    keyCols.zipWithIndex.foreach { case (k, i) =>
      require(!row.isNullAt(i),
        s"value '${keyValues(k)}' for key column $k does not cast to its recorded " +
        s"type (${fieldOf(k).dataType.simpleString}) — no stored row can match it")
      require(row.getBoolean(keyCols.length + i),
        s"value '${keyValues(k)}' for key column $k does not round-trip through its " +
        s"recorded type (${fieldOf(k).dataType.simpleString}) — the cast is lossy, " +
        "so the lookup would silently hit a DIFFERENT key")
    }
    row.getInt(2 * keyCols.length)
  }

  private def readFiles(s: Snapshot, files: List[DataFile]): DataFrame = {
    val schema = s.schema
    if (files.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else {
      spark.read.schema(schema).parquet(files.map(f => new HPath(dataDir, f.path).toString): _*)
    }
  }

  /** Write `df`'s rows as new immutable data files, one group per key bucket.
    * `df` must already contain an integer `_bucket` column; rows are hash
    * co-located so each output file holds exactly one bucket (the invariant
    * `readBuckets`/MERGE pruning rely on). Returns the created files; does NOT
    * commit.
    */
  def writeDataFiles(df: DataFrame, numBuckets: Int): List[DataFile] = {
    fs.mkdirs(dataDir)
    val staging = new HPath(dataDir, s".staging-${UUID.randomUUID()}")
    try {
      // One shuffle: co-locate rows of a bucket, then write partitioned by
      // bucket so every parquet file holds a single bucket.
      df.repartition(math.min(numBuckets, df.sparkSession.sparkContext.defaultParallelism * 2),
          col(BucketCol))
        .write.mode("overwrite").partitionBy(BucketCol).parquet(staging.toString)
      collectStagedFiles(staging)
    } finally {
      fs.delete(staging, true)
    }
  }

  /** Like writeDataFiles but trusts df's existing partitioning (no shuffle) —
    * used by MERGE, which has already co-located rows by bucket via its join.
    */
  def writeDataFilesPrePartitioned(df: DataFrame): List[DataFile] = {
    fs.mkdirs(dataDir)
    val staging = new HPath(dataDir, s".staging-${UUID.randomUUID()}")
    try {
      df.write.mode("overwrite").partitionBy(BucketCol).parquet(staging.toString)
      collectStagedFiles(staging)
    } finally {
      fs.delete(staging, true)
    }
  }

  /** Move staged parquet out of `_bucket=N/part-*.parquet` layout into flat
    * uuid-named immutable files, recording (bucket, rows, bytes) per file.
    * The rename target is a fresh uuid, so plain `fs.rename` is safe on any
    * filesystem (no destination ever exists).
    */
  private def collectStagedFiles(staging: HPath): List[DataFile] = {
    val bucketDirs = fs.listStatus(staging).toList
      .filter(_.getPath.getName.startsWith(s"$BucketCol="))
    val moved = bucketDirs.flatMap { bdir =>
      val bucket = bdir.getPath.getName.stripPrefix(s"$BucketCol=").toInt
      fs.listStatus(bdir.getPath).toList
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map { src =>
          val name = s"$bucket-${UUID.randomUUID().toString}.parquet"
          val dst = new HPath(dataDir, name)
          if (!fs.rename(src.getPath, dst))
            throw new java.io.IOException(s"rename ${src.getPath} -> $dst failed")
          // restart the vacuum grace clock AT PUBLICATION: rename preserves
          // mtime, so a task file closed early in a write job longer than
          // graceMs would otherwise land in data/ already "old" —
          // unreferenced until the commit, and a concurrent vacuum would
          // delete it before the snapshot publishes (data loss). setTimes is
          // one cheap RPC per file; ignore filesystems that refuse it (the
          // grace default still covers any sane write-to-commit gap there).
          try fs.setTimes(dst, System.currentTimeMillis(), -1)
          catch { case _: UnsupportedOperationException | _: java.io.IOException => }
          (name, bucket, dst)
        }
    }
    // footer row-counts in parallel (shared pool) — a merge can produce
    // hundreds of files and sequential footer opens would dominate
    // small-batch latency
    LakeTable.inParallel(moved) { case (name, bucket, dst) =>
      DataFile(name, bucket, parquetRowCount(dst), fs.getFileStatus(dst).getLen)
    }
  }

  /** Row count from the parquet footer (no data read). */
  private def parquetRowCount(p: HPath): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val in = HadoopInputFile.fromPath(p, hconf)
    val r = ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Atomically publish a new snapshot whose parent must be `expectedParent`
    * (optimistic CAS); throws CommitConflictException when the slot is taken.
    *
    * The publish primitive is create-EXCLUSIVE, per filesystem:
    *  - local (`file://`): an atomic hard link onto the version slot —
    *    link(2) fails with EEXIST if the slot is taken, so two racing
    *    committers can never both succeed (a rename would silently replace
    *    the earlier winner's manifest: a lost commit).
    *  - HDFS and rename-atomic HCFS: write a temp manifest, then
    *    rename-without-overwrite — the namenode rejects a rename onto an
    *    existing path atomically.
    *  - object stores without atomic rename (raw S3) need a pointer-swap
    *    service for this one operation, exactly as Iceberg requires a
    *    catalog there; everything else in this class is plain HCFS IO.
    */
  def commit(s: Snapshot, expectedParent: Long): Snapshot =
    commit(s, expectedParent, None)

  /** @param changedGroups manifest groups whose file set differs from the
    *        parent (writers that know their removed/added files pass this —
    *        see [[replaceFiles]]); every other group REUSES the parent's
    *        manifest reference with no IO. None = unknown: groups are
    *        compared against the parent by stats + (cached) content, which
    *        still reuses identical groups, just with a verification read.
    */
  private[lake] def commit(s: Snapshot, expectedParent: Long,
      changedGroups: Option[Set[Int]],
      knownParent: Option[Snapshot] = None): Snapshot = {
    require(s.parentVersion == expectedParent, s"snapshot parent ${s.parentVersion} != expected $expectedParent")
    require(s.version == expectedParent + 1, s"snapshot version must be parent+1")
    fs.mkdirs(metaDir)
    val cur = latestVersion
    if (cur != expectedParent)
      throw new CommitConflictException(s"expected parent $expectedParent but table is at $cur")

    // --- two-level metadata: group the file list into bucket-range
    // manifests, reusing the parent's manifest files for unchanged groups.
    // Only the changed groups' manifests + the O(#groups) snapshot record
    // are written — O(batch) commit bytes at any table size. Orphans from a
    // lost commit race are collected by vacuum (grace-guarded).
    // Callers that hold the parent Snapshot pass it down — saves one
    // metadata read per commit (a per-micro-batch cost on an object store).
    val parentSnap: Option[Snapshot] =
      if (expectedParent < 0) None
      else Some(knownParent.getOrElse(rawSnapshot(expectedParent)))
    // THE STORED GRANULE GOVERNS: group numbers must be computed in the same
    // layout the parent's manifest refs were grouped with, or ref reuse would
    // silently record wrong file sets (see [[Snapshot.bucketsPerGroup]]).
    // The session conf applies to NEW tables and to parents with no stored
    // granule. A round-4 parent (manifests present, granule not recorded)
    // could have been grouped under ANY granule — its refs are therefore
    // NOT reusable (a group-number match against a conf-derived layout
    // would be coincidental), so the migration commit rewrites every
    // manifest once, stamping the granule for all subsequent commits.
    val bpg = parentSnap.map(_.bucketsPerGroup).filter(_ > 0).getOrElse(bucketsPerGroup)
    val granuleUnknown = parentSnap.exists(p =>
      p.bucketsPerGroup <= 0 && p.manifests.nonEmpty)
    val parentRefs: Map[Int, ManifestRef] =
      if (granuleUnknown) Map.empty
      else parentSnap.map(_.manifests).getOrElse(Nil).map(m => m.group -> m).toMap
    val refs = s.files.groupBy(_.bucket / bpg).toList.sortBy(_._1).map {
      case (g, fl) =>
        val sorted = fl.sortBy(_.path)
        parentRefs.get(g) match {
          // writer declared the group untouched — reuse (size sanity-checked)
          case Some(ref) if changedGroups.exists(cg => !cg.contains(g)) &&
              ref.files == sorted.size => ref
          // no hint: reuse only on proven identity (stats fast-path, then
          // path-set equality against the cached parent manifest)
          case Some(ref) if changedGroups.isEmpty && ref.files == sorted.size &&
              ref.rows == sorted.map(_.rows).sum && ref.bytes == sorted.map(_.bytes).sum &&
              loadManifest(ref.path).map(_.path).sorted == sorted.map(_.path) => ref
          case _ => writeManifest(g, sorted)
        }
    }

    val target = new HPath(metaDir, s"snapshot-${s.version}.json")
    val tmp = new HPath(metaDir, s".commit-${UUID.randomUUID()}.json")
    writeString(fs, tmp,
      Snapshot.toJson(s.copy(files = Nil, manifests = refs, bucketsPerGroup = bpg)))
    try {
      if (isLocalFs) {
        // atomic-exclusive on posix: hard-link the temp file onto the slot
        try {
          java.nio.file.Files.createLink(localNio(target), localNio(tmp))
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new CommitConflictException(s"snapshot ${s.version} already committed")
        }
      } else {
        if (fs.exists(target))
          throw new CommitConflictException(s"snapshot ${s.version} already committed")
        if (!fs.rename(tmp, target)) {
          // HDFS rename returns false for non-conflict faults too (missing
          // temp, parent trouble, transient namenode errors). Misreporting
          // those as a conflict would make applyBatch re-run the full merge
          // 5 times against phantom contention and then diagnose the wrong
          // thing — only call it a conflict if a racing commit actually took
          // the slot between the exists probe and the rename.
          if (fs.exists(target))
            throw new CommitConflictException(s"snapshot ${s.version} already committed")
          throw new java.io.IOException(
            s"rename $tmp -> $target returned false with no competing snapshot " +
            "present — filesystem fault, not a commit conflict")
        }
      }
      // best-effort version hint (see [[latestVersion]]): losing this write —
      // or a concurrent committer overwriting it with its own version — only
      // costs the next reader a forward probe or a listing, never correctness
      try writeString(fs, hintPath, s.version.toString)
      catch { case _: java.io.IOException => }
      // in-memory result keeps the flat file list AND the manifest refs (and
      // the granule they were grouped with), so a follow-up commit with this
      // snapshot as parent reuses refs with no IO
      val published = s.copy(manifests = refs, bucketsPerGroup = bpg)
      lastCommittedSnap = published
      published
    } finally {
      fs.delete(tmp, false)
    }
  }

  private def isLocalFs: Boolean = {
    val scheme = fs.getUri.getScheme
    scheme == null || scheme == "file"
  }

  private def localNio(p: HPath): java.nio.file.Path =
    java.nio.file.Paths.get(p.toUri.getPath)

  /** Create the table with an initial (possibly empty) snapshot. */
  def create(schema: StructType, numBuckets: Int, appId: String,
      keyCols: Seq[String] = Nil): Snapshot = {
    val s = Snapshot(0L, -1L, schema.json, numBuckets, Nil, appId, -1L, -1L,
      Map.empty, keyCols)
    commit(s, -1L)
  }

  /** Full-refresh semantics (reference Full strategy, dialect.go:22-24):
    * replace the entire file set with `df`'s rows in one snapshot.
    */
  def overwrite(df: DataFrame, keyCols: Seq[String], appId: String, batchId: Long = -1L,
      watermarkLsn: Long = -1L, offsets: Map[String, Long] = Map.empty): Snapshot = {
    val parent = currentSnapshot.getOrElse(throw new IllegalStateException("create() first"))
    val bucketed = withBucket(df, keyCols, parent.numBuckets)
    val files = writeDataFiles(bucketed, parent.numBuckets)
    val s = Snapshot(parent.version + 1, parent.version, df.schema.json, parent.numBuckets,
      files, appId, batchId, watermarkLsn, offsets, keyCols)
    commit(s, parent.version, None, knownParent = Some(parent))
  }

  /** Replace a subset of files (MERGE rewrite unit) and/or evolve schema. */
  def replaceFiles(parent: Snapshot, removed: Set[String], added: List[DataFile],
      newSchemaJson: Option[String], appId: String, batchId: Long,
      watermarkLsn: Long, offsets: Map[String, Long]): Snapshot = {
    val kept = parent.files.filterNot(f => removed.contains(f.path))
    val s = Snapshot(parent.version + 1, parent.version,
      newSchemaJson.getOrElse(parent.schemaJson), parent.numBuckets,
      kept ++ added, appId, batchId, watermarkLsn, offsets, parent.keyCols)
    // the writer knows exactly which manifest groups its removed+added files
    // live in — every other group's manifest is reused verbatim. Group
    // numbers MUST be computed in the parent's stored granule (commit()
    // resolves the same value), or the changed-set would name groups in a
    // different layout than the refs being reused.
    val bpg = if (parent.bucketsPerGroup > 0) parent.bucketsPerGroup else bucketsPerGroup
    val changed = (parent.files.filter(f => removed.contains(f.path)).map(_.bucket) ++
      added.map(_.bucket)).map(_ / bpg).toSet
    val committed = commit(s, parent.version, Some(changed),
      knownParent = Some(parent))
    // data files removed from the manifest stay on disk until vacuum() —
    // time-travel readers of older snapshots remain valid.
    committed
  }

  /** Schema-evolution commit with no data change (all manifests reused). */
  def updateSchema(newSchema: StructType, appId: String): Snapshot = {
    val parent = currentSnapshot.getOrElse(throw new IllegalStateException("create() first"))
    commit(parent.copy(version = parent.version + 1, parentVersion = parent.version,
      schemaJson = newSchema.json, appId = appId, batchId = -1L), parent.version,
      Some(Set.empty), knownParent = Some(parent))
  }

  /** Full rewrite into a new bucket count — the escape hatch for a table
    * whose numBuckets was sized wrong (it is otherwise fixed at create; see
    * [[graft.cdc.Merge]]'s sizing rule — a bucket should hold ~0.5-2 GB live).
    * Merge-on-read generations are FOLDED through the canonical LWW order
    * ([[graft.model.CdcModel.lwwResolve]] — the same fold compaction runs),
    * tombstones retained: the rewrite produces one single-GENERATION file
    * per bucket, which is the invariant the generation-aware read path
    * ([[graft.cdc.CdcPipeline]]) presumes of single-file buckets. Writing
    * the raw generations instead would co-locate a key's whole history in
    * one file and silently resurrect superseded rows on the window-skipping
    * fast read. Live state, LWW idempotence, and fencing are unchanged by
    * the fold (winners win either way); the commit CARRIES the parent's
    * (appId, batchId) fencing identity, like [[graft.cdc.Compaction]], so a
    * restarted stream replaying the last batch stays fenced. One snapshot
    * commit; superseded files stay for time travel until vacuum().
    */
  def rebucket(newNumBuckets: Int, keyCols: Seq[String]): Snapshot = {
    require(newNumBuckets > 0, "numBuckets must be positive")
    require(keyCols.nonEmpty, "rebucket needs the table's key columns")
    val parent = currentSnapshot.getOrElse(throw new IllegalStateException("create() first"))
    val rows =
      if (parent.schema.fieldNames.contains(graft.model.CdcModel.RowLsnCol))
        graft.model.CdcModel.lwwResolve(read(), keyCols)
      else read()
    val bucketed = withBucket(rows, keyCols, newNumBuckets)
    val files = writeDataFiles(bucketed, newNumBuckets)
    val s = Snapshot(parent.version + 1, parent.version, parent.schemaJson,
      newNumBuckets, files, parent.appId, parent.batchId, parent.watermarkLsn,
      parent.sourceOffsets, keyCols)
    commit(s, parent.version, None, knownParent = Some(parent))
  }

  /** Expire-snapshots + orphan cleanup (the Iceberg maintenance pair),
    * bounding BOTH directions of growth:
    *  - `meta/`: snapshot records older than the last `retainSnapshots` are
    *    deleted, then manifest files no retained snapshot references — so
    *    metadata is O(retained versions × groups), not O(commit history).
    *  - `data/`: files no RETAINED snapshot references are deleted (time
    *    travel ends at the retention horizon).
    * Returns the number of data files deleted.
    *
    * @param graceMs skip files modified within the last `graceMs` ms: a
    *        concurrent writer stages + renames data files (and writes
    *        manifests) BEFORE its commit publishes them, so a zero-grace
    *        vacuum racing that writer would delete files its imminent
    *        snapshot references. Defaults to 10 minutes; tests that own the
    *        table exclusively pass 0.
    * @param retainSnapshots how many latest snapshots stay readable
    *        (min 1). The default keeps only the current version — the
    *        round-3 data-file semantics, now also applied to metadata.
    */
  def vacuum(graceMs: Long = 600000L, retainSnapshots: Int = 1): Int =
    try vacuumOnce(graceMs, retainSnapshots)
    catch {
      // a CONCURRENT vacuum with a smaller retention deleted a record or
      // manifest we listed as retained, between our listing and the read —
      // the other run is already doing (more of) this cleanup. Step 1's
      // per-file deletes are guarded the same way; for the retained-side
      // READS the safe move is to stand down, not to treat the vanished
      // snapshot's files as unreferenced. Periodic callers simply succeed
      // on their next cycle.
      case e: java.io.FileNotFoundException =>
        System.err.println(s"[vacuum] lost a race with a concurrent vacuum " +
          s"(${e.getMessage}) — standing down, nothing deleted this run")
        0
    }

  private def vacuumOnce(graceMs: Long, retainSnapshots: Int): Int = {
    val keep = math.max(1, retainSnapshots)
    val cutoff = System.currentTimeMillis() - graceMs
    val versions = allVersions
    if (versions.isEmpty) return 0
    val retained = versions.takeRight(keep).map(rawSnapshot)

    // 1. expire old snapshot records (grace-guarded like everything else;
    // an overlapping maintenance run may have deleted an entry between our
    // listing and the stat — skip, don't abort the rest of the cleanup).
    // INVARIANT: deletion proceeds in ASCENDING version order (`versions` is
    // sorted) — [[latestVersion]]'s hint-probe race detection relies on "if
    // v+1 was vacuumed, v already was too"; don't parallelize or reorder.
    versions.dropRight(keep).foreach { v =>
      val p = new HPath(metaDir, s"snapshot-$v.json")
      try {
        if (fs.getFileStatus(p).getModificationTime < cutoff) fs.delete(p, false)
      } catch { case _: java.io.FileNotFoundException => }
    }

    // 2. manifests (and stale commit temps) no retained snapshot references
    val liveManifests = retained.flatMap(_.manifests.map(_.path)).toSet
    fs.listStatus(metaDir).foreach { st =>
      val n = st.getPath.getName
      val dead = (n.startsWith("manifest-") && !liveManifests.contains(n)) ||
        n.startsWith(".commit-")
      if (st.isFile && dead && st.getModificationTime < cutoff)
        fs.delete(st.getPath, false)
    }

    // 3. data files no retained snapshot references
    val live = retained.flatMap(s => inflate(s).files.map(_.path)).toSet
    if (!fs.isDirectory(dataDir)) return 0
    val entries = fs.listStatus(dataDir).toList
    val dead = entries.filter(st =>
      st.isFile && !live.contains(st.getPath.getName) &&
        st.getModificationTime < cutoff)
    dead.foreach(st => fs.delete(st.getPath, false))
    // 4. staging DIRECTORIES a crashed writer left behind: writeDataFiles*
    // deletes its `.staging-<uuid>` in a try/finally, but a SIGKILL between
    // the parquet write and the finally leaks a full batch copy — and the
    // isFile filter above would skip the directory forever. Same
    // grace-guarded sweep the lineage roll-up uses for its `.rollup-*` dirs;
    // the grace window protects a writer whose rename pass is in flight
    // (collectStagedFiles moves files OUT of staging before the commit).
    entries.filter(st => st.isDirectory && st.getPath.getName.startsWith(".staging-"))
      .foreach { st =>
        try {
          if (fs.getFileStatus(st.getPath).getModificationTime < cutoff)
            fs.delete(st.getPath, true)
        } catch { case _: java.io.FileNotFoundException => }
      }
    dead.size
  }
}

object LakeTable {
  /** Name of the physical bucket column carried inside data files. */
  val BucketCol = "_bucket"

  /** Shared daemon pool for driver-side metadata/footer IO fan-out. One
    * process-wide pool (not per call): a streaming driver does this fan-out
    * every micro-batch, and creating+abandoning a 16-thread pool per batch
    * churned threads and, on task failure, leaked in-flight reads with no
    * awaitTermination. Daemon threads never block JVM exit. */
  private lazy val ioPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(16,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-lake-io-${n.incrementAndGet()}")
          t.setDaemon(true); t
        }
      })

  /** Map `f` over `items` on [[ioPool]], preserving order. Failures rethrow
    * the UNDERLYING cause (not ExecutionException), so callers see the real
    * IO error. Single-item lists run inline — no pool round-trip. */
  private[lake] def inParallel[A, B](items: List[A])(f: A => B): List[B] = {
    if (items.isEmpty) return Nil
    if (items.size == 1) return List(f(items.head))
    val futures = items.map { a =>
      ioPool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(a) })
    }
    futures.map { fu =>
      try fu.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e)
      }
    }
  }

  def apply(root: String)(implicit spark: SparkSession): LakeTable = new LakeTable(root, spark)

  private val SnapshotName = "snapshot-(\\d+)\\.json".r.unanchored

  /** Deterministic key bucket: non-negative xxhash64 of the key columns mod
    * numBuckets. Both the table writer and the MERGE batch side compute it
    * with the same expression, so bucket-equality joins never shuffle the big
    * side by anything other than this.
    */
  def bucketExpr(keyCols: Seq[String], numBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(numBuckets)).cast("int")

  def withBucket(df: DataFrame, keyCols: Seq[String], numBuckets: Int): DataFrame =
    df.withColumn(BucketCol, bucketExpr(keyCols, numBuckets))

  /** Read a small metadata file fully as UTF-8. */
  private[graft] def readString(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Write a small metadata file (overwrite allowed — used for temp paths). */
  private[graft] def writeString(fs: FileSystem, p: HPath, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Create-exclusive write of a small metadata file: returns false if the
    * path already exists (atomic on HDFS; checked on local).  Used for
    * side-metadata like lineage records where last-writer-wins is fine but
    * duplicate suppression is wanted. */
  private[graft] def writeStringExclusive(fs: FileSystem, p: HPath, s: String): Boolean = {
    try {
      val out = fs.create(p, false)
      try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.io.IOException if fs.exists(p) => false
    }
  }

  /** Local-scratch recursive delete (bench/test temp trees — NOT table IO). */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.isDirectory(p)) {
      val st = Files.list(p)
      try st.iterator().asScala.toList.foreach(deleteRecursively) finally st.close()
    }
    Files.deleteIfExists(p)
  }
}
