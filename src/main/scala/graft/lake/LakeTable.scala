package graft.lake

import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, EqualNullSafe, EvalMode, Expression, Literal, Pmod, Predicate, XxHash64}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSparkInternals
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}
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
    bucketsPerGroup: Int = 0,
    // what the merge committing this version did; None on every other
    // commit (create, overwrite, compaction, schema update, rebucket)
    summary: Option[Summary] = None
) {
  def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
}

object Snapshot {
  implicit val formats: Formats = DefaultFormats
  def toJson(s: Snapshot): String = Serialization.writePretty(s)
  def fromJson(j: String): Snapshot = Serialization.read[Snapshot](j)
}

/** The commit epoch of one stream batch, stamped on the snapshot that
  * applies it: the fencing identity (`appId`, `batchId`; -1 when not a
  * stream batch), the highest LSN the batch applied and the per-source
  * offsets it advanced to, plus the event-level half of the commit's
  * [[Summary]]. See [[LakeTable.replaceFiles]]. */
case class Epoch(appId: String, batchId: Long, maxLsn: Long, offsets: Map[String, Long],
    eventsIn: Long = 0L, distinctKeys: Long = 0L, lwwConflicts: Long = 0L,
    minLsn: Long = -1L, durationMs: Long = 0L)

/** What one merge commit did, stored in the snapshot record it publishes
  * (Iceberg's snapshot `summary`), so a batch's record is part of its
  * atomic commit. [[LakeTable.replaceFiles]] computes the file-level fields
  * from the change it commits; the event-level fields come from the
  * commit's [[Epoch]], so a re-applied commit keeps them.
  * `sourceOffsets` are the batch's own offsets, not the table's cumulative
  * ones. `durationMs` ends where the commit starts: the commit cannot time
  * itself into the record it publishes. [[LakeTable.summaries]] reads them
  * back as a table. */
case class Summary(eventsIn: Long, distinctKeys: Long, lwwConflicts: Long,
    bucketsTouched: Int, filesRewritten: Int, rowsWritten: Long, bytesWritten: Long,
    minLsn: Long, maxLsn: Long, schemaEvolved: Boolean, durationMs: Long,
    sourceOffsets: Map[String, Long])

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
  *   <root>/data/<bucket>-<uuid>.parquet — immutable data files
  *   <root>/meta/snapshot-<N>.json    — record per version (a merge's
  *                                      carries its [[Summary]])
  *   <root>/meta/manifest-<uuid>.json — file entries of one bucket group
  *   <root>/lineage/segment-<uuid>.parquet — summaries of records that
  *                                      [[vacuum]] expired
  * }}}
  *
  * Metadata IO goes through the Hadoop `FileSystem` API resolved from
  * `root`'s scheme, so the same table code runs on local disk (`file://`,
  * tests), HDFS and HCFS object stores — the only places a 100 TB table can
  * actually live. On local disk two writes bypass it through `java.nio`:
  * metadata files are written directly, because Hadoop's local filesystem
  * may fork a `chmod` per file it creates (see `LakeTable.writeMeta`),
  * and the commit CAS hard-links, because a local rename would replace a
  * racing winner's record (see [[commit]]). Readers resolve the latest
  * snapshot by max N; writers commit with an expected-parent CAS. All data
  * paths in the manifest are relative to `<root>/data`.
  */
final class LakeTable(val root: String, spark: SparkSession) {
  import LakeTable._

  private val rootPath: HPath = new HPath(root)
  private[graft] val hconf: Configuration = spark.sessionState.newHadoopConf()
  private[graft] val fs: FileSystem = rootPath.getFileSystem(hconf)
  // qualified once (string work, no IO): the manifest-backed scan hands
  // these paths to Spark as they are
  private val dataDir: HPath = fs.makeQualified(new HPath(rootPath, "data"))
  private val metaDir: HPath = new HPath(rootPath, "meta")
  private val lineageDir: HPath = new HPath(rootPath, "lineage")

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

  /** Every merge commit's [[Summary]], one row each: the record's `batchId`
    * and `version`, then the summary's fields. The rows come from the
    * retained snapshot records, from the `lineage/` segments [[vacuum]]
    * folds expired records into, and from the per-commit `lineage/v<N>.json`
    * files of tables written before summaries were part of the commit. A
    * version found in more than one of them (a vacuum stopped between
    * publishing its segment and deleting the records) appears once. */
  def summaries(): DataFrame = summariesAttempt(attemptsLeft = 3)

  private def summariesAttempt(attemptsLeft: Int): DataFrame = {
    val (segments, legacy) = lineageFiles()
    // a concurrent vacuum may delete a listed file before the read: when the
    // frame is created (the path check: re-list and retry) or when it runs
    // (ignoreMissingFiles skips it). Either way its rows are in the segment
    // that vacuum published before deleting anything.
    try summaryRows(allVersions.map(snapshotPath), segments, legacy)
    catch {
      case e: AnalysisException if attemptsLeft > 1 && vanished(e) =>
        summariesAttempt(attemptsLeft - 1)
    }
  }

  /** The `lineage/` segments and legacy per-commit JSON files. */
  private def lineageFiles(): (Seq[HPath], Seq[HPath]) =
    if (!fs.isDirectory(lineageDir)) (Nil, Nil)
    else {
      val files = fs.listStatus(lineageDir).filter(_.isFile).map(_.getPath).toSeq
      (files.filter(p => p.getName.startsWith("segment-") && p.getName.endsWith(".parquet")),
        files.filter(p => p.getName.startsWith("v") && p.getName.endsWith(".json")))
    }

  private def summaryRows(records: Seq[HPath], segments: Seq[HPath],
      legacy: Seq[HPath]): DataFrame = {
    def reader(schema: StructType) =
      spark.read.schema(schema).option("ignoreMissingFiles", "true")
    def paths(ps: Seq[HPath]) = ps.map(_.toString)
    // snapshot records are pretty-printed: one JSON document per file
    val parts = Seq(
      Option.when(records.nonEmpty)(reader(RecordSchema).option("multiLine", "true")
        .json(paths(records): _*).where(col("summary").isNotNull)
        .select(col("batchId"), col("version"), col("summary.*"))),
      Option.when(segments.nonEmpty)(reader(SummaryRow).parquet(paths(segments): _*)),
      Option.when(legacy.nonEmpty)(reader(SummaryRow).json(paths(legacy): _*))).flatten
    if (parts.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), SummaryRow)
    else parts.reduce(_ unionByName _).dropDuplicates("version")
  }

  /** Time-travel read: the table's file state as of snapshot `version`
    * (same physical-rows semantics as [[read]] — CDC readers resolve LWW via
    * [[graft.cdc.CdcPipeline.liveState]], which has a versioned overload).
    * The version must still be retained; reading an expired snapshot fails
    * with the missing-manifest error. Schema is the snapshot's own, so a
    * read below a schema-evolution commit sees the old columns. */
  def readAt(version: Long): DataFrame = scan(snapshot(version)).drop(BucketCol)

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
    scan(toRaw, added).drop(BucketCol)
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
    case Some(s) => scan(s).drop(BucketCol)
  }

  /** `s`'s files (or, privately, any subset of them — [[readAppends]]) as
    * ONE relation partitioned by `_bucket`, built from the manifest entries
    * alone — no listing, no stat. Every data file holds exactly one bucket,
    * so the bucket is the file's partition value: `where(_bucket ...)`
    * prunes files statically, and a join on `_bucket` against a small side
    * prunes them at run time (dynamic partition pruning). Data columns
    * follow `s`'s schema; `_bucket` comes last. Public reads drop it. */
  private[graft] def scan(s: Snapshot): DataFrame = scan(s, s.files)

  private def scan(s: Snapshot, files: List[DataFile]): DataFrame = {
    val index = new ManifestFileIndex(dataDir, files)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, s.schema,
      None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The bucket a CONCRETE key hashes to under this snapshot's recorded
    * layout — the reader-side inverse of [[LakeTable.bucketExpr]], computed
    * with no query: `eval()` of the writer's OWN [[LakeTable.bucketHash]]
    * over the key values cast to their columns' recorded types, the same
    * exact-types rule the merge's key-layout guard enforces on the write
    * side. Point lookups use it to prune a keyed read to ONE bucket's files.
    */
  def bucketOf(s: Snapshot, keyCols: Seq[String], keyValues: Map[String, Any]): Int =
    bucketAndKeys(s, keyCols, keyValues)._1

  /** [[bucketOf]] with the typed key literals it hashed, for a lookup's filter. */
  private[graft] def bucketAndKeys(s: Snapshot, keyCols: Seq[String],
      keyValues: Map[String, Any]): (Int, Seq[Column]) = {
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
    // the table's session conf sets the casts' time zone and ansi mode
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    SQLConf.withExistingConf(spark.sessionState.conf) {
      val typed = keyCols.map { k =>
        val in = try Literal(keyValues(k)) catch { case e: RuntimeException =>
          throw new IllegalArgumentException(
            s"unsupported value type for key column $k: ${keyValues(k).getClass.getName}", e) }
        val recorded = fieldOf(k).dataType
        // try_cast: null on a bad value under EVERY ansi mode — xxhash64 SKIPS
        // null children, so a null would hash to a wrong bucket: a silent miss
        val cast = Cast(in, recorded, tz, EvalMode.TRY)
        val v = if (cast.checkInputDataTypes().isSuccess) cast.eval() else null
        require(v != null,
          s"value '${keyValues(k)}' for key column $k does not cast to its recorded " +
          s"type (${recorded.simpleString}) — no stored row can match it")
        // …and a cast that SUCCEEDS but changes the value (42.9 passed for a
        // long key truncates to 42) would silently return ANOTHER key's row:
        // the typed value must round-trip to the input, in the input's type
        val key = Literal(v, recorded)
        require(EqualNullSafe(Cast(key, in.dataType, tz), in).eval() == true,
          s"value '${keyValues(k)}' for key column $k does not round-trip through its " +
          s"recorded type (${recorded.simpleString}) — the cast is lossy, " +
          "so the lookup would silently hit a DIFFERENT key")
        key
      }
      (bucketHash(typed, s.numBuckets).eval().asInstanceOf[Int], typed.map(GraftSparkInternals.column))
    }
  }

  /** Write `df`'s rows as new immutable data files, one group per key bucket.
    * `df` must already contain an integer `_bucket` column and hold each
    * bucket in one task (a hash partitioning on `_bucket`, which MERGE's
    * shuffle, compaction and [[bucketed]] all provide): the writer splits
    * each task's rows by bucket, so every output file holds exactly one
    * bucket — the invariant bucket pruning relies on. One SQL execution of
    * `df`'s own plan (an `Observation` on `df` is delivered as for any
    * action) through [[LakeWrite]]. Returns the created files; does NOT commit.
    */
  def writeDataFiles(df: DataFrame): List[DataFile] = {
    val qe = df.queryExecution
    val plan = qe.executedPlan
    val bucket = plan.output.filter(_.name == BucketCol)
    require(bucket.nonEmpty, s"writeDataFiles needs a $BucketCol column")
    val write = new LakeWrite(dataDir)
    SQLExecution.withNewExecutionId(qe, Some("writeDataFiles")) {
      FileFormatWriter.write(spark.asInstanceOf[ClassicSession], plan, new ParquetFileFormat,
        write, FileFormatWriter.OutputSpec(dataDir.toString, Map.empty, plan.output), hconf,
        bucket, None, Seq(write), Map.empty)
    }
    write.files
  }

  /** `df` bucketed on `keyCols` and hash-partitioned by bucket: the input
    * shape [[writeDataFiles]] expects, for writers with no shuffle of their
    * own (full overwrite, rebucket of a table without `_lsn`). */
  private def bucketed(df: DataFrame, keyCols: Seq[String], numBuckets: Int): DataFrame =
    withBucket(df, keyCols, numBuckets).repartition(writeTasks(numBuckets), col(BucketCol))

  /** Tasks of a full rewrite into `numBuckets` buckets. */
  private def writeTasks(numBuckets: Int): Int =
    math.min(numBuckets, spark.sparkContext.defaultParallelism * 2)

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
    *        manifest reference with no IO. None = unknown: every group's
    *        manifest is written (the unhinted writers — create, overwrite,
    *        rebucket — write fresh files into every group they hold).
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
          case _ => writeManifest(g, sorted)
        }
    }

    val target = new HPath(metaDir, s"snapshot-${s.version}.json")
    val tmp = new HPath(metaDir, s".commit-${UUID.randomUUID()}.json")
    writeString(fs, tmp,
      Snapshot.toJson(s.copy(files = Nil, manifests = refs, bucketsPerGroup = bpg)))
    try {
      if (isLocal(fs)) {
        // atomic-exclusive on posix: hard-link the temp file onto the slot
        try {
          java.nio.file.Files.createLink(localNio(fs, target), localNio(fs, tmp))
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
    val files = writeDataFiles(bucketed(df, keyCols, parent.numBuckets))
    val s = Snapshot(parent.version + 1, parent.version, df.schema.json, parent.numBuckets,
      files, appId, batchId, watermarkLsn, offsets, keyCols)
    commit(s, parent.version, None, knownParent = Some(parent))
  }

  /** Replace a subset of files (the MERGE and compaction rewrite unit)
    * and/or evolve the schema, in one snapshot commit on top of `parent`.
    * Removed data files stay on disk for time travel until vacuum().
    *
    * Each attempt builds the snapshot from its parent `p`: files
    * `p.files - removed + added`, schema `newSchemaJson` or else `p`'s,
    * watermark `max(p.watermarkLsn, maxLsn)`, offsets
    * `p.sourceOffsets ++ offsets`, and a [[Summary]] of the change and the
    * epoch. `epoch = None` (maintenance) carries `p`'s fencing identity,
    * watermark and offsets, and no summary.
    *
    * THE commit-conflict rule: when another writer has published since
    * `parent`, the same change is re-applied to the current snapshot `f`
    * (at most [[MaxReapply]] times) while all of these hold, and otherwise
    * the [[CommitConflictException]] propagates:
    *  1. `f` has the parent's numBuckets and keyCols (the layout the added
    *     files are bucketed in);
    *  2. every removed file is still in `f`;
    *  3. the change evolves no schema, or `f`'s schema is the parent's;
    *  4. `f` is not the same app at or past this stream batch (a zombie,
    *     which the caller's re-run fences).
    * This is the Iceberg rule — a change that rewrites files applies to a
    * newer snapshot if all the files it rewrote are still there — and it is
    * safe because writers only add files, or replace files they read, and
    * per-key LWW is associative over unions: `resolve(F) ∪ G` resolves to
    * the same winners as `F ∪ G`. Tombstones a compaction drops stay
    * droppable, since every source has passed its horizon.
    */
  def replaceFiles(parent: Snapshot, removed: Set[String], added: List[DataFile],
      newSchemaJson: Option[String], epoch: Option[Epoch]): Snapshot = {
    val summary = epoch.map(e => Summary(e.eventsIn, e.distinctKeys, e.lwwConflicts,
      added.map(_.bucket).distinct.size, removed.size, added.map(_.rows).sum,
      added.map(_.bytes).sum, e.minLsn, e.maxLsn, newSchemaJson.isDefined, e.durationMs,
      e.offsets))
    def attempt(p: Snapshot): Snapshot = {
      val s = Snapshot(p.version + 1, p.version,
        newSchemaJson.getOrElse(p.schemaJson), p.numBuckets,
        p.files.filterNot(f => removed.contains(f.path)) ++ added,
        epoch.fold(p.appId)(_.appId), epoch.fold(p.batchId)(_.batchId),
        math.max(p.watermarkLsn, epoch.fold(-1L)(_.maxLsn)),
        p.sourceOffsets ++ epoch.fold(Map.empty[String, Long])(_.offsets), p.keyCols,
        summary = summary)
      // the writer knows exactly which manifest groups its removed+added files
      // live in — every other group's manifest is reused verbatim. Group
      // numbers MUST be computed in the parent's stored granule (commit()
      // resolves the same value), or the changed-set would name groups in a
      // different layout than the refs being reused.
      val bpg = if (p.bucketsPerGroup > 0) p.bucketsPerGroup else bucketsPerGroup
      val changed = (p.files.filter(f => removed.contains(f.path)).map(_.bucket) ++
        added.map(_.bucket)).map(_ / bpg).toSet
      commit(s, p.version, Some(changed), knownParent = Some(p))
    }
    def stillValid(f: Snapshot): Boolean =
      f.numBuckets == parent.numBuckets && f.keyCols == parent.keyCols &&
        removed.subsetOf(f.files.iterator.map(_.path).toSet) &&
        (newSchemaJson.isEmpty || f.schema == parent.schema) &&
        epoch.forall(e => e.batchId < 0 || f.appId != e.appId || f.batchId < e.batchId)
    var p = parent
    var reapplied = 0
    var committed: Snapshot = null
    while (committed == null) {
      try committed = attempt(p)
      catch {
        case e: CommitConflictException =>
          val f = currentSnapshot.getOrElse(throw e)
          if (reapplied >= MaxReapply || !stillValid(f)) throw e
          reapplied += 1
          System.err.println(s"[lake] commit conflict on version ${p.version + 1} — " +
            s"re-applying the same change on top of version ${f.version} ($reapplied/$MaxReapply)")
          p = f
      }
    }
    committed
  }

  /** Schema-evolution commit with no data change (all manifests reused).
    * It merges no batch, so it drops the parent's summary. */
  def updateSchema(newSchema: StructType, appId: String): Snapshot = {
    val parent = currentSnapshot.getOrElse(throw new IllegalStateException("create() first"))
    commit(parent.copy(version = parent.version + 1, parentVersion = parent.version,
      schemaJson = newSchema.json, appId = appId, batchId = -1L, summary = None),
      parent.version, Some(Set.empty), knownParent = Some(parent))
  }

  /** Full rewrite into a new bucket count — the escape hatch for a table
    * whose numBuckets was sized wrong (it is otherwise fixed at create; see
    * [[graft.cdc.Merge]]'s sizing rule — a bucket should hold ~0.5-2 GB live).
    * Merge-on-read generations are FOLDED through the engine's one LWW
    * ranking ([[graft.model.CdcModel.lwwRank]], as compaction folds them),
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
    // bucket by the new layout first: the fold's exchange on `_bucket` is
    // then also the writer's, so the rewrite shuffles once
    val files = writeDataFiles(
      if (parent.schema.fieldNames.contains(graft.model.CdcModel.RowLsnCol))
        graft.model.CdcModel.lwwResolve(withBucket(read(), keyCols, newNumBuckets), keyCols,
          Some(writeTasks(newNumBuckets)))
      else bucketed(read(), keyCols, newNumBuckets))
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
    * The summaries of the expired records are folded into one
    * `lineage/segment-<uuid>.parquet` first, so [[summaries]] loses none.
    * Returns the number of data files deleted.
    *
    * @param graceMs skip files modified within the last `graceMs` ms: a
    *        concurrent writer's data files (touched when its write job
    *        ends) and manifests are written but not yet committed, so a
    *        zero-grace vacuum racing that writer would delete files its
    *        imminent snapshot references. Defaults to 10 minutes; tests
    *        that own the table exclusively pass 0.
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
      // snapshot's files as unreferenced. The same holds for a record or
      // segment the lineage fold listed. Periodic callers simply succeed
      // on their next cycle.
      case e: Exception if vanished(e) =>
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

    // 1. expire old snapshot records (grace-guarded like everything else).
    // Their summaries are folded into the lineage segment first, so every
    // state in between reads each merge exactly once.
    // INVARIANT: deletion proceeds in ASCENDING version order (`versions` is
    // sorted) — [[latestVersion]]'s hint-probe race detection relies on "if
    // v+1 was vacuumed, v already was too"; don't parallelize or reorder.
    val expiring = versions.dropRight(keep).filter(v => modifiedBefore(snapshotPath(v), cutoff))
    if (expiring.nonEmpty) foldSummaries(expiring, cutoff)
    expiring.foreach(v => fs.delete(snapshotPath(v), false))

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
    // 4. `.staging-<uuid>` DIRECTORIES left by a crashed writer from before
    // data files were written at their final names: a SIGKILL inside that
    // writer's staged write leaked a full batch copy, and the isFile filter
    // above would skip the directory forever.
    sweepDirs(entries, ".staging-", cutoff)
    dead.size
  }

  /** Folds the summaries of the `expiring` records, with every existing
    * segment, into one new `lineage/segment-<uuid>.parquet`. The new segment
    * is renamed into place before the folded segments are deleted, and the
    * caller deletes the records only after this returns. */
  private def foldSummaries(expiring: Seq[Long], cutoff: Long): Unit = {
    if (fs.isDirectory(lineageDir)) // a fold that crashed left its work tree
      sweepDirs(fs.listStatus(lineageDir).toSeq, ".rollup-", cutoff)
    val (segments, _) = lineageFiles()
    val staging = new HPath(lineageDir, s".rollup-${UUID.randomUUID()}")
    try {
      // one file: a summary row is a few hundred bytes
      summaryRows(expiring.map(snapshotPath), segments, Nil)
        .coalesce(1).write.parquet(staging.toString)
      val part = fs.listStatus(staging).map(_.getPath)
        .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"lineage fold wrote no parquet file in $staging"))
      val segment = new HPath(lineageDir, s"segment-${UUID.randomUUID()}.parquet")
      if (!fs.rename(part, segment))
        throw new java.io.IOException(s"rename $part -> $segment failed")
      segments.foreach(fs.delete(_, false))
    } finally fs.delete(staging, true)
  }

  private def modifiedBefore(p: HPath, cutoff: Long): Boolean =
    try fs.getFileStatus(p).getModificationTime < cutoff
    catch { case _: java.io.FileNotFoundException => false }

  /** Deletes the `prefix` directories among `entries` older than `cutoff`. */
  private def sweepDirs(entries: Seq[FileStatus], prefix: String, cutoff: Long): Unit =
    entries.filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .foreach(st => if (modifiedBefore(st.getPath, cutoff)) fs.delete(st.getPath, true))
}

/** A [[FileIndex]] over manifest entries: one partition per bucket, each
  * file's status taken from its [[DataFile]] (path, bytes), so building and
  * pruning it makes no filesystem call. Static partition filters are
  * evaluated here; Spark evaluates dynamic pruning filters itself, against
  * the partition values this returns. */
private final class ManifestFileIndex(dataDir: HPath, files: List[DataFile]) extends FileIndex {
  private val partitions: Seq[PartitionDirectory] =
    files.groupBy(_.bucket).toSeq.sortBy(_._1).map { case (bucket, fl) =>
      PartitionDirectory(InternalRow(bucket), fl.map(f => FileStatusWithMetadata(
        new FileStatus(f.bytes, false, 0, 0, 0, new HPath(dataDir, f.path)))))
    }

  override val partitionSchema: StructType =
    StructType(Seq(StructField(LakeTable.BucketCol, IntegerType, nullable = false)))
  override def rootPaths: Seq[HPath] = Seq(dataDir)
  override def inputFiles: Array[String] = files.map(f => new HPath(dataDir, f.path).toString).toArray
  override def sizeInBytes: Long = files.map(_.bytes).sum
  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) partitions
    else {
      val keep = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
        case _: AttributeReference => BoundReference(0, IntegerType, nullable = false)
      })
      partitions.filter(p => keep.eval(p.values))
    }
}

/** [[LakeTable.writeDataFiles]]'s commit protocol and stats tracker. Tasks
  * write each file at its final name `data/<bucket>-<uuid>.parquet`, track
  * its (bucket, rows) and, at task commit, stat its bytes through the task's
  * own Hadoop configuration (this object ships none). Safe in `data/`:
  * readers find data files only through manifests, and vacuum collects an
  * orphan after its grace window. A failed job deletes its committed tasks'
  * files; a successful one touches them, so an early-closed file's grace
  * clock starts at publication. */
private[graft] final class LakeWrite(dataDir: HPath)
    extends FileCommitProtocol with WriteJobStatsTracker with Serializable {
  @transient private var committed: Map[String, Long] = Map.empty // driver side: path -> bytes
  @transient private var attemptFiles: List[String] = Nil // task side
  @transient var files: List[DataFile] = Nil // the job's result, driver side

  def setupJob(job: JobContext): Unit = dataDir.getFileSystem(job.getConfiguration).mkdirs(dataDir)
  def setupTask(task: TaskAttemptContext): Unit = attemptFiles = Nil

  // `dir` is the file's `_bucket=N` partition; the bucket leads the name
  override def newTaskTempFile(task: TaskAttemptContext, dir: Option[String],
      spec: FileNameSpec): String = {
    val bucket = dir.get.stripPrefix(s"${LakeTable.BucketCol}=").toInt
    attemptFiles ::= new HPath(dataDir, s"$bucket-${UUID.randomUUID()}.parquet").toString
    attemptFiles.head
  }

  // the task's files are closed by now
  def commitTask(task: TaskAttemptContext): TaskCommitMessage = {
    val fs = dataDir.getFileSystem(task.getConfiguration)
    new TaskCommitMessage(attemptFiles.map(p => p -> fs.getFileStatus(new HPath(p)).getLen).toMap)
  }
  def abortTask(task: TaskAttemptContext): Unit = delete(attemptFiles, task.getConfiguration)
  override def onTaskCommit(msg: TaskCommitMessage): Unit =
    committed ++= msg.obj.asInstanceOf[Map[String, Long]]
  def abortJob(job: JobContext): Unit = delete(committed.keys.toList, job.getConfiguration)

  def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit = {
    val fs = dataDir.getFileSystem(job.getConfiguration)
    // a filesystem that refuses setTimes keeps the close time
    LakeTable.inParallel(committed.keys.toList) { p =>
      try fs.setTimes(new HPath(p), System.currentTimeMillis(), -1)
      catch { case _: UnsupportedOperationException | _: java.io.IOException => }
    }
  }

  private def delete(paths: List[String], c: Configuration): Unit =
    paths.map(new HPath(_)).foreach(p => p.getFileSystem(c).delete(p, false))

  def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
    final class Open(val bucket: Int) { var rows = 0L }
    private val open = scala.collection.mutable.HashMap.empty[String, Open]
    private var closed: List[DataFile] = Nil
    def newPartition(values: InternalRow): Unit = ()
    // bucket taken at open: Spark announces the next partition before closing a file
    def newFile(path: String): Unit =
      open(path) = new Open(new HPath(path).getName.takeWhile(_ != '-').toInt)
    def newRow(path: String, row: InternalRow): Unit = open(path).rows += 1
    def closeFile(path: String): Unit = open.remove(path).foreach(f => // bytes: at task commit
      closed ::= DataFile(new HPath(path).getName, f.bucket, f.rows, 0L))
    def getFinalStats(taskCommitTime: Long): WriteTaskStats = LakeWritten(closed.reverse)
  }

  // runs after commitJob, so every task commit's bytes are in
  def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    files = stats.toList.flatMap { case LakeWritten(f) => f }
      .map(f => f.copy(bytes = committed(new HPath(dataDir, f.path).toString)))
}

private final case class LakeWritten(files: List[DataFile]) extends WriteTaskStats

object LakeTable {
  /** Name of the physical bucket column carried inside data files. */
  val BucketCol = "_bucket"

  /** Re-applications [[LakeTable.replaceFiles]] makes before a conflict propagates. */
  private val MaxReapply = 5

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

  private val SummaryType: StructType = Encoders.product[Summary].schema
  /** [[LakeTable.summaries]]' row, also the row of a lineage segment. */
  private val SummaryRow: StructType = StructType(
    Seq(StructField("batchId", LongType), StructField("version", LongType)) ++ SummaryType.fields)
  /** The part of a snapshot record that [[LakeTable.summaries]] reads. */
  private val RecordSchema: StructType = StructType(Seq(StructField("version", LongType),
    StructField("batchId", LongType), StructField("summary", SummaryType)))

  /** A file this call listed was deleted before it was read. */
  private def vanished(e: Exception): Boolean = e match {
    case _: java.io.FileNotFoundException => true
    case a: AnalysisException => Option(a.getMessage).exists(m =>
      m.contains("PATH_NOT_FOUND") || m.contains("does not exist"))
    case _ => false
  }

  /** Deterministic key bucket: non-negative xxhash64 of the key columns mod
    * numBuckets, as an int: THE one definition, for the writer, the MERGE
    * batch side ([[bucketExpr]]) and [[LakeTable.bucketOf]]'s `eval()` (hence
    * the long modulus: no analyzer coerces an evaluated `Pmod`'s operands). */
  private[graft] def bucketHash(keys: Seq[Expression], numBuckets: Int): Expression =
    Cast(Pmod(new XxHash64(keys), Literal(numBuckets.toLong)), IntegerType)

  /** [[bucketHash]] over the named key columns. */
  def bucketExpr(keyCols: Seq[String], numBuckets: Int): Column =
    GraftSparkInternals.column(bucketHash(keyCols.map(UnresolvedAttribute.quotedString), numBuckets))

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
  private[graft] def writeString(fs: FileSystem, p: HPath, s: String): Unit =
    writeMeta(fs, p, s, overwrite = true)

  /** Create-exclusive write of a small metadata file: returns false if the
    * path already exists (atomic on HDFS and local). Used for side-metadata
    * where the first writer wins, such as a monotone marker
    * ([[MonotoneMarkers]]) or a stream source's pinned start version. */
  private[graft] def writeStringExclusive(fs: FileSystem, p: HPath, s: String): Boolean =
    try { writeMeta(fs, p, s, overwrite = false); true }
    catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.io.IOException if fs.exists(p) => false
    }

  /** One small metadata write. On a local filesystem it goes through
    * `java.nio`, because Hadoop's local filesystem without its native
    * library forks a `chmod` for each file it creates and for its `.crc`.
    * That path writes no checksum, deletes one Hadoop wrote for an earlier
    * version of the file (the next checksummed read would fail on it), and
    * creates missing parent directories, as Hadoop's `create` does. */
  private def writeMeta(fs: FileSystem, p: HPath, s: String, overwrite: Boolean): Unit = {
    import java.nio.file.{Files, NoSuchFileException, StandardOpenOption => Opt}
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (!isLocal(fs)) {
      val out = fs.create(p, overwrite)
      try out.write(bytes)
      finally out.close()
    } else {
      fs match {
        case c: org.apache.hadoop.fs.ChecksumFileSystem =>
          Files.deleteIfExists(localNio(fs, c.getChecksumFile(p)))
        case _ =>
      }
      val path = localNio(fs, p)
      val opts = if (overwrite) Seq(Opt.CREATE, Opt.TRUNCATE_EXISTING) else Seq(Opt.CREATE_NEW)
      try Files.write(path, bytes, opts: _*)
      catch {
        case _: NoSuchFileException =>
          Files.createDirectories(path.getParent)
          Files.write(path, bytes, opts: _*)
      }
    }
  }

  private def isLocal(fs: FileSystem): Boolean = {
    val scheme = fs.getUri.getScheme
    scheme == null || scheme == "file"
  }

  private def localNio(fs: FileSystem, p: HPath): java.nio.file.Path =
    java.nio.file.Paths.get(fs.makeQualified(p).toUri)

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
