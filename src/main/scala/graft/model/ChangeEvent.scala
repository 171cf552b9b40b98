package graft.model

import java.sql.Timestamp

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A binlog/WAL-style change event over the source-code repository table.
  *
  * Generalizes the reference's three load strategies (Full / Incremental /
  * ModifiedOnly, /root/reference/load.go:13-26) into explicit row-level ops:
  * `I`nsert / `U`pdate / `D`elete keyed by (repo, path, commit), ordered by a
  * monotonic LSN (the analogue of the reference's `modified_at` ordering
  * token, /root/reference/database.go:182-184, with wall-clock removed for
  * replay determinism).
  */
case class ChangeEvent(
    lsn: Long,
    op: String, // "I" | "U" | "D"
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String,
    eventTime: Timestamp)

object CdcModel {
  /** Primary key of the target table (≙ LoadOptions.PrimaryKey,
    * /root/reference/load.go:21-26). */
  val KeyCols: Seq[String] = Seq("repo", "path", "commit")
  val LsnCol = "lsn"
  val OpCol = "op"
  /** Event columns that are CDC bookkeeping, not stored payload. */
  val MetaCols: Set[String] = Set(LsnCol, OpCol, "eventTime")
  /** Internal column persisted in the target table so replayed/late events
    * never regress a row: MERGE keeps the higher-LSN version (LWW across
    * batch ∪ table, not just within a batch). */
  val RowLsnCol = "_lsn"
  /** Tombstone marker: deletes persist as `_deleted=true` rows so that a
    * replayed or late pre-delete event can never resurrect the key under
    * out-of-order delivery. Compaction drops tombstones once every source
    * offset passes their LSN ([[graft.cdc.Compaction]]). */
  val DeletedCol = "_deleted"

  /** THE deterministic LWW tie-break (same-LSN, same-tombstone-rank rows):
    * the `content` payload when the table has one; otherwise a hash of every
    * non-internal column (sorted by name, so writer and reader compute the
    * identical expression over any column order). Without the hash branch, a
    * no-`content` table whose extract carries duplicate primary keys at one
    * LSN would pick its winner by shuffle order — nondeterministic across
    * runs, breaking replay determinism. [[lwwRank]] is its one user. */
  private def lwwTieBreak(cols: Seq[String]): Column =
    if (cols.contains("content")) coalesce(col("content").cast(StringType), lit(""))
    else xxhash64(cols.filterNot(_.startsWith("_")).sorted.map(col): _*).cast(StringType)

  /** [[lwwRank]]'s working columns: key hash, salt, tombstone rank,
    * tie-break and rank (1 = the key's winner). */
  private val KeyHashCol = "_khash"
  private val SaltCol = "_salt"
  private val DelRankCol = "_op_rank"
  private val TieCol = "_tb"
  val RankCol = "_rn"

  /** THE last-writer-wins ranking, the one definition of the order among a
    * key's versions and of its physical form. Every path that picks winners
    * runs it: MERGE ([[graft.cdc.Merge]]), the generation-aware read path
    * and point lookups ([[graft.cdc.CdcPipeline]]), [[graft.cdc.Compaction]]'s
    * fold, [[graft.lake.LakeTable.rebucket]]'s fold and
    * [[graft.cdc.Dedup.lastWriterWins]], so no two of them can pick
    * different winners.
    *
    * Order: `_lsn` desc, then tombstone desc (a delete wins an LSN tie),
    * then [[lwwTieBreak]] over `tieCols` desc. `df` must carry `_lsn` and
    * `_bucket` (the cluster column: keys hash into buckets, so a bucket
    * holds every version of its keys); `_deleted` is optional, and null
    * counts as live. The order is insensitive to I-versus-U (both are
    * upserts): a stored row re-enters it as (its `_lsn`, its tombstone flag,
    * its tie-break) and resolves exactly as the event that produced it,
    * which makes partial redelivery of any subset of events — a same-LSN
    * loser alone included — a no-op. An op-sensitive rank would need the op
    * persisted per row (SURVEY.md §7.4#2).
    *
    * Shape: a key hash `_khash` (plus `_salt` = `_khash` mod `salt` when
    * `salt` > 1, which splits a hot bucket over `salt` tasks) is computed,
    * then ONE exchange hash-partitions the rows on `_bucket` [and `_salt`]
    * into `numPartitions` (None: the session default, which adaptive
    * execution may coalesce). The rank columns are derived after that
    * exchange, so the tie-break never ships a second copy of `content`. A
    * `sortWithinPartitions` led by (cluster, `_khash`, keys) — the hash makes
    * the sort's comparisons resolve on two numbers almost always — is
    * exactly the ordering `row_number` needs over a window partitioned by
    * (cluster, `_khash`, keys), so the window adds no sort and, the exchange's
    * columns being a subset of the window's, no second shuffle. (`_salt` is
    * such a column only because it is a plain projected one inside the
    * window's partition columns: a computed expression there would split the
    * window into several passes, and a salt left out of them would cost a
    * second shuffle.)
    *
    * Returns the rows with `_rn` (1 = the key's winner) and, on the same
    * window pass, a column per `perKey` (name, aggregate): the aggregate over
    * the key's whole group. Three projections build it. */
  def lwwRank(df: DataFrame, keys: Seq[String], numPartitions: Option[Int],
      salt: Int = 1, tieCols: Option[Seq[String]] = None,
      perKey: Seq[(String, Column)] = Nil): DataFrame = {
    val cluster =
      if (salt <= 1) Seq(graft.lake.LakeTable.BucketCol)
      else Seq(graft.lake.LakeTable.BucketCol, SaltCol)
    val keyHash = xxhash64(keys.map(col): _*)
    val hashed = df.withColumns(ListMap(KeyHashCol -> keyHash) ++
      (if (salt <= 1) Nil else Seq(SaltCol -> pmod(keyHash, lit(salt)))))
    val clustered = numPartitions match {
      case Some(n) => hashed.repartition(n, cluster.map(col): _*)
      case None => hashed.repartition(cluster.map(col): _*)
    }
    val del =
      if (df.columns.contains(DeletedCol)) coalesce(col(DeletedCol), lit(false))
      else lit(false)
    val ranked = clustered.withColumns(ListMap(DelRankCol -> del.cast("int"),
      TieCol -> lwwTieBreak(tieCols.getOrElse(df.columns.toIndexedSeq))))
    val partCols = (cluster :+ KeyHashCol).map(col) ++ keys.map(col)
    val order = Seq(col(RowLsnCol).desc, col(DelRankCol).desc, col(TieCol).desc)
    val w = Window.partitionBy(partCols: _*).orderBy(order: _*)
    val group = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked.sortWithinPartitions(partCols ++ order: _*).withColumns(ListMap(RankCol -> row_number().over(w)) ++
      perKey.map { case (n, agg) => n -> agg.over(group) })
  }

  /** [[lwwRank]]'s winners: one row per key, with `df`'s columns. */
  def lwwResolve(df: DataFrame, keys: Seq[String], numPartitions: Option[Int] = None,
      tieCols: Option[Seq[String]] = None): DataFrame =
    lwwRank(df, keys, numPartitions, tieCols = tieCols)
      .filter(col(RankCol) === 1)
      .drop(KeyHashCol, DelRankCol, TieCol, RankCol)

  val eventSchema: StructType = StructType(Seq(
    StructField("lsn", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("repo", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("commit", StringType, nullable = false),
    StructField("lang", StringType, nullable = true),
    StructField("content", StringType, nullable = true),
    StructField("eventTime", TimestampType, nullable = true)))

  // the key columns are nullable too: the manifest relation's schema drives
  // the optimizer, so declaring non-null over data that may hold nulls is
  // unsafe; and batches built from DataFrames carry them nullable, so a
  // non-null declaration would make every first batch a schema evolution
  val targetSchema: StructType = StructType(Seq(
    StructField("repo", StringType, nullable = true),
    StructField("path", StringType, nullable = true),
    StructField("commit", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("content", StringType, nullable = true),
    StructField(RowLsnCol, LongType, nullable = false),
    StructField(DeletedCol, BooleanType, nullable = false)))
}

/** Deterministic event-stream generators. Two flavors:
  *
  *  - [[DerivedEvents.fromDocuments]]: derives a small CDC workload from the
  *    driver's `documents` parquet with pure SQL-expressible functions, so a
  *    DuckDB oracle can reproduce the exact same events and final state
  *    (the correctness gate for the whole engine).
  *  - [[SyntheticEvents.generate]]: `spark.range`-based generator at arbitrary
  *    scale (10^7 in-sandbox, parameterized to 10^10 on a real cluster) with
  *    Zipf-skewed hot repos for skew/bench tests. Seeded; no wall-clock.
  */
object DerivedEvents {
  /** Derive a deterministic mixed I/U/D event stream from the `documents`
    * table. Per doc_id (with n = doc_id):
    *   k=0          I  lsn=8n    content=text
    *   k=1 if n%2=0 U  lsn=8n+2  content=text||' v1'
    *   k=2 if n%3=0 U  lsn=8n+2  content=text||' v2'   (LSN collision when n%6=0)
    *   k=3 if n%5=0 D  lsn=8n+5  content=''
    * Exercises dedup, LWW, LSN-collision tie-break, and deletes. The DuckDB
    * equivalent lives in SparkEntry.oracleSql.
    */
  def fromDocuments(docs: DataFrame): DataFrame = {
    val base = docs.select(
      col("doc_id"), col("text"), col("lang"),
      concat(lit("repo-"), (col("doc_id") % 50).cast("string")).as("repo"),
      concat(lit("src/f"), col("doc_id").cast("string"), lit(".txt")).as("path"),
      md5(concat(lit("c"), col("doc_id").cast("string"))).as("commit"))
    base
      .withColumn("k", explode(sequence(lit(0), lit(3))))
      .filter(
        (col("k") === 0) ||
        (col("k") === 1 && col("doc_id") % 2 === 0) ||
        (col("k") === 2 && col("doc_id") % 3 === 0) ||
        (col("k") === 3 && col("doc_id") % 5 === 0))
      .select(
        when(col("k") === 0, col("doc_id") * 8)
          .when(col("k") === 3, col("doc_id") * 8 + 5)
          .otherwise(col("doc_id") * 8 + 2).as("lsn"),
        when(col("k") === 0, lit("I"))
          .when(col("k") === 3, lit("D"))
          .otherwise(lit("U")).as("op"),
        col("repo"), col("path"), col("commit"), col("lang"),
        when(col("k") === 0, col("text"))
          .when(col("k") === 1, concat(col("text"), lit(" v1")))
          .when(col("k") === 2, concat(col("text"), lit(" v2")))
          .otherwise(lit("")).as("content"),
        timestamp_seconds(lit(1704067200L) +
          when(col("k") === 0, col("doc_id") * 8)
            .when(col("k") === 3, col("doc_id") * 8 + 5)
            .otherwise(col("doc_id") * 8 + 2)).as("eventTime"))
  }
}

object SyntheticEvents {
  /** Scalable deterministic generator: `n` events over `nRepos` repositories
    * with `filesPerRepo` paths each. Repo choice is Zipf-ish skewed
    * (quadratic inverse-CDF: a few repos absorb most of the stream — the
    * hot-repo case the north rule's skew mitigation targets). All columns are
    * pure functions of the event id, so any sub-range of LSNs regenerates
    * identically — this is what makes 10^10-event replays feasible without
    * materializing the stream.
    */
  def generate(spark: SparkSession, n: Long, nRepos: Int = 1000,
      filesPerRepo: Int = 200, seed: Long = 42L): DataFrame = {
    val id = col("id")
    // uniform in [0,1) from a hash of (seed, id); quadratic skew
    val u = (pmod(xxhash64(lit(seed), id), lit(1000000L)).cast("double") / 1000000.0)
    val repoId = floor(u * u * nRepos).cast("long")
    val fileId = pmod(xxhash64(lit(seed + 1), id), lit(filesPerRepo.toLong))
    val verId = pmod(xxhash64(lit(seed + 2), id), lit(4L)) // 4 commits per path
    val opSel = pmod(xxhash64(lit(seed + 3), id), lit(10L))
    spark.range(n).select(
      id.as("lsn"),
      when(opSel === 9, lit("D")).when(opSel >= 5, lit("U")).otherwise(lit("I")).as("op"),
      concat(lit("org/repo-"), lpad(repoId.cast("string"), 5, "0")).as("repo"),
      concat(lit("src/pkg"), (fileId % 20).cast("string"), lit("/File"),
        fileId.cast("string"), lit(".scala")).as("path"),
      md5(concat(repoId.cast("string"), lit("/"), fileId.cast("string"),
        lit("@"), verId.cast("string"))).as("commit"),
      element_at(array(lit("scala"), lit("go"), lit("py"), lit("md"), lit("rs")),
        (pmod(fileId, lit(5)) + 1).cast("int")).as("lang"),
      when(opSel === 9, lit(""))
        .otherwise(concat(lit("// content "), md5(concat(id.cast("string"), lit("#"), lit(seed))),
          lit(" of "), repoId.cast("string"), lit("/"), fileId.cast("string")))
        .as("content"),
      timestamp_seconds(lit(1704067200L) + id).as("eventTime"))
  }
}
