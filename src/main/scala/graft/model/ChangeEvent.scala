package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
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
    * runs, breaking replay determinism. Used by the MERGE write path, the
    * generation-resolving read path and compaction alike. */
  def lwwTieBreak(cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, xxhash64}
    if (cols.contains("content"))
      coalesce(col("content").cast(org.apache.spark.sql.types.StringType), lit(""))
    else xxhash64(cols.filterNot(_.startsWith("_")).sorted.map(col): _*).cast(
      org.apache.spark.sql.types.StringType)
  }

  /** THE LWW resolution window: one surviving row per key by
    * (`_lsn` desc, tombstone desc, [[lwwTieBreak]] desc) over a frame that
    * holds whole buckets. The single definition of the cross-generation
    * total order — the generation-resolving read path
    * ([[graft.cdc.CdcPipeline]]), [[graft.cdc.Compaction]]'s fold, and
    * [[graft.lake.LakeTable.rebucket]]'s fold all run THIS function, so
    * reads and maintenance can never diverge on a tie-break. */
  def lwwResolve(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, row_number}
    val tie = lwwTieBreak(df.columns.toIndexedSeq)
    val del =
      if (df.columns.contains(DeletedCol)) coalesce(col(DeletedCol), lit(false))
      else lit(false)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(RowLsnCol).desc, del.cast("int").desc, tie.desc)
    df.withColumn("_gen_rn", row_number().over(w))
      .filter(col("_gen_rn") === 1).drop("_gen_rn")
  }

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

  /** Total order among events sharing a key: LSN first, then delete-beats-
    * write, then content bytes. The order is deliberately insensitive to
    * I-vs-U (both are upserts): a stored row re-enters the order as
    * (its _lsn, its _deleted, its content) and resolves *identically* to the
    * original event that produced it — which makes partial redelivery of any
    * subset of events (including a same-LSN loser alone) a no-op. An
    * op-sensitive rank would need the op persisted per row; delete-vs-write
    * is persisted as the tombstone flag. (SURVEY.md §7.4#2.)
    */
  def orderKey(df: DataFrame,
      metaCols: Set[String] = Set(LsnCol, OpCol, "eventTime")): org.apache.spark.sql.Column = {
    val delRank = when(col(OpCol) === "D", 1).otherwise(0)
    // tie-break over the PERSISTED view of the event (exclude the CDC
    // bookkeeping columns — the SAME default meta set the merge excludes
    // from the stored schema, so on a content-less table this order and the
    // merge's stored-row order can never diverge on a column like eventTime
    // that only the event side carries) via the ONE shared lwwTieBreak
    // definition: content tables break ties on content exactly as before;
    // a content-less frame hashes its payload columns instead of failing
    // analysis — and the tie stays op-insensitive, so a stored row
    // re-enters the order identically to the event that produced it
    val tb = lwwTieBreak(df.columns.toIndexedSeq.filterNot(metaCols.contains))
    struct(col(LsnCol), delRank.as("del_rank"), tb.as("tb"))
  }
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
