package graft.config

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.LakeTable
import graft.operators.ColumnTransforms
import graft.sources.{CsvSource, Endpoint, EndpointConfig, HttpRequest, HttpResponse, SchemaTools}

/** Executes a [[JobSpec]]: the reference's `teleport extract-load-db`
  * pipeline (extract → transform → staging → primary-table update,
  * /root/reference/database.go:131-220 + load.go:137-168) over Spark and a
  * [[LakeTable]] destination. The staging-table + transaction dance
  * collapses into the LakeTable's atomic snapshot commit.
  */
object JobRunner {

  case class Result(table: String, strategy: String, rowsLoaded: Long,
      version: Long, previewed: Boolean,
      mergeStats: Option[graft.cdc.MergeStats] = None)

  /** Run the extract-load for `table` under `spec`.
    *
    * @param preview reference `-preview` (main.go:29-33, load.go:80-83):
    *        print 3 rows and every step that WOULD run; no table create, no
    *        commit — the destination's version is untouched.
    * @param forceFull reference `-full` (main.go:38-39,
    *        database_configuration.go:142-144): force the Full strategy
    *        regardless of what the spec declares.
    * @param transport HTTP socket layer for `format: "api"` sources —
    *        the production default is the JDK client; tests inject an
    *        in-process fake (≙ the reference's httptest corpus).
    */
  def run(spark: SparkSession, spec: JobSpec, table: String,
      preview: Boolean = false, forceFull: Boolean = false,
      transport: HttpRequest => HttpResponse = Endpoint.httpTransport): Result = {
    val spec0 = if (!forceFull) spec else spec.copy(tables =
      spec.tables.map { case (k, v) => k -> v.copy(loadStrategy = "Full") }
        .updated(table, spec.extractFor(table).copy(loadStrategy = "Full")))
    if (spec0.source.format == "api")
      return runApi(spark, spec0, table, preview, transport)
    runPath(spark, spec0, table, preview)
  }

  private def runPath(spark: SparkSession, spec: JobSpec, table: String,
      preview: Boolean): Result = {
    val extract = spec.extractFor(table)
    val strategy = extract.loadStrategy
    val loaded = extractTable(spark, spec, table)

    if (preview) {
      println(s"[preview] $table strategy=$strategy — first 3 rows (not executed):")
      loaded.show(3, truncate = false)
      val dest = LakeTable(spec.destination.root)(spark)
      return Result(table, strategy, 0L,
        if (dest.exists) dest.latestVersion else -1L, previewed = true)
    }

    val dest = LakeTable(spec.destination.root)(spark)
    val keys = if (extract.primaryKey.nonEmpty) extract.primaryKey
      else loaded.columns.take(1).toSeq
    // destination auto-create (load.go:33-85): CREATE TABLE from the
    // extract's schema when absent
    if (!dest.exists)
      dest.create(loaded.schema, spec.destination.numBuckets, "extract-load", keys)

    strategy match {
      case "Full" =>
        // FullLoadQuery ≙ truncate + insert: one overwrite snapshot.
        // Row count from the committed manifest (DataFile.rows) — the
        // extract is scanned exactly once. Watermark and OTHER sources'
        // resume markers pass through (same offsets-preserving rule as the
        // api-path truncate): a Full refresh of this table must not erase a
        // co-resident stream's checkpoint state.
        val parent = dest.currentSnapshot.get
        val snap = dest.overwrite(loaded, keys, "extract-load",
          watermarkLsn = parent.watermarkLsn,
          offsets = parent.sourceOffsets.filterNot(_._1.startsWith(s"api:$table:")))
        Result(table, strategy, snap.files.map(_.rows).sum, snap.version,
          previewed = false)
      case "ModifiedOnly" | "Incremental" =>
        // ModifiedOnlyLoadQuery ≙ DELETE matching pk; INSERT staging
        // (dialect.go:26-29). The reference rewrites the whole primary table;
        // here the extract becomes a change batch (op='U', one LSN per load —
        // later loads beat earlier by LWW) applied through the engine's
        // bucket-pruned MERGE: only buckets the batch touches are read and
        // rewritten — O(touched buckets), not O(table), per load. The per-run
        // LSN is the destination's next version: strictly monotonic because
        // every load commits at least one snapshot.
        val runLsn = dest.latestVersion + 1
        val events = loaded
          .withColumn(graft.model.CdcModel.LsnCol, lit(runLsn))
          .withColumn(graft.model.CdcModel.OpCol, lit("U"))
        val stats = graft.cdc.Merge(dest, events, appId = "extract-load",
          batchId = -1L, keyCols = keys,
          // only the two constructed columns are bookkeeping here: an extract
          // payload column named e.g. `eventTime` must evolve in, not vanish
          metaCols = Set(graft.model.CdcModel.LsnCol, graft.model.CdcModel.OpCol))
        Result(table, strategy, stats.eventsIn, stats.committedVersion,
          previewed = false, mergeStats = Some(stats))
    }
  }

  /** The extract's projection + transform chain — one definition shared by
    * every endpoint path (extract-load-api, extract-api, previews), so the
    * two verbs can never shape the same spec differently. */
  private def shapeFor(extract: TableExtractSpec)(df: DataFrame): DataFrame = {
    val projected = extract.columns match {
      case Seq("*") | Nil => df
      case cols => df.select(cols.map(col): _*)
    }
    ColumnTransforms(projected, extract.transforms, extract.computed)
  }

  /** Transforms run over RAW values — the reference's Starlark transforms
    * see the untyped page, and the TableDefinition types apply at LOAD time
    * (after them). So any declared column a transform TARGETS is read as
    * STRING and loudly cast to its declared type AFTER the transforms run;
    * typing it up front would raise on valid raw data the transform was
    * about to convert (a fromtimestamp epoch string under a TIMESTAMP
    * declared/destination-inferred type). Untargeted columns keep the
    * up-front loud typing. Returns (page-read schema, shape function). */
  private def transformAware(declared: org.apache.spark.sql.types.StructType,
      extract: TableExtractSpec, cfg: EndpointConfig)
      : (org.apache.spark.sql.types.StructType, DataFrame => DataFrame) = {
    val targets = extract.transforms.map(_.column).toSet
      .intersect(declared.fieldNames.toSet)
    val emptyIsNull = cfg.responseType == "csv"
    if (targets.isEmpty) return (declared, shapeFor(extract))
    val pageSchema = org.apache.spark.sql.types.StructType(declared.map(f =>
      if (targets.contains(f.name))
        f.copy(dataType = org.apache.spark.sql.types.StringType)
      else f))
    val shape = (df: DataFrame) => {
      val shaped = shapeFor(extract)(df)
      shaped.select(shaped.columns.toIndexedSeq.map { c =>
        declared.find(_.name == c) match {
          case Some(f) if targets.contains(c) && shaped.schema(c).dataType != f.dataType =>
            Endpoint.loudCast(c, f.dataType, emptyIsNull)
          case _ => col(c)
        }
      }: _*)
    }
    (pageSchema, shape)
  }

  private def endpointCfg(s: SourceSpec): EndpointConfig =
    EndpointConfig(url = s.url, method = s.method, headers = s.headers,
      basicAuth = for { u <- s.basicAuthUser; p <- s.basicAuthPassword } yield (u, p),
      responseType = s.responseType, itemsField = s.itemsField,
      offsetField = s.offsetField, retryOn4xx = s.retryOn4xx)

  /** Endpoint → CSV extract with NO load (≙ `teleport extract-api`,
    * /root/reference/api.go:78-99: readEndpointConfiguration →
    * performAPIExtraction → saveResultsToCSV). Same page drain as
    * [[runApi]] but each pulled batch is shaped and APPENDED to the CSV
    * directory immediately — driver memory stays O(batch) where the
    * reference accumulates the full result slice. Returns rows extracted.
    */
  def extractApi(spark: SparkSession, spec: JobSpec, table: String, outDir: String,
      transport: HttpRequest => HttpResponse = Endpoint.httpTransport): Long = {
    val extract = spec.extractFor(table)
    val s = spec.source
    val cfg = endpointCfg(s)
    val declared = s.schema.map(parseSchemaSpec).getOrElse(
      throw new IllegalArgumentException(
        "extract-api needs source.schema (TableDefinition) — no destination to infer from"))
    val src = Endpoint.source(cfg, transport, pagesPerBatch = s.pagesPerBatch)
    val (pageSchema, shape) = transformAware(declared, extract, cfg)
    var off = 0L
    var more = true
    var total = 0L
    var first = true
    while (more) {
      val (recs, next) = src.pullBatch(off)
      if (recs.nonEmpty) {
        CsvSource.write(shape(Endpoint.pageFrame(spark, cfg, pageSchema, recs)),
          outDir, mode = if (first) "overwrite" else "append")
        first = false
        total += recs.size
      }
      next match {
        case Some(n) => off = n
        case None => more = false
      }
    }
    if (first) // no pages: still leave a valid (empty) extract behind
      CsvSource.write(shape(Endpoint.pageFrame(spark, cfg, pageSchema, Nil)), outDir)
    total
  }

  /** Endpoint-driven extract-load (≙ `teleport extract-load-api`,
    * /root/reference/api.go:47-76): pull `{offset}`-paginated pages through
    * the configured transport, parse json/csv bodies against the declared
    * schema (≙ TableDefinition), apply the extract's projection/transforms,
    * and apply each bounded micro-batch of pages through the engine MERGE.
    *
    * Two deliberate differences from the reference, both scale-structural:
    * the full result set is NEVER accumulated (api.go:178-227 holds every
    * row in one slice — here each `pagesPerBatch` batch is merged and
    * released, so driver memory is O(batch) for an unbounded endpoint), and
    * the load is the same bucket-pruned upsert the DB path uses.
    */
  private def runApi(spark: SparkSession, spec: JobSpec, table: String,
      preview: Boolean, transport: HttpRequest => HttpResponse): Result = {
    val extract = spec.extractFor(table)
    val s = spec.source
    val cfg = endpointCfg(s)
    val dest = LakeTable(spec.destination.root)(spark)
    // page schema: explicit TableDefinition, else the existing destination's
    // payload schema (≙ createEndpointdestinationTableIfNotExists + inspect,
    // api.go:101-137 — one of the two must exist)
    val declared = s.schema match {
      case Some(ddl) => parseSchemaSpec(ddl)
      case None if dest.exists =>
        // drop the engine's OWN bookkeeping columns by exact name — a
        // prefix filter would also remove legitimate payload columns that
        // start with underscore (Mongo-style `_id`), silently nulling them
        // on every subsequent load
        val internal = Set(graft.model.CdcModel.RowLsnCol,
          graft.model.CdcModel.DeletedCol, LakeTable.BucketCol)
        org.apache.spark.sql.types.StructType(dest.currentSnapshot.get.schema
          .filterNot(f => internal.contains(f.name)))
      case None => throw new IllegalArgumentException(
        "api source needs source.schema (TableDefinition) or an existing destination")
    }
    val src = Endpoint.source(cfg, transport, pagesPerBatch = s.pagesPerBatch)
    val (pageSchema, shape) = transformAware(declared, extract, cfg)
    // Endpoint strategies (endpoint_configuration.go:205-217): Full =
    // truncate+insert; Incremental AND ModifiedOnly = the same delete-match
    // upsert at load time (load.go:148) — the go_back_hours lookback is a
    // DB-extract-time WHERE the API transport cannot apply, so for endpoints
    // the source itself decides what is "modified". Anything else fails
    // loudly here exactly as the DB path does (≙ setLoadStrategy's
    // "invalid strategy" error, endpoint_configuration.go:219).
    val strategy = extract.loadStrategy
    if (!Set("Full", "Incremental", "ModifiedOnly").contains(strategy))
      throw new IllegalArgumentException(
        s"invalid strategy '$strategy', allowed values: Full, ModifiedOnly, Incremental")
    if (preview) {
      // one page is enough for 3 rows — a preview must not pull a full
      // pagesPerBatch micro-batch (100 requests) against a live endpoint
      val (recs, _) = Endpoint.source(cfg, transport, pagesPerBatch = 1).pullBatch(0L)
      println(s"[preview] $table api strategy=$strategy — first 3 rows (not executed):")
      shape(Endpoint.pageFrame(spark, cfg, pageSchema, recs.take(10))).show(3, truncate = false)
      return Result(table, strategy, 0L,
        if (dest.exists) dest.latestVersion else -1L, previewed = true)
    }
    val shaped = shape(Endpoint.pageFrame(spark, cfg, pageSchema, Nil)).schema
    val keys = if (extract.primaryKey.nonEmpty) extract.primaryKey
      else shaped.fieldNames.take(1).toSeq
    if (!dest.exists)
      dest.create(shaped, spec.destination.numBuckets, "extract-load-api", keys)
    // Checkpoint-resume: each batch's merge commit records the NEXT page
    // offset under "api:<table>:<strategy>" in the snapshot's sourceOffsets;
    // a drain that died mid-run resumes from there instead of re-pulling
    // every page (re-pulling is CORRECT — LWW makes it idempotent — just
    // wasteful). A COMPLETED drain clears the marker to -1 so the next
    // scheduled run re-extracts from page 0, per reference semantics (each
    // run re-pulls and the source/strategy decide what's new). The STRATEGY
    // is part of the key: a Full run must never resume an Incremental run's
    // marker (it would skip the truncate AND pages 0..N — a silently
    // incomplete refresh); cross-strategy runs restart from page 0.
    val offsetKey = s"api:$table:$strategy"
    val resumeAt = dest.currentSnapshot
      .flatMap(_.sourceOffsets.get(offsetKey)).filter(_ >= 0L)
    // Full ≙ truncate + insert (dialect.go:22-24): clear once, stream
    // batches in. An interrupted Full drain must NOT truncate again on
    // resume — the already-merged batches are part of this run's load.
    // The truncate clears only THIS table's api resume markers: a
    // destination also fed by a CDC stream (watermark) or holding another
    // load's in-flight marker must not lose that checkpoint state.
    if (strategy == "Full" && resumeAt.isEmpty &&
        dest.currentSnapshot.exists(_.files.nonEmpty)) {
      val parent = dest.currentSnapshot.get
      dest.overwrite(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], shaped),
        keys, "extract-load-api",
        watermarkLsn = parent.watermarkLsn,
        offsets = parent.sourceOffsets.filterNot(_._1.startsWith(s"api:$table:")))
    }
    var last: Option[graft.cdc.MergeStats] = None
    var records = 0L
    var off = resumeAt.getOrElse(0L)
    var more = true
    while (more) {
      val (recs, next) = src.pullBatch(off)
      records += recs.size
      if (recs.nonEmpty || next.isEmpty) {
        val runLsn = dest.latestVersion + 1 // monotonic: every merge commits
        val events = shape(Endpoint.pageFrame(spark, cfg, pageSchema, recs))
          .withColumn(graft.model.CdcModel.LsnCol, lit(runLsn))
          .withColumn(graft.model.CdcModel.OpCol, lit("U"))
        val stats = graft.cdc.Merge(dest, events, appId = "extract-load-api",
          batchId = -1L, keyCols = keys,
          sourceOffsets = Map(offsetKey -> next.getOrElse(-1L)),
          metaCols = Set(graft.model.CdcModel.LsnCol, graft.model.CdcModel.OpCol))
        last = Some(stats)
      }
      next match {
        case Some(n) => off = n
        case None => more = false
      }
    }
    Result(table, strategy, records, dest.latestVersion, previewed = false,
      mergeStats = last)
  }

  /** Split a `"name:type,name:type"` schema string on entry boundaries ONLY
    * (a comma followed by a `name:` lookahead), so parameterized types keep
    * their internal commas — `"price:decimal(18,4)"` is one field. THE one
    * splitter: [[PortSpec]]'s transform-column filter walks the same string
    * shape and must never disagree with [[parseSchemaSpec]] on what an
    * entry is. */
  private[config] def splitSchemaEntries(ddl: String): Array[String] =
    ddl.split(",(?=\\s*[A-Za-z_][A-Za-z0-9_]*\\s*:)")

  /** Parse a `"name:type,name:type"` TableDefinition string. */
  def parseSchemaSpec(ddl: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      splitSchemaEntries(ddl).map { c =>
        val Array(n, ty) = c.split(":", 2)
        org.apache.spark.sql.types.StructField(n.trim,
          SchemaTools.parseType(ty).getOrElse(
            throw new IllegalArgumentException(s"unknown type: $ty")))
      })

  /** The extract side of the pipeline, shared by `run` and the CLI `extract`
    * verb (≙ `teleport extract-db`, which applies the SAME strategy filter as
    * extract-load, /root/reference/database.go:68-106 + 178-187): source read
    * → column projection → transform chain → strategy WHERE clause. */
  def extractTable(spark: SparkSession, spec: JobSpec, table: String): DataFrame = {
    val extract = spec.extractFor(table)
    val source = readSource(spark, spec.source)

    // projection + transform chain: the ONE shared definition (shapeFor) —
    // projection happens BEFORE transforms so pushdown reaches the scan
    val transformed = shapeFor(extract)(source)

    // strategy WHERE clause (database.go:178-187): ModifiedOnly filters to
    // the lookback window; the cutoff anchors to the data's max modified-at
    // (deterministic + replayable) rather than wall-clock now().
    // Incremental takes the extract as-is — "the source decides what's new"
    // (endpoint_configuration.go:214-217; at load time both strategies run
    // the same delete-match upsert, load.go:148).
    extract.loadStrategy match {
      case "ModifiedOnly" =>
        val mcol = extract.modifiedAtColumn.getOrElse(
          throw new IllegalArgumentException(s"ModifiedOnly needs modifiedAtColumn"))
        // collision-proof internal alias: a source column literally named
        // "c" would make the filter ambiguous and the drop destructive
        val cutoffCol = "__graft_cutoff"
        val cutoff = transformed.agg(
          (max(col(mcol)) - expr(s"INTERVAL ${extract.goBackHours} HOURS")).as(cutoffCol))
        transformed.join(broadcast(cutoff))
          .filter(col(mcol) > col(cutoffCol)).drop(cutoffCol)
      case "Full" | "Incremental" => transformed
      case other => throw new IllegalArgumentException(
        s"load strategy not implemented: $other") // ≙ database.go:185-186
    }
  }

  private def readSource(spark: SparkSession, s: SourceSpec): DataFrame =
    s.format match {
      case "parquet" => spark.read.parquet(s.path)
      case "csv" => // reference CSV rules: header, empty=NULL, RFC3339 ts
        spark.read.options(CsvSource.ReadOptions)
          .option("inferSchema", "true").csv(s.path)
      case "json" => spark.read.json(s.path)
      case other => throw new IllegalArgumentException(s"unknown source format: $other")
    }
}
