package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.cdc.Lineage
import graft.lake.LakeTable
import graft.model.{CdcModel, SyntheticEvents}
import graft.streaming.CdcStream

/** spark-submit-able CLI entry: tail a change-event directory into a
  * LakeTable with exactly-once semantics, or generate a synthetic stream
  * first and replay it (the reference's `teleport extract-load-*` CLI
  * reshaped, /root/reference/main.go:153-169).
  *
  * Usage:
  *   graft.Main gen <eventsDir> <numEvents> [numFiles]  — write a seeded event stream
  *   graft.Main replay <eventsDir> <tableRoot> <checkpointDir> [appId]
  *                                                      — drain it exactly-once
  *   graft.Main show <tableRoot>                        — final state + lineage summary
  *
  * On a cluster: `spark-submit --class graft.Main teleportspark.jar replay ...`
  * (master/parallelism come from spark-submit). Locally a session is created
  * at local[*].
  */
object Main {
  /** Engine version (≙ `teleport version`, reference main.go:110-113). Bumped
    * per round; the spark/scala build triple rides along for bug reports. */
  val Version = "0.5.0"

  /** Preview masking: digest the content column when the table HAS one (CDC
    * tables — full blobs are unreadable in a terminal and the digest is the
    * row invariant anyway); config-frontend tables with arbitrary schemas
    * pass through unchanged. Shared by show/incremental/lookup. */
  private def maskContent(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (df.columns.contains("content"))
      df.withColumn("content_sha", sha2(col("content"), 256)).drop("content")
    else df

  private[graft] val usage: String =
    "usage: gen <dir> <n> [files] | replay <eventsDir> <tableRoot> <ckpt> [appId] [maxFiles] [mor] [retain=N] | " +
    "compact <tableRoot> [horizonLsn | consumers=<offsetDir,...>] | vacuum <tableRoot> [graceMs] [retainSnapshots] | " +
    "fsck <tableRoot> [deep] | " +
    "show <tableRoot> [version] | history <tableRoot> | incremental <tableRoot> <fromV> [toV] | " +
    "lookup <tableRoot> <keyValue...> | " +
    "follow <sourceRoot> <targetRoot> <offsetDir> [appId] [mor] [reconcile] [where=<sqlExpr>] [batches=N] [poll=ms] [idle=N] [max=N] [from=N|latest] | " +
    "tail <sourceRoot> <outDir> <ckpt> [max=N] [from=N|latest] | " +
    "extract-load <spec.json> <table> [--preview] [--full] | schedule <spec.json> | " +
    "list-tables <dir> | " +
    "describe-table <root> | table-metadata <root> | drop-table <root> | rebucket <root> <numBuckets> | " +
    "import-csv <csv> <root> [pk,cols] [--preview] | create-destination-table <root> <name:type,...> | " +
    "create-destination-table-from-config-file <spec.json> <table> | new <padPath> | db-terminal <dir> | " +
    "plugin <list|install cron|ecs> | " +
    "about-db <dir> | transform <destRoot> <sql> [view=path...] [--preview] | extract <spec.json> <table> <csvDir> | " +
    "extract-api <spec.json> <table> <csvDir> | secrets <generate-key|init|set|show|delete> ... | " +
    "port-convert <file.port> [destRoot] [sourcePath] | version | help"

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .appName("graft-cdc")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS",
          Runtime.getRuntime.availableProcessors().toString))
      .master(sys.props.getOrElse("spark.master",
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "*")}]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toList)
    catch {
      // ≙ the reference's workflow exit codes (workflow.go:29-35):
      // fatal → Fail (3); retryable exhausted → Retry (4), so an external
      // scheduler can re-run the job later exactly like the reference's
      case e: graft.sources.FetchFailedException =>
        System.err.println(s"[error] ${e.getMessage}")
        spark.stop()
        sys.exit(if (e.error.retryable) 4 else 3)
    } finally spark.stop()
  }

  private[graft] def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "gen" :: dir :: n :: rest =>
      val files = rest.headOption.map(_.toInt).getOrElse(8)
      SyntheticEvents.generate(spark, n.toLong)
        .repartitionByRange(files, col(CdcModel.LsnCol))
        .write.mode("overwrite").parquet(dir)
      println(s"[gen] wrote ${n} events to $dir in $files lsn-ranged files")

    case "replay" :: eventsDir :: tableRoot :: checkpointDir :: rest0 =>
      // retain=N anywhere in the tail: in-loop retention vacuum for an
      // unattended stream (bounds meta/ + superseded data/ growth; truncates
      // the time-travel horizon to the newest N versions — opt-in)
      val retain = rest0.collectFirst { case s if s.startsWith("retain=") =>
        s.stripPrefix("retain=").toInt }.getOrElse(0)
      val rest = rest0.filterNot(_.startsWith("retain="))
      val appId = rest.headOption.getOrElse("graft-cdc")
      val maxFiles = rest.drop(1).headOption.filter(_ != "mor").map(_.toInt)
      val mor = rest.contains("mor")
      val table = LakeTable(tableRoot)(spark)
      val v0 = table.latestVersion // -1 when the table does not exist yet
      val t0 = System.nanoTime()
      val (q, pipeline) = CdcStream.startWithPipeline(spark, eventsDir, table,
        checkpointDir, appId, maxFilesPerTrigger = maxFiles, mergeOnRead = mor,
        retainSnapshots = retain)
      q.awaitTermination()
      // drain any in-flight background compaction before the final read, so
      // the reported file/row counts reflect a quiesced table
      pipeline.awaitMaintenance()
      val state = graft.cdc.CdcPipeline.liveState(table)
      val rows = state.count()
      val sec = (System.nanoTime() - t0) / 1e9
      // THIS run's events only (lineage versions above the pre-run version)
      // — summing the whole table would fold earlier runs into this run's
      // events/s — and coalesce for the zero-batch case (null sum → NPE)
      val applied = Lineage.read(spark, tableRoot)
        .filter(col("version") > v0)
        .agg(coalesce(sum("eventsIn"), lit(0L))).collect()(0).getLong(0)
      println(f"[replay] $applied events applied in $sec%.1fs " +
        f"(${applied / sec}%.0f events/s) → $rows rows at version ${table.latestVersion}")

    case "show" :: tableRoot :: rest if rest.length <= 1 =>
      val table = LakeTable(tableRoot)(spark)
      // optional second arg = time travel: read a RETAINED older version
      // (history lists them; vacuum's retainSnapshots bounds the horizon)
      val s = rest.headOption match {
        case Some(v) =>
          val want = v.toLong
          if (!table.versions.contains(want)) sys.error(
            s"version $want is not retained at $tableRoot — " +
            s"available: ${table.versions.mkString(", ")}")
          table.snapshot(want)
        case None =>
          table.currentSnapshot.getOrElse(sys.error(s"no table at $tableRoot"))
      }
      // physicalRows counts what the manifest references (tombstones and
      // superseded merge-on-read generations included) — O(1) from metadata;
      // the preview below shows FINAL state (LWW-resolved, tombstones out)
      println(s"[show] version=${s.version} files=${s.files.size} " +
        s"physicalRows=${s.files.map(_.rows).sum} watermarkLsn=${s.watermarkLsn} " +
        s"batchId=${s.batchId} offsets=${s.sourceOffsets}")
      maskContent(graft.cdc.CdcPipeline.liveState(table, s.version)).show(5, truncate = false)
      Lineage.read(spark, tableRoot).orderBy("batchId").show(50, truncate = false)

    // snapshot history (Iceberg `history` metadata): one line per RETAINED
    // version, stats straight from the O(#groups) snapshot record — no
    // manifest or data IO. `show <root> <version>` time-travels to any of
    // these; vacuum's retainSnapshots bounds the list.
    case "history" :: tableRoot :: Nil =>
      val table = LakeTable(tableRoot)(spark)
      if (!table.exists) sys.error(s"no table at $tableRoot")
      println(f"${"version"}%8s ${"appId"}%-16s ${"batchId"}%8s ${"files"}%8s " +
        f"${"rows"}%12s ${"bytes"}%14s ${"watermarkLsn"}%13s  schema")
      table.versions.foreach { v =>
        val s = table.describe(v)
        // round-4+ records carry per-group totals in the refs; legacy
        // snapshots carry the flat file list inline — stats from either
        val (nf, rows, bytes) =
          if (s.manifests.nonEmpty)
            (s.manifests.map(_.files).sum, s.manifests.map(_.rows).sum,
              s.manifests.map(_.bytes).sum)
          else (s.files.size, s.files.map(_.rows).sum, s.files.map(_.bytes).sum)
        val schemaNote =
          if (s.parentVersion >= 0 && table.versions.contains(s.parentVersion) &&
              table.describe(s.parentVersion).schemaJson != s.schemaJson) "evolved"
          else ""
        println(f"$v%8d ${s.appId}%-16s ${s.batchId}%8d $nf%8d " +
          f"$rows%12d $bytes%14d ${s.watermarkLsn}%13d  $schemaNote")
      }

    // the change feed: rows in files added in (fromV, toV] — EXACT per-batch
    // changes (tombstones included, _deleted=true) on merge-on-read tables,
    // superset-on-rewrite for copy-on-write (see LakeTable.readAppends).
    // toV defaults to the head; both versions must still be retained.
    case "incremental" :: tableRoot :: fromV :: rest if rest.length <= 1 =>
      val table = LakeTable(tableRoot)(spark)
      if (!table.exists) sys.error(s"no table at $tableRoot")
      val from = fromV.toLong
      val to = rest.headOption.map(_.toLong).getOrElse(table.latestVersion)
      Seq(from, to).filter(_ >= 0).foreach { v =>
        if (!table.versions.contains(v)) sys.error(
          s"version $v is not retained at $tableRoot — " +
          s"available: ${table.versions.mkString(", ")}")
      }
      if (from >= to)
        // a consumer already caught up (from == head) is a normal state
        println(s"[incremental] ($from, $to]: 0 rows (nothing newer than $from)")
      else {
        val incr = table.readAppends(from, to)
        println(s"[incremental] ($from, $to]: ${incr.count()} rows")
        maskContent(incr).show(10, truncate = false)
      }

    // the table as a native Structured Streaming source: drain the change
    // feed (event shape: lsn, op, payload; deletes arrive as op='D') into a
    // parquet directory through a checkpointed readStream — each rerun
    // appends exactly the commits made since the last one (AvailableNow)
    case "tail" :: sourceRoot :: outDir :: ckpt :: rest
        if rest.forall(s => s.startsWith("max=") || s.startsWith("from=")) =>
      if (!LakeTable(sourceRoot)(spark).exists) sys.error(s"no table at $sourceRoot")
      // max=N: admission control — bound how many table versions this run
      // drains (AvailableNow pins the end offset once, so the cap bounds the
      // RUN; rerun drains the next <=N) — bounded cron pulls on a hot source.
      // from=N|latest: start a FRESH checkpoint at that version instead of
      // draining the whole history (from=latest = "follow from now")
      val reader = spark.readStream.format("graft-table").option("path", sourceRoot)
      rest.collectFirst { case s if s.startsWith("max=") => s.stripPrefix("max=") }
        .foreach(n => reader.option("maxVersionsPerBatch", n))
      rest.collectFirst { case s if s.startsWith("from=") => s.stripPrefix("from=") }
        .foreach(v => reader.option("startingVersion", v))
      val q = reader.load()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // report from the query's own progress — what was ACTUALLY drained and
      // the offset it was drained through (a re-read of outDir would throw on
      // an all-empty drain, and a pre-start latestVersion read can understate
      // what AvailableNow pinned)
      val progress = q.recentProgress
      val drained = progress.map(_.numInputRows).sum
      val endOffset = progress.reverseIterator
        .flatMap(p => p.sources.headOption.flatMap(s => Option(s.endOffset)))
        .nextOption().getOrElse("(none)")
      println(s"[tail] appended $drained feed rows → $outDir " +
        s"(source offset $endOffset; rerun appends the next delta)")

    // downstream change-feed consumer: follow a table's commit history and
    // maintain a replica (or a key-filtered projection, where=<sqlExpr>) in a
    // second table — durable offsets in <offsetDir>, exactly-once state via
    // the same fencing + LWW the ingest side uses. Drains and exits by
    // default (cron-friendly); idle=N tails, tolerating N sleep-and-re-poll
    // rounds after an empty poll before exiting.
    case "follow" :: sourceRoot :: targetRoot :: offsetDir :: rest =>
      val source = LakeTable(sourceRoot)(spark)
      val target = LakeTable(targetRoot)(spark)
      if (!source.exists) sys.error(s"no table at $sourceRoot")
      val appId = rest.filterNot(a => a.contains("=") || a == "mor" || a == "reconcile")
        .headOption.getOrElse("graft-feed")
      def opt(k: String) = rest.collectFirst {
        case s if s.startsWith(s"$k=") => s.stripPrefix(s"$k=") }
      val transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        opt("where") match {
          case Some(pred) => _.filter(expr(pred))
          case None => identity
        }
      val stats = graft.cdc.CdcFeed.pipe(source, target,
        appId, offsetDir, transform = transform,
        mergeOnRead = rest.contains("mor"),
        idlePollsBeforeStop = opt("idle").map(_.toInt).getOrElse(0),
        pollMs = opt("poll").map(_.toLong).getOrElse(500L),
        maxBatches = opt("batches").map(_.toInt).getOrElse(Int.MaxValue),
        maxVersionsPerPoll = opt("max").map(_.toInt).getOrElse(Int.MaxValue),
        // from=N|latest: start a brand-new feed past the history (a durable
        // offset always wins — an existing replica's pending range is never
        // skipped); "follow from now" for filtered projections
        startAtVersion = opt("from").map {
          case "latest" => source.latestVersion
          case v => v.toLong
        }.getOrElse(-1L))
      if (stats.batches == 0)
        println(s"[follow] caught up at source version ${stats.fromVersion}: nothing to apply")
      else
        println(s"[follow] applied ${stats.events} rows in ${stats.batches} batch(es): " +
          s"source (${stats.fromVersion}, ${stats.toVersion}] → $targetRoot " +
          s"at version ${target.latestVersion}")
      // repair deletes a lagging consumer missed past the tombstone-GC horizon
      if (rest.contains("reconcile")) {
        val repaired = graft.cdc.CdcFeed.reconcile(source,
          target, appId, transform)
        println(s"[follow] reconcile: $repaired stale key(s) deleted from $targetRoot")
      }

    // point lookup: live row(s) of ONE key, reading only the bucket the key
    // hashes to — O(table/numBuckets) IO vs show/db-terminal's full scan.
    // Values are positional in the table's recorded key-column order and are
    // cast to the recorded key types (bucketOf fails loudly on a bad cast).
    case "lookup" :: tableRoot :: values if values.nonEmpty =>
      val table = LakeTable(tableRoot)(spark)
      val snap = table.currentSnapshot.getOrElse(sys.error(s"no table at $tableRoot"))
      val keys = graft.cdc.CdcPipeline.effectiveKeys(snap)
      if (values.length != keys.length) sys.error(
        s"lookup needs one value per key column (${keys.mkString(", ")}) — got ${values.length}")
      val kv: Map[String, Any] = keys.zip(values).toMap
      // snapshot-pinned: the printed pruning stats describe the SAME snapshot
      // and bucket evaluation the read uses (one hash, no metadata re-read)
      val (bucket, rows) = graft.cdc.CdcPipeline.lookupAt(table, snap, kv)
      println(s"[lookup] key (${values.mkString(", ")}) → bucket $bucket: " +
        s"${snap.files.count(_.bucket == bucket)} of ${snap.files.size} files read")
      val shown = maskContent(rows)
      // ≤1 row on CDC tables (LWW leaves one per key); bounded anyway for
      // Full-load tables where duplicate keys pass through unresolved
      val got = shown.limit(20).collect()
      if (got.isEmpty) println("[lookup] no live row (never written, or deleted)")
      else got.foreach(r => println(
        shown.columns.zip(r.toSeq).map { case (c, v) => s"$c=$v" }.mkString("  ")))

    case "compact" :: tableRoot :: rest =>
      val table = LakeTable(tableRoot)(spark)
      // consumers=<offsetDir,...>: derive the horizon from the feed
      // consumers' own durable offsets instead of trusting the operator to
      // compute one — GC exactly up to what every replica has applied
      val consumers = rest.collectFirst { case s if s.startsWith("consumers=") =>
        s.stripPrefix("consumers=").split(',').toSeq.filter(_.nonEmpty) }
      val horizon = consumers match {
        case Some(dirs) =>
          require(dirs.nonEmpty, "consumers= needs at least one offset dir")
          require(rest.size == 1, "pass EITHER a horizonLsn or consumers=, not both")
          val h = graft.cdc.Compaction.safeHorizon(table, dirs)
          println(s"[compact] consumer-safe horizon $h (min across ${dirs.size} offset dir(s))")
          h
        case None => rest.headOption.map(_.toLong).getOrElse(-1L)
      }
      val n = graft.cdc.Compaction(table, horizon)
      println(s"[compact] rewrote $n buckets (tombstone horizon=$horizon)")

    // table integrity check: metadata-only by default (snapshot chain,
    // manifest totals, file existence/size, orphan count); `deep` adds one
    // distributed pass asserting every row lives in the bucket its key
    // hashes to, per-file row counts, and _lsn <= watermark
    case "fsck" :: tableRoot :: rest if rest.forall(_ == "deep") =>
      val t = LakeTable(tableRoot)(spark)
      if (!t.exists) sys.error(s"no table at $tableRoot")
      // describe (raw record) carries keyCols without inflating manifests —
      // a metadata-only fsck of a huge table must not pay a full inflate here
      val r = graft.lake.Fsck(t,
        keyCols = graft.cdc.CdcPipeline.effectiveKeys(t.describe(t.latestVersion)),
        deep = rest.contains("deep"))
      r.problems.foreach(p => System.err.println(s"[fsck] PROBLEM: $p"))
      println(s"[fsck] ${r.summary}")
      if (!r.ok) sys.error(s"fsck found ${r.problems.size} problem(s) in $tableRoot")

    case "vacuum" :: tableRoot :: rest =>
      // no explicit grace → library default (10 min): a zero-grace vacuum
      // racing a live writer deletes files its imminent commit references.
      // Explicit 0 stays available for exclusive-owner maintenance windows.
      val t = LakeTable(tableRoot)(spark)
      val retain = rest.drop(1).headOption.map(_.toInt).getOrElse(1)
      val n = rest.headOption match {
        case Some(g) => t.vacuum(graceMs = g.toLong, retainSnapshots = retain)
        case None => t.vacuum()
      }
      println(s"[vacuum] removed $n unreferenced data files, " +
        s"retained last $retain snapshot(s)" +
        rest.headOption.map(g => s" (grace=${g}ms)").getOrElse(" (default grace)"))

    // ---- config-driven extract-load (≙ `teleport extract-load-db`,
    // /root/reference/main.go:153-169; `-preview` main.go:29-33) ----
    case "extract-load" :: specPath :: table :: rest =>
      val preview = rest.contains("--preview")
      val forceFull = rest.contains("--full") // ≙ `-full` (main.go:38-39)
      // secrets overlay for $VAR interpolation (≙ reference main.go:108 +
      // cli.go secrets exposure): GRAFT_SECRETS_FILE + GRAFT_SECRET_KEY
      val env = graft.config.Secrets.envWith(
        sys.env.get("GRAFT_SECRETS_FILE").map(java.nio.file.Paths.get(_)))
      val spec = graft.config.JobSpec.load(spark, specPath, env)
      val r = graft.config.JobRunner.run(spark, spec, table, preview, forceFull)
      println(s"[extract-load] table=${r.table} strategy=${r.strategy} " +
        s"rows=${r.rowsLoaded} version=${r.version} preview=${r.previewed}")

    // ---- schedule export (≙ `teleport schedule`, schedule.go:200-217):
    // emit the cron-consumable JSON for every scheduled table in a spec ----
    case "schedule" :: specPath :: Nil =>
      if (specPath.endsWith(".port")) {
        // pad schedule file (config/schedule.port) — parsed directly, so a
        // migrated pad's cron export works without converting the file first
        val p = new org.apache.hadoop.fs.Path(specPath)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        graft.config.PortSpec.parseSchedules(graft.lake.LakeTable.readString(fs, p))
          .foreach { e =>
            println(s"""{"table":"${e.table}","schedule":${graft.streaming.Schedule.toJson(e.every)},""" +
              s""""kind":"${e.kind}","to":"${e.to}"}""")
          }
      } else {
        // same secrets overlay as every other spec-loading verb: a spec whose
        // strings reference $SECRET_VAR must parse identically under all verbs
        val env = graft.config.Secrets.envWith(
          sys.env.get("GRAFT_SECRETS_FILE").map(java.nio.file.Paths.get(_)))
        val spec = graft.config.JobSpec.load(spark, specPath, env)
        spec.tables.toSeq.sortBy(_._1).foreach { case (t, e) =>
          e.schedule.foreach { s =>
            println(s"""{"table":"$t","schedule":${graft.streaming.Schedule.toJson(s)}}""")
          }
        }
      }

    // ---- in-warehouse SQL transform (≙ `teleport transform`,
    // /root/reference/transform.go:10-40): views are name=path pairs
    // (parquet dir or LakeTable root), the SQL result atomically replaces
    // the destination table ----
    case "transform" :: destRoot :: sql :: viewArgs =>
      // `-preview` guards every mutating command in the reference
      // (main.go:29-33, load.go:80-83,107-110) — here too
      val preview = viewArgs.contains("--preview")
      val views = viewArgs.filterNot(_ == "--preview")
      views.foreach { v =>
        val Array(name, path) = v.split("=", 2)
        val t = LakeTable(path)(spark)
        val df = if (t.exists) graft.cdc.CdcPipeline.liveState(t)
          else spark.read.parquet(path)
        df.createOrReplaceTempView(name)
      }
      val dest = LakeTable(destRoot)(spark)
      if (preview) {
        println(s"[preview] transform → $destRoot — first 3 rows (not committed):")
        spark.sql(sql).show(3, truncate = false)
      } else {
        graft.operators.SqlTransform(spark, sql, dest,
          keyCols = Seq.empty, appId = "transform")
        println(s"[transform] ${dest.currentSnapshot.map(_.files.map(_.rows).sum).getOrElse(0L)} " +
          s"rows → $destRoot version ${dest.latestVersion}")
      }

    // ---- extract without load (≙ `teleport extract-db`, main.go:63-79):
    // the SAME extract pipeline as extract-load — source format dispatch,
    // projection, transforms, strategy lookback filter, secrets overlay
    // (reference database.go:68-106 shares extractSource with extract-load)
    // — written as a reference-rule CSV ----
    case "extract" :: specPath :: table :: outDir :: Nil =>
      val env = graft.config.Secrets.envWith(
        sys.env.get("GRAFT_SECRETS_FILE").map(java.nio.file.Paths.get(_)))
      val spec = graft.config.JobSpec.load(spark, specPath, env)
      // row count observed ON the write job — a count() here would re-run
      // the whole extract+transform a second time just for the log line
      val obs = org.apache.spark.sql.Observation()
      val out = graft.config.JobRunner.extractTable(spark, spec, table)
        .observe(obs, count(lit(1)).as("n"))
      graft.sources.CsvSource.write(out, outDir)
      // bounded metrics wait (not bare obs.get): fail loudly on a metrics
      // delivery bug instead of hanging the CLI — same guard as Merge
      val n = graft.cdc.Merge.awaitMetrics(obs)("n")
      println(s"[extract] $n rows → $outDir (csv)")

    // ---- endpoint extract WITHOUT load (≙ `teleport extract-api`,
    // main.go:157-159 + api.go:78-99): drain the paginated endpoint to a
    // reference-rule CSV, one appended batch per pagesPerBatch pull ----
    case "extract-api" :: specPath :: table :: outDir :: Nil =>
      val env = graft.config.Secrets.envWith(
        sys.env.get("GRAFT_SECRETS_FILE").map(java.nio.file.Paths.get(_)))
      val spec = graft.config.JobSpec.load(spark, specPath, env)
      val n = graft.config.JobRunner.extractApi(spark, spec, table, outDir)
      println(s"[extract-api] $n rows → $outDir (csv)")

    // ---- secrets verbs (≙ `teleport secrets ...`, cli.go:114-180) ----
    case "secrets" :: "generate-key" :: Nil =>
      println(s"${graft.config.Secrets.KeyEnvVariable}=${graft.config.Secrets.generateSecretKey()}")
    case "secrets" :: "init" :: file :: Nil =>
      graft.config.Secrets.init(java.nio.file.Paths.get(file))
      println(s"[secrets] initialized $file")
    case "secrets" :: "set" :: file :: key :: value :: Nil =>
      graft.config.Secrets.set(java.nio.file.Paths.get(file), key, value)
      println(s"[secrets] set $key")
    case "secrets" :: "show" :: file :: Nil =>
      graft.config.Secrets.read(java.nio.file.Paths.get(file))
        .toSeq.sortBy(_._1).foreach { case (k, v) => println(s"$k=$v") }
    case "secrets" :: "delete" :: file :: key :: Nil =>
      graft.config.Secrets.delete(java.nio.file.Paths.get(file), key)
      println(s"[secrets] deleted $key")

    // ---- catalog verbs (≙ main.go:123-152) ----
    case "list-tables" :: dir :: Nil => // ≙ `teleport list-tables`
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(p).filter(_.isDirectory).map(_.getPath).foreach { tp =>
        val t = LakeTable(tp.toString)(spark)
        if (t.exists) println(tp.getName)
      }

    case "describe-table" :: tableRoot :: Nil => // ≙ `teleport describe-table`
      val t = LakeTable(tableRoot)(spark)
      val s = t.currentSnapshot.getOrElse(sys.error(s"no table at $tableRoot"))
      println(graft.sources.SchemaTools.createTableDdl(
        new org.apache.hadoop.fs.Path(tableRoot).getName, s.schema))

    case "table-metadata" :: tableRoot :: Nil => // ≙ `teleport table-metadata`
      val t = LakeTable(tableRoot)(spark)
      val s = t.currentSnapshot.getOrElse(sys.error(s"no table at $tableRoot"))
      println(s"version=${s.version} files=${s.files.size} " +
        s"rows=${s.files.map(_.rows).sum} bytes=${s.files.map(_.bytes).sum} " +
        s"buckets=${s.numBuckets} watermarkLsn=${s.watermarkLsn}")

    case "rebucket" :: tableRoot :: nb :: rest =>
      // numBuckets escape hatch: full rewrite into a new bucket count.
      // Keys: explicit arg > manifest keyCols > the CDC model's default.
      val t = LakeTable(tableRoot)(spark)
      val keys = rest.headOption.map(_.split(",").toSeq)
        .orElse(t.currentSnapshot.map(_.keyCols.toSeq).filter(_.nonEmpty))
        .getOrElse(graft.model.CdcModel.KeyCols)
      val s = t.rebucket(nb.toInt, keys)
      println(s"[rebucket] $tableRoot → ${nb.toInt} buckets " +
        s"(${s.files.size} files, keys=${keys.mkString(",")}) at version ${s.version}")

    case "drop-table" :: tableRoot :: Nil => // ≙ `teleport drop-table`
      val p = new org.apache.hadoop.fs.Path(tableRoot)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val existed = fs.exists(p)
      fs.delete(p, true)
      println(s"[drop-table] $tableRoot ${if (existed) "dropped" else "did not exist"}")

    case "import-csv" :: csvPath :: tableRoot :: rest => // ≙ `teleport import-csv`
      val preview = rest.contains("--preview") // ≙ load.go:107-110
      val keys = rest.filterNot(_ == "--preview").headOption.map(_.split(",").toSeq)
      val df = spark.read.options(graft.sources.CsvSource.ReadOptions)
        .option("inferSchema", "true").csv(csvPath)
      if (preview) {
        println(s"[preview] import-csv → $tableRoot — first 3 rows (not loaded):")
        df.show(3, truncate = false)
      } else {
        val dest = LakeTable(tableRoot)(spark)
        val k = keys.getOrElse(df.columns.take(1).toSeq)
        if (!dest.exists) dest.create(df.schema, 16, "import-csv", k)
        val s = dest.overwrite(df, k, "import-csv")
        // row count from the committed manifest — a count() here would scan
        // the whole CSV a second time
        println(s"[import-csv] ${s.files.map(_.rows).sum} rows → $tableRoot version ${s.version}")
      }

    case "create-destination-table" :: tableRoot :: ddl :: Nil =>
      // ≙ `teleport create-destination-table`: cols as "name:type,name:type"
      val t = LakeTable(tableRoot)(spark)
      val s = t.create(graft.config.JobRunner.parseSchemaSpec(ddl), 16, "create-dest")
      println(s"[create-destination-table] $tableRoot at version ${s.version}")

    // ≙ `teleport create-destination-table-from-config-file`
    // (main.go:133-134, database_commands.go:100-104): create the spec's
    // destination table from its TableDefinition WITHOUT running the load
    case "create-destination-table-from-config-file" :: specPath :: table :: Nil =>
      val spec = graft.config.JobSpec.load(spark, specPath,
        graft.config.Secrets.envWith(
          sys.env.get("GRAFT_SECRETS_FILE").map(java.nio.file.Paths.get(_))))
      val ddl = spec.source.schema.getOrElse(sys.error(
        s"$specPath has no source.schema (TableDefinition) to create from"))
      val schema = graft.config.JobRunner.parseSchemaSpec(ddl)
      val extract = spec.extractFor(table)
      val keys = if (extract.primaryKey.nonEmpty) extract.primaryKey
        else schema.fieldNames.take(1).toSeq
      val dest = LakeTable(spec.destination.root)(spark)
      if (dest.exists) sys.error(s"destination ${spec.destination.root} already exists")
      val s = dest.create(schema, spec.destination.numBuckets, "create-dest", keys)
      println(s"[create-destination-table-from-config-file] ${spec.destination.root} " +
        s"at version ${s.version} (keys=${keys.mkString(",")})")

    // ≙ `teleport new <padpath>` (main.go:81-106, 178-238): scaffold the
    // config workspace — same directory skeleton, .gitignore, commented
    // starter configs, plus a JSON JobSpec example in OUR spec format
    case "new" :: padPath :: Nil =>
      import java.nio.file.{Files, Paths}
      val root = Paths.get(padPath)
      Files.createDirectories(root)
      Seq("config", "sources", "sources/apis", "sources/databases", "transforms", "tmp")
        .foreach { d =>
          val p = root.resolve(d)
          Files.createDirectories(p)
          if (d != "sources" && d != "config") // ≙ no .keep in sources/ or config/
            Files.write(p.resolve(".keep"), Array.empty[Byte])
        }
      Files.write(root.resolve(".gitignore"), "tmp/\n".getBytes("UTF-8"))
      Files.write(root.resolve("config/databases.yml"),
        "connections:\n# db1:\n#   url: postgres://$USER:$PASS@$HOST/$DBNAME\n".getBytes("UTF-8"))
      Files.write(root.resolve("config/schedule.port"),
        "# ExtractLoadAPI('example_api', to='db1', every='6 hours')\n".getBytes("UTF-8"))
      Files.write(root.resolve("sources/apis/example_api.json"),
        ("""{
           |  "source": {
           |    "format": "api",
           |    "url": "https://example.com/widgets?offset={offset}",
           |    "responseType": "json",
           |    "itemsField": "items",
           |    "offsetField": "offset",
           |    "schema": "id:bigint,name:string",
           |    "headers": {"Authorization": "Bearer $EXAMPLE_API_TOKEN"}
           |  },
           |  "destination": {"root": "tmp/lake/widgets", "numBuckets": 16},
           |  "tables": {
           |    "widgets": {
           |      "primaryKey": ["id"],
           |      "loadStrategy": "Full",
           |      "columns": ["*"],
           |      "schedule": "every 6 hours"
           |    }
           |  }
           |}
           |""").stripMargin.getBytes("UTF-8"))
      println(s"[new] pad generated at $padPath")

    // ≙ `teleport db-terminal` (main.go:125-126): interactive SQL against
    // the lake — every table under <dir> is registered as a temp view
    // (CDC tables as their LWW-resolved live state), stdin lines run
    // through spark.sql until EOF/exit
    case "db-terminal" :: dir :: Nil =>
      // (re)list the lake dir and (re)register every table's LIVE state: the
      // liveState plan pins the file listing resolved at registration, so a
      // terminal left open during ingest would otherwise serve a stale
      // point-in-time view forever. Re-resolving per query line keeps the
      // terminal live (commits land between two queries → the second sees
      // them) and picks up NEW tables too; the cost is one snapshot metadata
      // read per table per line — driver-side microseconds on a local lake.
      def registerViews(): Seq[String] = {
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        fs.listStatus(p).filter(_.isDirectory).map(_.getPath).toSeq.flatMap { tp =>
          val t = LakeTable(tp.toString)(spark)
          if (t.exists) {
            // view names must be valid SQL identifiers — sanitize directory
            // names like `my-table` / `orders.v2` instead of aborting the
            // whole terminal on the first unparseable one
            val raw = tp.getName.replaceAll("[^A-Za-z0-9_]", "_")
            val name = if (raw.headOption.exists(_.isDigit)) s"t_$raw" else raw
            try {
              graft.cdc.CdcPipeline.liveState(t).createOrReplaceTempView(name)
              // the metrics table rides along: per-batch lineage as <name>_lineage
              graft.cdc.Lineage.read(spark, tp.toString)
                .createOrReplaceTempView(s"${name}_lineage")
              Some(if (name == tp.getName) name else s"$name (= ${tp.getName})")
            } catch {
              case e: Exception =>
                System.err.println(s"[db-terminal] skipping ${tp.getName}: ${e.getMessage}")
                None
            }
          } else None
        }
      }
      val names = registerViews()
      println(s"[db-terminal] tables: ${names.sorted.mkString(", ")} " +
        "(refresh to re-list, exit/quit to leave)")
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
      print("graft> "); Console.flush()
      var line = in.readLine()
      while (line != null && line.trim != "exit" && line.trim != "quit") {
        line.trim match {
          case "" =>
          case "refresh" =>
            println(s"[db-terminal] tables: ${registerViews().sorted.mkString(", ")}")
          case sql =>
            registerViews() // re-resolve live state so this query sees commits
            try spark.sql(sql).show(50, truncate = false)
            catch { case e: Exception => println(s"error: ${e.getMessage}") }
        }
        print("graft> "); Console.flush()
        line = in.readLine()
      }

    // ≙ `teleport plugin install|list` (plugins.go:24-66). The reference
    // downloads cron/ecs wrapper scripts from GitHub at install time — an
    // egress-dependent bootstrap this engine deliberately replaces with
    // built-in equivalents, so the verb DOCUMENTS the mapping instead of
    // downloading: the cron plugin's consumer is the `schedule` verb's JSON
    // export; the ecs wrapper is `spark-submit` under any cluster scheduler.
    case "plugin" :: rest =>
      rest match {
        case ("list" | "ls") :: Nil | Nil =>
          println("plugins (reference parity — built-in here, nothing to download):")
          println("  cron  → `graft.Main schedule <spec.json>` exports the cron-consumable")
          println("          JSON the reference's cron plugin reads (schedule.go:200-217)")
          println("  ecs   → run `spark-submit --class graft.Main <jar> ...` under your")
          println("          scheduler (ECS/k8s/YARN); no wrapper script is needed")
        case "install" :: name :: Nil if Set("cron", "ecs").contains(name) =>
          println(s"[plugin] '$name' is built in — nothing to install " +
            "(see `plugin list` for the equivalent verb)")
        case other =>
          System.err.println(s"unknown plugin args: ${other.mkString(" ")} " +
            "(usage: plugin list | plugin install <cron|ecs>)")
          sys.exit(2)
      }

    case "about-db" :: dir :: Nil => // ≙ `teleport about-db`
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val tables = fs.listStatus(p).filter(_.isDirectory)
        .map(st => LakeTable(st.getPath.toString)(spark)).filter(_.exists)
      val rows = tables.flatMap(_.currentSnapshot).map(_.files.map(_.rows).sum).sum
      println(s"lake at $dir: ${tables.length} tables, $rows rows")

    // .port migration: translate the declarative subset of a reference
    // Starlark config (Table/LoadStrategy/TransformColumn/ComputeColumn/
    // Get/Paginate/TableDefinition/... — the fixture corpus's shapes) into
    // the equivalent JSON JobSpec, printed to stdout for use with
    // extract-load. Arbitrary lambdas fail loudly with the code quoted.
    case "port-convert" :: portPath :: rest =>
      val env = graft.config.Secrets.envWith(
        sys.env.get("GRAFT_SECRETS_FILE").map(java.nio.file.Paths.get(_)))
      val p = new org.apache.hadoop.fs.Path(portPath)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val text = graft.lake.LakeTable.readString(fs, p)
      val name = p.getName.stripSuffix(".port")
      val destRoot = rest.headOption.getOrElse(s"tmp/lake/$name")
      val dbSource = rest.drop(1).headOption.map { sp =>
        val fmt = sp.split("\\.").lastOption.getOrElse("parquet") match {
          case e @ ("parquet" | "csv" | "json") => e
          case _ => "parquet"
        }
        graft.config.SourceSpec(format = fmt, path = sp)
      }
      val spec = graft.config.PortSpec.toJobSpec(text, env,
        graft.config.DestinationSpec(destRoot), dbSource)
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      println(org.json4s.jackson.Serialization.writePretty(spec))

    // ≙ `teleport version` (main.go:110-113): a plain build identifier
    case "version" :: Nil =>
      println(s"graft $Version (spark ${org.apache.spark.SPARK_VERSION}, " +
        s"scala ${scala.util.Properties.versionNumberString})")

    // ≙ `teleport help` (main.go:114-121, cli.go): the usage dump as a verb
    // with exit 0 — `unknown args` keeps exit 2 for actual mistakes
    case "help" :: Nil =>
      println(usage)

    case other =>
      System.err.println(s"unknown args: ${other.mkString(" ")}\n" + usage)
      sys.exit(2)
  }
}
