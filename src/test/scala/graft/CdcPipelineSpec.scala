package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cdc.{CdcPipeline, Lineage}
import graft.lake.LakeTable
import graft.model.{CdcModel, DerivedEvents, SyntheticEvents}

/** End-to-end CDC correctness: replayed final state must equal an
  * independently-computed LWW fold (window row_number oracle), per-row
  * sha2(content) equality — the invariant from BASELINE.json input_hint,
  * mirroring the reference's own re-run test
  * (/root/reference/database_snowflake_test.go:16-30).
  */
class CdcPipelineSpec extends SparkSuite {

  /** Trivially-correct oracle: pick, per key, the winner of the same total
    * order with a window sort; drop deletes. */
  private def oracle(events: DataFrame): DataFrame = {
    val opRank = when(col("op") === "D", 1).otherwise(0)
    val w = Window.partitionBy("repo", "path", "commit")
      .orderBy(col("lsn").desc, opRank.desc, coalesce(col("content"), lit("")).desc)
    events.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("repo"), col("path"), col("commit"), col("lang"),
        sha2(col("content"), 256).as("content_sha"))
  }

  private def digest(df: DataFrame): Array[Byte] = {
    // order-free state digest: xor of per-row hashes (SURVEY.md §7.4#2)
    val row = df.select(sha2(to_json(struct(df.columns.sorted.map(col): _*)), 256).as("h"))
      .agg(sum(conv(substring(col("h"), 1, 15), 16, 10).cast("decimal(38,0)")).as("d"))
      .collect()(0)
    row.get(0).toString.getBytes
  }

  private def finalState(p: CdcPipeline): DataFrame =
    p.state().select(col("repo"), col("path"), col("commit"), col("lang"),
      sha2(col("content"), 256).as("content_sha"))

  lazy val events = DerivedEvents.fromDocuments(
    spark.read.parquet(s"$sfDir/documents.parquet")).cache()

  /** Replays `events` in `numBatches` into a fresh copy-on-write table of
    * `numBuckets` buckets and compares the live state with the oracle. With
    * `preload`, the lower half of the LSN range is first applied as one
    * batch, so every replayed batch merges into a populated table. */
  private def assertReplayMatchesOracle(events: DataFrame, numBuckets: Int,
      numBatches: Int, preload: Boolean): Unit = {
    val root = SparkTestBase.tmpDir("cdc-e2e")
    val p = new CdcPipeline(LakeTable(root)(spark), "app-e2e")
    p.bootstrap(numBuckets = numBuckets)
    val rest =
      if (!preload) events
      else {
        val b = events.agg(min("lsn"), max("lsn")).collect()(0)
        val split = (b.getLong(0) + b.getLong(1) + 1) / 2
        p.applyBatch(events.filter(col("lsn") < split), 0L)
        events.filter(col("lsn") >= split)
      }
    val stats = p.replay(rest, numBatches, startBatchId = if (preload) 1L else 0L)
    assert(stats.size === numBatches)
    val got = finalState(p)
    val want = oracle(events)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  test("replayed final state matches LWW oracle (sha256 per row)") {
    assertReplayMatchesOracle(events, numBuckets = 16, numBatches = 4, preload = false)
  }

  // numBatches × numBuckets on both sides of 1e6: above it, a cross-batch
  // stats precompute that replay used to run silently dropped every batch
  for (numBuckets <- Seq(16, 250000))
    test(s"copy-on-write replay into a populated table matches the LWW oracle ($numBuckets buckets)") {
      assertReplayMatchesOracle(SyntheticEvents.generate(spark, 400), numBuckets,
        numBatches = 5, preload = true)
    }

  test("time-travel live state: liveState(table, v) reproduces each batch's committed state") {
    val root = SparkTestBase.tmpDir("cdc-tt")
    val p = new CdcPipeline(LakeTable(root)(spark), "app-tt", lineage = false,
      mergeOnRead = true)
    p.bootstrap(numBuckets = 16)
    val b = events.agg(min("lsn"), max("lsn")).collect()(0)
    val split = (b.getLong(0) + b.getLong(1)) / 2
    val batch0 = events.filter(col("lsn") < split)
    val batch1 = events.filter(col("lsn") >= split)
    p.applyBatch(batch0, 0L, orderedDelivery = true)
    val v1 = p.table.latestVersion
    p.applyBatch(batch1, 1L, orderedDelivery = true)
    val v2 = p.table.latestVersion
    // state AS OF v1 = LWW fold of batch 0 alone (MOR: batch 1's generation
    // files are invisible to the pinned snapshot)
    val got1 = CdcPipeline.liveState(p.table, v1)
      .select(col("repo"), col("path"), col("commit"), col("lang"),
        sha2(col("content"), 256).as("content_sha"))
    val want1 = oracle(batch0)
    assert(got1.count() === want1.count())
    assert(got1.exceptAll(want1).count() === 0 && want1.exceptAll(got1).count() === 0)
    // state AS OF the head version = the current state
    assert(CdcPipeline.liveState(p.table, v2).exceptAll(p.state()).count() === 0)
    // incremental read between the two merge commits = exactly batch 1's LWW
    // winners, tombstones included (MOR appends make the scan exact)
    val incr = p.table.readAppends(v1, v2)
    val opRank = when(col("op") === "D", 1).otherwise(0)
    val w = Window.partitionBy("repo", "path", "commit")
      .orderBy(col("lsn").desc, opRank.desc, coalesce(col("content"), lit("")).desc)
    val wantIncr = batch1.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("repo"), col("path"), col("commit"),
        sha2(col("content"), 256).as("content_sha"),
        (col("op") === "D").as("is_delete"))
    val gotIncr = incr.select(col("repo"), col("path"), col("commit"),
      sha2(col("content"), 256).as("content_sha"),
      col(CdcModel.DeletedCol).as("is_delete"))
    assert(gotIncr.count() === wantIncr.count())
    assert(gotIncr.exceptAll(wantIncr).count() === 0)
  }

  test("CLI history/show <v>/incremental verbs walk the retained timeline") {
    val root = SparkTestBase.tmpDir("cdc-cli-tt")
    val p = new CdcPipeline(LakeTable(root)(spark), "app-cli-tt", lineage = false,
      mergeOnRead = true)
    p.bootstrap(numBuckets = 16)
    val b = events.agg(min("lsn"), max("lsn")).collect()(0)
    val split = (b.getLong(0) + b.getLong(1)) / 2
    p.applyBatch(events.filter(col("lsn") < split), 0L, orderedDelivery = true)
    val v1 = p.table.latestVersion
    p.applyBatch(events.filter(col("lsn") >= split), 1L, orderedDelivery = true)
    val v2 = p.table.latestVersion
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Main.run(spark, List("history", root))
      Main.run(spark, List("show", root, v1.toString))
      Main.run(spark, List("incremental", root, v1.toString))
      Main.run(spark, List("incremental", root, v2.toString)) // caught up
    }
    val printed = out.toString("UTF-8")
    // history prints one line per retained version (bootstrap + 2 merges)
    p.table.versions.foreach { v =>
      assert(printed.linesIterator.exists(_.trim.startsWith(s"$v app-cli-tt")),
        s"history output missing version $v")
    }
    // show <v1> pins the older snapshot's metadata
    assert(printed.contains(s"[show] version=$v1"))
    // incremental default-to-head = batch 1's LWW winners incl. tombstones
    val incrRows = p.table.readAppends(v1, v2).count()
    assert(printed.contains(s"[incremental] ($v1, $v2]: $incrRows rows"))
    assert(printed.contains(s"[incremental] ($v2, $v2]: 0 rows"))
    // a non-retained version fails loudly
    val e = intercept[RuntimeException] {
      Main.run(spark, List("incremental", root, "99"))
    }
    assert(e.getMessage.contains("not retained"))
  }

  test("compaction is key-generic: manifest keyCols govern bucketing and LWW") {
    import spark.implicits._
    // a config-frontend-style table keyed on ["id"] — no repo/path/commit
    val root = SparkTestBase.tmpDir("cdc-kgc")
    val t = LakeTable(root)(spark)
    val schema = Seq((1L, "a", 1L, false)).toDF("id", "name",
      CdcModel.RowLsnCol, CdcModel.DeletedCol).schema
    t.create(schema, numBuckets = 4, appId = "kg", keyCols = Seq("id"))
    def batch(lsn: Long, tag: String) = spark.range(100)
      .select(col("id"), concat(lit(tag), col("id")).as("name"),
        lit(lsn).as(CdcModel.LsnCol), lit("U").as(CdcModel.OpCol))
    // two MOR generations per key, then compact
    graft.cdc.Merge(t, batch(1, "old"), "kg", 0, keyCols = Seq("id"), mergeOnRead = true)
    graft.cdc.Merge(t, batch(2, "new"), "kg", 1, keyCols = Seq("id"), mergeOnRead = true)
    val rewritten = graft.cdc.Compaction(t, horizonLsn = -1L, maxFilesPerBucket = 1)
    assert(rewritten > 0)
    // LWW winner per id survives; one-bucket-per-file invariant holds under
    // the TABLE's key (id), which the pre-fix CdcModel-keyed compaction
    // could not even resolve (no repo column)
    val live = CdcPipeline.liveState(t)
    assert(live.count() === 100)
    assert(live.filter(!col("name").startsWith("new")).count() === 0)
    t.currentSnapshot.get.files.foreach { f =>
      val b = spark.read.parquet(s"$root/data/${f.path}")
        .select(LakeTable.bucketExpr(Seq("id"), 4).as("b")).distinct().collect()
      assert(b.length === 1 && b(0).getInt(0) === f.bucket)
    }
  }

  test("compaction racing a merge commit retries commit-only and keeps both results") {
    import spark.implicits._
    val root = SparkTestBase.tmpDir("cdc-crace")
    val t = LakeTable(root)(spark)
    val schema = Seq((1L, "a", 1L, false)).toDF("id", "name",
      CdcModel.RowLsnCol, CdcModel.DeletedCol).schema
    t.create(schema, numBuckets = 4, appId = "cr", keyCols = Seq("id"))
    def batch(lsn: Long, tag: String) = spark.range(100)
      .select(col("id"), concat(lit(tag), col("id")).as("name"),
        lit(lsn).as(CdcModel.LsnCol), lit("U").as(CdcModel.OpCol))
    graft.cdc.Merge(t, batch(1, "g1"), "cr", 0, keyCols = Seq("id"), mergeOnRead = true)
    graft.cdc.Merge(t, batch(2, "g2"), "cr", 1, keyCols = Seq("id"), mergeOnRead = true)
    // plan the rewrite against THIS snapshot, then let the table move past it
    // (the sustained-ingest race: a merge lands between compaction's snapshot
    // read and its commit)
    val stale = t.currentSnapshot.get
    graft.cdc.Merge(t, batch(3, "g3"), "cr", 2, keyCols = Seq("id"), mergeOnRead = true)
    val rewritten = graft.cdc.Compaction.compactFrom(t, stale,
      horizonLsn = -1L, maxFilesPerBucket = 1, maxBucketsPerRun = Int.MaxValue)
    assert(rewritten > 0) // committed despite the conflict — no skip
    val snap = t.currentSnapshot.get
    // fencing identity re-adopted from the FRESH parent: the fence a
    // restarted stream checks must not regress to the stale parent's batch 1
    assert(snap.batchId === 2L)
    // batch 3's generation files (added after the stale parent) survive the
    // replace: every compacted bucket holds the folded file PLUS batch 3's
    val filesPerBucket = snap.files.groupBy(_.bucket).values.map(_.size).toSet
    assert(filesPerBucket === Set(2))
    // and LWW over (folded ∪ batch-3) resolves to batch 3 everywhere
    val live = CdcPipeline.liveState(t)
    assert(live.count() === 100)
    assert(live.filter(!col("name").startsWith("g3")).count() === 0)
  }

  test("compaction retry rethrows when its input files were removed by another rewrite") {
    import spark.implicits._
    val root = SparkTestBase.tmpDir("cdc-crace2")
    val t = LakeTable(root)(spark)
    val schema = Seq((1L, "a", 1L, false)).toDF("id", "name",
      CdcModel.RowLsnCol, CdcModel.DeletedCol).schema
    t.create(schema, numBuckets = 4, appId = "cr2", keyCols = Seq("id"))
    def batch(lsn: Long, tag: String) = spark.range(50)
      .select(col("id"), concat(lit(tag), col("id")).as("name"),
        lit(lsn).as(CdcModel.LsnCol), lit("U").as(CdcModel.OpCol))
    graft.cdc.Merge(t, batch(1, "a"), "cr2", 0, keyCols = Seq("id"), mergeOnRead = true)
    graft.cdc.Merge(t, batch(2, "b"), "cr2", 1, keyCols = Seq("id"), mergeOnRead = true)
    val stale = t.currentSnapshot.get
    // a concurrent FULL compaction replaces the stale parent's files — the
    // staged rewrite's inputs are gone, so the retry must NOT commit (it
    // would resurrect superseded generations); the conflict propagates to
    // the daemon's benign skip path
    graft.cdc.Compaction(t, horizonLsn = -1L, maxFilesPerBucket = 1)
    assertThrows[graft.lake.CommitConflictException] {
      graft.cdc.Compaction.compactFrom(t, stale,
        horizonLsn = -1L, maxFilesPerBucket = 1, maxBucketsPerRun = Int.MaxValue)
    }
    // the loser changed nothing: state is still the winner's
    assert(CdcPipeline.liveState(t).filter(!col("name").startsWith("b")).count() === 0)
  }

  test("sub-bucket salt (hot-bucket skew path) leaves merged state unchanged") {
    val run = (salt: Int, tag: String) => {
      spark.conf.set("graft.merge.salt", salt.toString)
      try {
        val p = new CdcPipeline(LakeTable(SparkTestBase.tmpDir(s"cdc-salt-$tag"))(spark), "app-salt")
        p.bootstrap(numBuckets = 4) // few buckets → salt is what provides parallelism
        p.replay(events, numBatches = 3)
        finalState(p)
      } finally spark.conf.unset("graft.merge.salt")
    }
    val unsalted = run(1, "s1")
    val salted = run(4, "s4")
    assert(salted.count() === unsalted.count())
    assert(salted.exceptAll(unsalted).count() === 0)
    assert(unsalted.exceptAll(salted).count() === 0)
  }

  test("salt actually spreads a hot bucket across tasks (file-count evidence)") {
    spark.conf.set("graft.merge.salt", "4")
    try {
      // 2 buckets only → without salt, merge parallelism caps at 2 tasks
      // and each bucket lands in exactly one file per batch
      val p = new CdcPipeline(LakeTable(SparkTestBase.tmpDir("cdc-salt-files"))(spark),
        "app-saltf", mergeOnRead = true, compactEveryFiles = 0)
      p.bootstrap(numBuckets = 2)
      p.replay(events, numBatches = 1)
      val filesPerBucket = p.table.currentSnapshot.get.files.groupBy(_.bucket)
      // with salt=4 each bucket's rows arrive from up to 4 shuffle tasks →
      // multiple files per bucket = the parallelism actually happened
      assert(filesPerBucket.values.exists(_.size > 1),
        s"expected salted multi-file buckets, got ${filesPerBucket.view.mapValues(_.size).toMap}")
    } finally spark.conf.unset("graft.merge.salt")
  }

  test("batch replay (same batchId) is fenced to a no-op") {
    val root = SparkTestBase.tmpDir("cdc-fence")
    val p = new CdcPipeline(LakeTable(root)(spark), "app-fence")
    p.bootstrap(numBuckets = 8)
    val s1 = p.applyBatch(events, batchId = 0)
    assert(!s1.skippedFenced && s1.rowsWritten > 0)
    val v1 = digest(finalState(p))
    val s2 = p.applyBatch(events, batchId = 0)
    assert(s2.skippedFenced)
    assert(digest(finalState(p)).sameElements(v1))
    // the fenced replay must NOT overwrite the version's lineage record with
    // its zeroed stats (POSIX rename overwrites; append is skipped on fence)
    val lin = Lineage.read(spark, root)
      .filter(col("version") === s1.committedVersion).collect()
    assert(lin.length === 1)
    assert(lin(0).getAs[Long]("eventsIn") === s1.eventsIn)
    assert(!lin(0).getAs[Boolean]("skippedFenced"))
  }

  test("re-applying an arbitrary suffix of batches is idempotent (exactly-once)") {
    val root = SparkTestBase.tmpDir("cdc-replay")
    val p = new CdcPipeline(LakeTable(root)(spark), "app-replay")
    p.bootstrap(numBuckets = 16)
    p.replay(events, numBatches = 4)
    val d1 = digest(finalState(p))
    // crash-recovery: batches 2..3 re-applied with NEW batch ids (fencing
    // does not trigger) — LWW against stored _lsn must keep state identical
    val bounds = events.agg(min("lsn"), max("lsn")).collect()(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L, (hi - lo + 4) / 4)
    val suffix = events.filter(col("lsn") >= lo + 2 * width)
    p.applyBatch(suffix, batchId = 100)
    assert(digest(finalState(p)).sameElements(d1))
  }

  test("partial redelivery of a same-LSN losing event is a no-op (regression)") {
    import spark.implicits._
    // two U events collide at lsn 10; 'b-wins' > 'a-loses' lexically
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val both = Seq(
      (10L, "U", "r1", "p1", "c1", "scala", "a-loses", ts),
      (10L, "U", "r1", "p1", "c1", "scala", "b-wins", ts))
      .toDF("lsn", "op", "repo", "path", "commit", "lang", "content", "eventTime")
    for (mor <- Seq(false, true)) {
      val p = new CdcPipeline(LakeTable(SparkTestBase.tmpDir(s"cdc-redeliver-$mor"))(spark),
        s"app-rd-$mor", mergeOnRead = mor)
      p.bootstrap(numBuckets = 4)
      p.applyBatch(both, batchId = 0)
      assert(p.state().select("content").collect()(0).getString(0) === "b-wins")
      // ONLY the loser is redelivered later (late duplicate file)
      p.applyBatch(both.filter(col("content") === "a-loses"), batchId = 1)
      assert(p.state().select("content").collect()(0).getString(0) === "b-wins",
        s"mergeOnRead=$mor: stored winner must survive partial redelivery")
      // same for a delete colliding with a late same-LSN update
      p.applyBatch(Seq((20L, "D", "r1", "p1", "c1", "scala", "", ts))
        .toDF("lsn", "op", "repo", "path", "commit", "lang", "content", "eventTime"), 2)
      assert(p.state().count() === 0)
      p.applyBatch(Seq((20L, "U", "r1", "p1", "c1", "scala", "zombie", ts))
        .toDF("lsn", "op", "repo", "path", "commit", "lang", "content", "eventTime"), 3)
      assert(p.state().count() === 0,
        s"mergeOnRead=$mor: same-LSN update must not resurrect a delete")
    }
  }

  test("watermark guard short-circuits fully-stale batches (metadata-only commit)") {
    // both modes: CoW short-circuits on the (pre-computed or per-batch)
    // pre-pass; MOR runs the merge job with zero surviving rows and must
    // still land the identical metadata-only commit (round 6 removed its
    // take(1) emptiness probe — this is the path that replaced it)
    for (mor <- Seq(false, true)) {
      val root = SparkTestBase.tmpDir(s"cdc-stale-$mor")
      val p = new CdcPipeline(LakeTable(root)(spark), s"app-stale-$mor",
        mergeOnRead = mor)
      p.bootstrap(numBuckets = 8)
      p.applyBatch(events, batchId = 0)
      val t = p.table.currentSnapshot.get
      // all LSNs ≤ watermark; guard applies only under ordered delivery
      val s = p.applyBatch(events, batchId = 1, orderedDelivery = true)
      assert(s.eventsIn === 0 && s.bucketsTouched === 0 && s.rowsWritten === 0,
        s"mergeOnRead=$mor")
      assert(!s.schemaEvolved && !s.skippedFenced, s"mergeOnRead=$mor")
      assert(p.table.currentSnapshot.get.files.map(_.path) === t.files.map(_.path),
        s"mergeOnRead=$mor")
      // the epoch still advanced (exactly-once bookkeeping)
      assert(p.table.currentSnapshot.get.batchId === 1L, s"mergeOnRead=$mor")
    }
  }

  test("merge prunes untouched buckets (affected-partition pruning)") {
    val root = SparkTestBase.tmpDir("cdc-prune")
    val p = new CdcPipeline(LakeTable(root)(spark), "app-prune")
    p.bootstrap(numBuckets = 64)
    p.applyBatch(events, batchId = 0)
    val before = p.table.currentSnapshot.get
    // a single-key update must rewrite exactly one bucket's files
    val one = events.orderBy("lsn").limit(1)
      .withColumn("lsn", col("lsn") + 1000000L)
      .withColumn("op", lit("U"))
      .withColumn("content", lit("patched"))
    val s = p.applyBatch(one, batchId = 1)
    assert(s.bucketsTouched === 1)
    val after = p.table.currentSnapshot.get
    val untouchedBefore = before.files.map(_.path).toSet
    val kept = after.files.map(_.path).toSet.intersect(untouchedBefore)
    assert(kept.size === before.files.size - s.filesRewritten)
  }

  test("delete events remove rows") {
    val root = SparkTestBase.tmpDir("cdc-del")
    val p = new CdcPipeline(LakeTable(root)(spark), "app-del")
    p.bootstrap(numBuckets = 8)
    p.applyBatch(events, batchId = 0)
    val n0 = p.state().count()
    val victims = p.state().limit(5)
      .select(lit(10000000L).as("lsn"), lit("D").as("op"),
        col("repo"), col("path"), col("commit"), col("lang"),
        lit("").as("content"), current_timestamp().as("eventTime"))
    p.applyBatch(victims, batchId = 1)
    assert(p.state().count() === n0 - 5)
  }

  test("schema evolution: added payload column widens the table") {
    val root = SparkTestBase.tmpDir("cdc-evo")
    val p = new CdcPipeline(LakeTable(root)(spark), "app-evo")
    p.bootstrap(numBuckets = 8)
    p.applyBatch(events, batchId = 0)
    val evolved = events.filter(col("op") === "I").orderBy("lsn").limit(3)
      .withColumn("lsn", col("lsn") + 2000000L)
      .withColumn("op", lit("U"))
      .withColumn("quality", lit(0.9))
    val s = p.applyBatch(evolved, batchId = 1)
    assert(s.schemaEvolved)
    val st = p.state()
    assert(st.columns.contains("quality"))
    assert(st.filter(col("quality").isNotNull).count() === 3)
    // rows from old files read as null for the new column
    assert(st.filter(col("quality").isNull).count() === st.count() - 3)
  }

  test("merge-on-read replay matches the LWW oracle and copy-on-write state") {
    val rootM = SparkTestBase.tmpDir("cdc-mor")
    val pm = new CdcPipeline(LakeTable(rootM)(spark), "app-mor",
      mergeOnRead = true, compactEveryFiles = 4)
    pm.bootstrap(numBuckets = 16)
    pm.replay(events, numBatches = 6)
    val got = finalState(pm)
    val want = oracle(events)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    // auto-compaction keeps per-bucket file counts bounded. It runs in the
    // background now, so quiesce first: drain any in-flight run, then drive
    // one empty batch (metadata-only commit) whose fragmentation check sees
    // the FINAL layout, and drain again.
    pm.awaitMaintenance()
    pm.applyBatch(events.limit(0), batchId = 100)
    pm.awaitMaintenance()
    assert(pm.compactionsRun.get() >= 1, "auto-compaction should have run")
    val maxFiles = pm.table.currentSnapshot.get.files.groupBy(_.bucket)
      .values.map(_.size).max
    assert(maxFiles <= 5)
  }

  test("merge-on-read out-of-order suffix re-append stays idempotent") {
    val root = SparkTestBase.tmpDir("cdc-mor-replay")
    val p = new CdcPipeline(LakeTable(root)(spark), "app-mor2", mergeOnRead = true)
    p.bootstrap(numBuckets = 16)
    p.replay(events, numBatches = 4)
    val d1 = digest(finalState(p))
    val bounds = events.agg(min("lsn"), max("lsn")).collect()(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L, (hi - lo + 4) / 4)
    p.applyBatch(events.filter(col("lsn") >= lo + 2 * width), batchId = 200)
    assert(digest(finalState(p)).sameElements(d1))
    // compaction after duplicate appends still resolves to the same state
    graft.cdc.Compaction(p.table, horizonLsn = hi, maxFilesPerBucket = 1)
    assert(digest(finalState(p)).sameElements(d1))
  }

  test("long MOR replay: compaction+vacuum never change liveState, file count stays bounded, horizon GCs tombstones") {
    // The invariant that keeps a 10^10-event tail healthy: over a long
    // merge-on-read replay with interleaved maintenance, (a) compaction and
    // vacuum NEVER change the live state, (b) per-bucket file counts stay
    // bounded by the compaction policy instead of growing with the stream,
    // (c) once every source offset passes the horizon, expired tombstones
    // are physically gone, and (d) vacuum leaves exactly the live file set.
    val ev = SyntheticEvents.generate(spark, 30000, nRepos = 20, filesPerRepo = 10).cache()
    val p = new CdcPipeline(LakeTable(SparkTestBase.tmpDir("cdc-gc"))(spark), "app-gc",
      mergeOnRead = true, compactEveryFiles = 4)
    p.bootstrap(numBuckets = 8)
    val nB = 10
    val bounds = ev.agg(min("lsn"), max("lsn")).collect()(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L, (hi - lo + nB) / nB)
    for (i <- 0 until nB) {
      val slice = ev.filter(col("lsn") >= lo + i * width && col("lsn") < lo + (i + 1) * width)
      p.applyBatch(slice, batchId = i, orderedDelivery = true)
      if (i % 3 == 2) { // periodic maintenance mid-stream
        val d = digest(finalState(p))
        graft.cdc.Compaction(p.table, horizonLsn = lo + (i + 1) * width - 1,
          maxFilesPerBucket = 2)
        p.table.vacuum(graceMs = 0)
        assert(digest(finalState(p)).sameElements(d),
          s"maintenance changed live state after batch $i")
      }
      val maxFiles = p.table.currentSnapshot.get.files.groupBy(_.bucket)
        .values.map(_.size).max
      assert(maxFiles <= 5, s"unbounded file growth at batch $i: $maxFiles files in a bucket")
    }
    val want = oracle(ev)
    val got = finalState(p)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0)
    // all offsets past the horizon → every tombstone is dead weight and GC'd
    graft.cdc.Compaction(p.table, horizonLsn = hi, maxFilesPerBucket = 1)
    assert(p.table.read().filter(coalesce(col("_deleted"), lit(false))).count() === 0,
      "expired tombstones survived the horizon compaction")
    p.table.vacuum(graceMs = 0)
    val live = p.table.currentSnapshot.get.files.map(_.path).toSet
    val onDisk = new java.io.File(p.table.root + "/data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(onDisk === live, "vacuum left superseded files behind")
  }

  test("generation-aware reads: mixed single-file and fragmented buckets resolve exactly") {
    // round-5 read path: buckets with one file bypass the LWW window, buckets
    // with ≥2 generations go through it — the union must equal the full fold
    val p = new CdcPipeline(LakeTable(SparkTestBase.tmpDir("cdc-genaware"))(spark),
      "app-genaware", mergeOnRead = true, compactEveryFiles = 0)
    p.bootstrap(numBuckets = 8)
    p.applyBatch(events, batchId = 0) // every touched bucket: exactly 1 file
    // update a SMALL key subset so only some buckets gain a second generation
    val upd = events.orderBy("lsn").limit(20)
      .withColumn("lsn", col("lsn") + 5000000L)
      .withColumn("op", lit("U"))
      .withColumn("content", concat(lit("v2-"), col("content")))
    p.applyBatch(upd, batchId = 1)
    val fpb = p.table.currentSnapshot.get.files.groupBy(_.bucket).values.map(_.size).toSeq
    assert(fpb.contains(1) && fpb.exists(_ > 1),
      s"test requires a MIXED table, got files-per-bucket $fpb")
    val got = finalState(p)
    val want = oracle(events.unionByName(upd))
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    // and the tombstone path: deleting a key in a SINGLE-file bucket still
    // removes it (liveState filters tombstones on both sides of the union)
    val n0 = p.state().count()
    val victims = p.state().limit(3)
      .select(lit(20000000L).as("lsn"), lit("D").as("op"),
        col("repo"), col("path"), col("commit"), col("lang"),
        lit("").as("content"), current_timestamp().as("eventTime"))
    p.applyBatch(victims, batchId = 2)
    assert(p.state().count() === n0 - 3)
  }

  test("point lookup: bucket-pruned read equals liveState per key, deleted keys empty") {
    import spark.implicits._
    // mixed fragmentation, same shape as the generation-aware test: lookup
    // must LWW-resolve keys in fragmented buckets and skip the window in
    // single-file ones — and always read ONLY the key's bucket
    val p = new CdcPipeline(LakeTable(SparkTestBase.tmpDir("cdc-lookup"))(spark),
      "app-lookup", mergeOnRead = true, compactEveryFiles = 0)
    p.bootstrap(numBuckets = 8)
    p.applyBatch(events, batchId = 0)
    val upd = events.orderBy("lsn").limit(20)
      .withColumn("lsn", col("lsn") + 5000000L)
      .withColumn("op", lit("U"))
      .withColumn("content", concat(lit("v2-"), col("content")))
    p.applyBatch(upd, batchId = 1)
    val snap = p.table.currentSnapshot.get
    assert(snap.files.groupBy(_.bucket).values.exists(_.size > 1))
    val live = p.state().cache()
    // probe keys: an UPDATED key (2nd generation must win), an untouched
    // key, and a DELETED key (tombstone → empty result)
    val updatedKey = upd.select("repo", "path", "commit").head()
    val untouchedKey = live.orderBy("repo", "path", "commit").head()
    def kv(r: org.apache.spark.sql.Row): Map[String, Any] =
      Map("repo" -> r.getString(0), "path" -> r.getString(1), "commit" -> r.getString(2))
    for (key <- Seq(kv(updatedKey),
        Map("repo" -> untouchedKey.getString(0), "path" -> untouchedKey.getString(1),
            "commit" -> untouchedKey.getString(2)))) {
      val got = CdcPipeline.lookup(p.table, key)
      val want = key.foldLeft(p.state()) { case (d, (c, v)) => d.filter(col(c) === v) }
      assert(got.count() === 1, s"lookup($key) must find exactly one live row")
      assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
        s"lookup($key) must equal liveState filtered to the key")
      // pruning evidence: the lookup plan reads only the key's bucket's files
      val bucket = p.table.bucketOf(snap, snap.keyCols.toSeq, key)
      val bucketFiles = snap.files.count(_.bucket == bucket)
      assert(got.inputFiles.length === bucketFiles &&
        got.inputFiles.length < snap.files.size,
        s"lookup must scan the one bucket ($bucketFiles files), " +
        s"not the table (${snap.files.size})")
    }
    // deleted key: tombstone wins → no live row
    val victim = live.orderBy(col("path").desc).head()
    p.applyBatch(Seq((30000000L, "D", victim.getString(0), victim.getString(1),
        victim.getString(2), "scala", "",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("lsn", "op", "repo", "path", "commit", "lang", "content", "eventTime"),
      batchId = 2)
    assert(CdcPipeline.lookup(p.table, Map("repo" -> victim.getString(0),
      "path" -> victim.getString(1), "commit" -> victim.getString(2))).count() === 0)
    // never-written key: empty, not an error
    assert(CdcPipeline.lookup(p.table, Map("repo" -> "no-such-repo",
      "path" -> "nope.txt", "commit" -> "deadbeef")).count() === 0)
    // partial key cannot prune: loud failure, not a silent wrong answer
    val e = intercept[IllegalArgumentException] {
      CdcPipeline.lookup(p.table, Map("repo" -> victim.getString(0)))
    }
    assert(e.getMessage.contains("EVERY key column"))
    live.unpersist()
  }

  test("two concurrent writers: commit conflict retried, both batches land (optimistic concurrency)") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val root = SparkTestBase.tmpDir("cdc-occ")
    val p = new CdcPipeline(LakeTable(root)(spark), "app-occ")
    p.bootstrap(numBuckets = 8)
    def batch(tag: String, base: Long) = (0 until 200).map(i =>
      (base + i, "I", s"r-$tag", s"p$i", s"c$i", "scala", s"content-$tag-$i", ts))
      .toDF("lsn", "op", "repo", "path", "commit", "lang", "content", "eventTime")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // both writers read snapshot v0; the commit CAS serializes them — the
    // loser must re-merge against the winner's snapshot, not die. Distinct
    // appIds: batchIds are monotonic only WITHIN an appId, so concurrent
    // unordered writers each carry their own fencing identity (the same-appId
    // shape would be a zombie driver, which the epoch fence rightly skips).
    val p2 = new CdcPipeline(LakeTable(root)(spark), "app-occ-2")
    val fa = Future { p.applyBatch(batch("a", 0), batchId = 0) }
    val fb = Future { p2.applyBatch(batch("b", 1000000), batchId = 0) }
    Await.result(Future.sequence(Seq(fa, fb)), 180.seconds)
    assert(p.state().count() === 400)
    assert(p.state().filter(col("repo") === "r-a").count() === 200)
    assert(p.state().filter(col("repo") === "r-b").count() === 200)
    assert(p.table.latestVersion === 2) // two real commits, serialized
  }

  test("lineage roll-up bounds lineage/ to O(keepRecent) files and loses nothing") {
    import graft.cdc.{Lineage, MergeStats}
    val t = LakeTable(SparkTestBase.tmpDir("cdc-linroll"))(spark)
    def stats(v: Long) = MergeStats(v, v, v * 10, v * 9, v, 2, 1, v * 9, v * 100,
      v, v + 5, schemaEvolved = false, skippedFenced = false, 42L,
      sourceOffsets = Map("src" -> v))
    (1L to 30L).foreach(v => Lineage.append(t, stats(v)))
    def dirFiles() = new java.io.File(t.root + "/lineage").listFiles().map(_.getName).toSeq
    assert(dirFiles().count(_.endsWith(".json")) === 30)
    // fold all but the newest 5 into one parquet segment
    assert(Lineage.compact(spark, t.root, keepRecent = 5) === 25)
    assert(dirFiles().count(_.endsWith(".json")) === 5)
    assert(dirFiles().count(n => n.startsWith("segment-") && n.endsWith(".parquet")) === 1)
    val r1 = Lineage.read(spark, t.root)
    assert(r1.count() === 30)
    assert(r1.agg(sum("eventsIn")).collect()(0).getLong(0) === (1L to 30L).map(_ * 10).sum)
    // offsets maps survive the parquet round-trip
    assert(r1.filter(col("version") === 7L)
      .select(element_at(col("sourceOffsets"), "src")).collect()(0).getLong(0) === 7L)
    // a second roll-up folds the NEW tail plus the previous segment — the
    // directory stays O(keepRecent)+1 forever, not O(history)
    (31L to 40L).foreach(v => Lineage.append(t, stats(v)))
    assert(Lineage.compact(spark, t.root, keepRecent = 5) === 11) // 10 jsons + 1 segment
    assert(dirFiles().count(_.endsWith(".json")) === 5)
    assert(dirFiles().count(n => n.startsWith("segment-")) === 1)
    assert(Lineage.read(spark, t.root).count() === 40)
    // crash/replay safety: a fenced replay re-reporting an already-folded
    // commit recreates its JSON — read() dedups by version
    Lineage.append(t, stats(7L))
    assert(Lineage.read(spark, t.root).count() === 40)
    // below-threshold call is a no-op
    assert(Lineage.compact(spark, t.root, keepRecent = 64) === 0)
  }

  test("in-stream retention vacuum bounds meta/ and data/ without changing state") {
    val root = SparkTestBase.tmpDir("cdc-retain")
    val table = LakeTable(root)(spark)
    // phase 1, retention OFF (the default): copy-on-write batches supersede
    // files and every version's snapshot record accumulates
    val p0 = new CdcPipeline(table, "app-retain")
    p0.bootstrap(numBuckets = 8)
    val bounds = events.agg(min("lsn"), max("lsn")).collect()(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val split = lo + (hi - lo) * 4 / 5
    p0.replay(events.filter(col("lsn") <= split), numBatches = 8)
    assert(table.versions.size === 9, "bootstrap + 8 batch commits")
    val dataBefore = new java.io.File(s"$root/data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    // age everything on disk past the grace window, as wall-clock would
    val fs = table.fs
    val old = System.currentTimeMillis() - 3600000L
    for (dir <- Seq("meta", "data"))
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$dir")).filter(_.isFile)
        .foreach(st => fs.setTimes(st.getPath, old, -1))
    // phase 2, retention ON: the next batch's background maintenance runs the
    // vacuum (cadence 1); quiesced afterwards, so grace only shields the
    // fresh batch's own files
    val p1 = new CdcPipeline(table, "app-retain", retainSnapshots = 2,
      vacuumEveryBatches = 1, vacuumGraceMs = 60000L)
    p1.replay(events.filter(col("lsn") > split), numBatches = 1, startBatchId = 8)
    p1.awaitMaintenance()
    assert(table.versions === Seq(8L, 9L),
      s"expired versions must be gone, got ${table.versions}")
    val live = (table.snapshot(8L).files ++ table.snapshot(9L).files).map(_.path).toSet
    val dataAfter = new java.io.File(s"$root/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(dataAfter === live, "data/ must hold exactly the retained snapshots' files")
    assert(dataAfter.size < dataBefore, "superseded CoW generations must be collected")
    // the surviving state is still exactly the LWW fold of the whole stream
    assert(digest(finalState(p1)).sameElements(digest(oracle(events))))
  }

  test("merge validates the key layout and ties break deterministically without content") {
    import spark.implicits._
    val root = SparkTestBase.tmpDir("cdc-keys")
    val table = new LakeTable(root, spark)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(CdcModel.RowLsnCol, org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(CdcModel.DeletedCol, org.apache.spark.sql.types.BooleanType)))
    table.create(schema, numBuckets = 4, "keys-app", Seq("id"))
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("id", "payload")
      .withColumn(CdcModel.LsnCol, lit(7L)).withColumn(CdcModel.OpCol, lit("U"))
    // default CDC-model keys ADOPT the table's recorded key ["id"] (the
    // pipeline always passes the default; the manifest is the layout truth)
    val s1 = graft.cdc.Merge(table, batch(1L -> "x", 2L -> "y"), "keys-app", 0L)
    assert(s1.eventsIn === 2)
    // an EXPLICIT mismatching key is a config error, not silent mis-bucketing
    val e = intercept[IllegalArgumentException] {
      graft.cdc.Merge(table, batch(3L -> "z"), "keys-app", 1L,
        keyCols = Seq("id", "payload"))
    }
    assert(e.getMessage.contains("rebucket"))
    // a batch missing a key column fails loudly (conforming to null would
    // bucket every row together)
    val e2 = intercept[IllegalArgumentException] {
      graft.cdc.Merge(table,
        Seq("a").toDF("payload").withColumn(CdcModel.LsnCol, lit(9L))
          .withColumn(CdcModel.OpCol, lit("U")),
        "keys-app", 1L)
    }
    assert(e2.getMessage.contains("missing key column"))
    // no-content table, duplicate key at ONE LSN: the winner is the
    // deterministic hash tie-break, not shuffle order — two fresh replays
    // must agree with each other and with this table
    def replayDup(tag: String): String = {
      val r = SparkTestBase.tmpDir(s"cdc-keys-$tag")
      val t2 = new LakeTable(r, spark)
      t2.create(schema, numBuckets = 4, "keys-app", Seq("id"))
      graft.cdc.Merge(t2, batch(5L -> "AAA", 5L -> "BBB").repartition(4), "keys-app", 0L)
      CdcPipeline.liveState(t2).select("payload").collect()(0).getString(0)
    }
    val (w1, w2) = (replayDup("a"), replayDup("b"))
    assert(w1 === w2)
  }

  test("zombie batch BELOW the snapshot epoch is fenced (MOR gains no duplicate generations)") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def b(lsn: Long, c: String) = Seq((lsn, "U", "r1", "p1", "c1", "scala", c, ts))
      .toDF("lsn", "op", "repo", "path", "commit", "lang", "content", "eventTime")
    val t = LakeTable(SparkTestBase.tmpDir("cdc-zombie"))(spark)
    val p = new CdcPipeline(t, "app-z", mergeOnRead = true)
    p.bootstrap(numBuckets = 4)
    p.applyBatch(b(1, "v1"), batchId = 0)
    p.applyBatch(b(2, "v2"), batchId = 1)
    val files = t.currentSnapshot.get.files.size
    // a zombie driver re-presents batch 0 AFTER batch 1 committed: must be
    // fenced at entry (batchIds are monotonic per appId), not re-appended
    val s = p.applyBatch(b(1, "v1"), batchId = 0)
    assert(s.skippedFenced, "batch below the snapshot epoch must be fenced")
    assert(t.currentSnapshot.get.files.size === files,
      "re-applied zombie batch must not add generation files")
    assert(p.state().select("content").collect()(0).getString(0) === "v2")
  }

  test("merge rejects a batch whose key column TYPE differs from the stored layout") {
    import spark.implicits._
    val t = LakeTable(SparkTestBase.tmpDir("cdc-keytype"))(spark)
    t.create(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(CdcModel.RowLsnCol, org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(CdcModel.DeletedCol, org.apache.spark.sql.types.BooleanType))),
      numBuckets = 4, "keytype-app", Seq("id"))
    // xxhash64(INT) != xxhash64(BIGINT): an int-typed id would bucket rows
    // differently than the stored long-typed layout — must fail loudly
    val bad = Seq((1, "x")).toDF("id", "payload")
      .withColumn("lsn", lit(1L)).withColumn("op", lit("U"))
    val e = intercept[IllegalArgumentException] {
      graft.cdc.Merge(t, bad, "keytype-app", 0L, keyCols = Seq("id"))
    }
    assert(e.getMessage.contains("key column type"))
    // the exact type merges fine
    val ok = Seq((1L, "x")).toDF("id", "payload")
      .withColumn("lsn", lit(1L)).withColumn("op", lit("U"))
    graft.cdc.Merge(t, ok, "keytype-app", 0L, keyCols = Seq("id"))
    assert(CdcPipeline.liveState(t).count() === 1)
  }

  test("config-frontend metaCols: a payload column named eventTime evolves in, not dropped") {
    import spark.implicits._
    val t = LakeTable(SparkTestBase.tmpDir("cdc-evtpayload"))(spark)
    t.create(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(CdcModel.RowLsnCol, org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(CdcModel.DeletedCol, org.apache.spark.sql.types.BooleanType))),
      numBuckets = 4, "evt-app", Seq("id"))
    // the endpoint schema gained an eventTime PAYLOAD column after the
    // destination was created — with the config frontend's narrowed metaCols
    // it must evolve into the table like any other new column
    val batch = Seq((1L, "x", "2024-05-01")).toDF("id", "payload", "eventTime")
      .withColumn("lsn", lit(1L)).withColumn("op", lit("U"))
    graft.cdc.Merge(t, batch, "evt-app", 0L, keyCols = Seq("id"),
      metaCols = Set(CdcModel.LsnCol, CdcModel.OpCol))
    val live = CdcPipeline.liveState(t)
    assert(live.columns.contains("eventTime"),
      "payload eventTime column must survive a config-frontend merge")
    assert(live.select("eventTime").collect()(0).getString(0) === "2024-05-01")
    // the CDC default still treats eventTime as bookkeeping (no evolution)
    val t2 = LakeTable(SparkTestBase.tmpDir("cdc-evtmeta"))(spark)
    val p2 = new CdcPipeline(t2, "app-evt2")
    p2.bootstrap(numBuckets = 4)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    p2.applyBatch(Seq((1L, "U", "r1", "p1", "c1", "scala", "c", ts))
      .toDF("lsn", "op", "repo", "path", "commit", "lang", "content", "eventTime"), 0L)
    assert(!p2.state().columns.contains("eventTime"))
  }

  test("synthetic generator is deterministic and skewed") {
    val a = SyntheticEvents.generate(spark, 10000)
    val b = SyntheticEvents.generate(spark, 10000)
    assert(a.exceptAll(b).count() === 0)
    val byRepo = a.groupBy("repo").count().orderBy(col("count").desc).limit(1).collect()(0)
    assert(byRepo.getLong(1) > 10000 / 50) // hot repo ≫ uniform share
  }
}
