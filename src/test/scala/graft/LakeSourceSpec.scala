package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cdc.{CdcFeed, CdcPipeline}
import graft.lake.LakeTable
import graft.model.DerivedEvents
import graft.streaming.{LakeSource, LakeSourceOffset, LakeSourceProvider}

/** The LakeTable-as-a-stream source: a running Structured Streaming query
  * over a table must receive exactly the table's change feed — initial state,
  * then per-commit deltas, across checkpointed restarts, composing with
  * stateful downstream operators — and fail loudly when its offset has been
  * vacuumed away.
  */
class LakeSourceSpec extends SparkSuite {

  lazy val events = DerivedEvents.fromDocuments(
    spark.read.parquet(s"$sfDir/documents.parquet")).cache()

  private def shaEvents(df: DataFrame): DataFrame =
    df.select(col("lsn"), col("op"), col("repo"), col("path"), col("commit"),
      col("lang"), sha2(col("content"), 256).as("content_sha"))

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  private def splitLsn: Long = {
    val b = events.agg(min("lsn"), max("lsn")).collect()(0)
    (b.getLong(0) + b.getLong(1)) / 2
  }

  test("readStream over a table delivers the feed: initial state, then deltas only") {
    val root = SparkTestBase.tmpDir("lsrc")
    val src = new CdcPipeline(LakeTable(root)(spark), "lsrc-app",
      mergeOnRead = true)
    src.bootstrap(numBuckets = 8)
    src.applyBatch(events.filter(col("lsn") < splitLsn), 0L, orderedDelivery = true)
    val v1 = src.table.latestVersion

    val q = spark.readStream.format(classOf[LakeSourceProvider].getName)
      .option("path", root).load()
      .writeStream.format("memory").queryName("lsrc_feed")
      .option("checkpointLocation", SparkTestBase.tmpDir("lsrc-ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assertSameRows(shaEvents(spark.table("lsrc_feed")),
        shaEvents(CdcFeed.asEvents(src.table.readAppends(-1, v1))))
      // a new source commit becomes the NEXT micro-batch — delta only
      src.applyBatch(events.filter(col("lsn") >= splitLsn), 1L, orderedDelivery = true)
      val v2 = src.table.latestVersion
      q.processAllAvailable()
      assertSameRows(shaEvents(spark.table("lsrc_feed")),
        shaEvents(CdcFeed.asEvents(src.table.readAppends(-1, v1))
          .unionByName(CdcFeed.asEvents(src.table.readAppends(v1, v2)))))
    } finally q.stop()
  }

  test("short name 'graft-table' resolves through DataSourceRegister") {
    val root = SparkTestBase.tmpDir("lsrc-short")
    val src = new CdcPipeline(LakeTable(root)(spark), "lsrc-app")
    src.bootstrap(numBuckets = 4)
    src.applyBatch(events.filter(col("lsn") < splitLsn), 0L, orderedDelivery = true)
    val q = spark.readStream.format("graft-table").option("path", root).load()
      .writeStream.format("memory").queryName("lsrc_short")
      .option("checkpointLocation", SparkTestBase.tmpDir("lsrc-short-ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("lsrc_short").count() ===
        CdcFeed.asEvents(src.table.read()).count())
    } finally q.stop()
  }

  test("stateful downstream aggregation over the stream (complete mode)") {
    val root = SparkTestBase.tmpDir("lsrc-agg")
    val src = new CdcPipeline(LakeTable(root)(spark), "lsrc-app",
      mergeOnRead = true)
    src.bootstrap(numBuckets = 8)
    src.replay(events, numBatches = 3)
    val q = spark.readStream.format(classOf[LakeSourceProvider].getName)
      .option("path", root).load()
      .groupBy("op").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("lsrc_agg").outputMode("complete")
      .option("checkpointLocation", SparkTestBase.tmpDir("lsrc-agg-ckpt"))
      .start()
    try {
      q.processAllAvailable()
      val want = CdcFeed.asEvents(src.table.read())
        .groupBy("op").agg(count(lit(1)).as("n"))
      assertSameRows(spark.table("lsrc_agg"), want)
    } finally q.stop()
  }

  test("maxVersionsPerBatch bounds every micro-batch of a catch-up, delivering exactly once") {
    val root = SparkTestBase.tmpDir("lsrc-rate")
    val src = new CdcPipeline(LakeTable(root)(spark), "lsrc-app",
      mergeOnRead = true)
    src.bootstrap(numBuckets = 8)
    src.replay(events, numBatches = 5) // versions 0 (bootstrap) .. 5
    val latest = src.table.latestVersion
    val q = spark.readStream.format("graft-table").option("path", root)
      .option("maxVersionsPerBatch", "2").load()
      .writeStream.format("memory").queryName("lsrc_rate")
      .option("checkpointLocation", SparkTestBase.tmpDir("lsrc-rate-ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assertSameRows(shaEvents(spark.table("lsrc_rate")),
        shaEvents(CdcFeed.asEvents(src.table.readAppends(-1, latest))))
      // every data batch spanned <= 2 versions, and together they covered
      // (-1, latest] exactly — read back from the query's own progress log
      val spans = q.recentProgress.toList.flatMap(_.sources.headOption).flatMap { s =>
        Option(s.endOffset).map { e =>
          val endV = LakeSourceOffset.fromJson(e).version
          val startV = Option(s.startOffset)
            .map(LakeSourceOffset.fromJson(_).version).getOrElse(-1L)
          endV - startV
        }.filter(_ > 0)
      }
      assert(spans.nonEmpty && spans.forall(_ <= 2), s"batch version spans: $spans")
      assert(spans.sum === latest + 1, s"batch version spans: $spans")
    } finally q.stop()
  }

  test("startingVersion skips history: a fresh stream delivers only (N, latest]") {
    val root = SparkTestBase.tmpDir("lsrc-sv")
    val src = new CdcPipeline(LakeTable(root)(spark), "lsrc-app",
      mergeOnRead = true)
    src.bootstrap(numBuckets = 8)
    src.replay(events, numBatches = 5) // versions 0 (bootstrap) .. 5
    val latest = src.table.latestVersion
    val q = spark.readStream.format("graft-table").option("path", root)
      .option("startingVersion", "3").load()
      .writeStream.format("memory").queryName("lsrc_sv")
      .option("checkpointLocation", SparkTestBase.tmpDir("lsrc-sv-ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assertSameRows(shaEvents(spark.table("lsrc_sv")),
        shaEvents(CdcFeed.asEvents(src.table.readAppends(3, latest))))
    } finally q.stop()
    // capped + startingVersion: the first offer starts where delivery starts
    val s = new LakeSource(spark, root, maxVersionsPerBatch = 1,
      metadataPath = SparkTestBase.tmpDir("lsrc-sv-meta"), startingVersion = 3L)
    assert(s.getOffset.get.asInstanceOf[LakeSourceOffset].version === 4L)
    // a bad option fails at load(), not at the first trigger
    intercept[IllegalArgumentException] {
      spark.readStream.format("graft-table").option("path", root)
        .option("startingVersion", "-2").load()
    }
  }

  test("the anchor is pinned once: a restart's re-resolved startingVersion cannot move it") {
    val root = SparkTestBase.tmpDir("lsrc-anchor")
    val meta = SparkTestBase.tmpDir("lsrc-anchor-meta")
    val src = new CdcPipeline(LakeTable(root)(spark), "lsrc-app",
      mergeOnRead = true)
    src.bootstrap(numBuckets = 4)
    src.replay(events, numBatches = 5) // latest = 5
    def offerOf(s: LakeSource): Long =
      s.getOffset.get.asInstanceOf[LakeSourceOffset].version
    val s1 = new LakeSource(spark, root, maxVersionsPerBatch = 2,
      metadataPath = meta, startingVersion = 3L)
    assert(offerOf(s1) === 5L) // min(latest = 5, anchor 3 + 2)
    // the table moves on; a restart re-resolves "latest" to the NEW version —
    // the pinned anchor + persisted offer must win, or the restart coalesces
    // the whole lag into one batch (the unbounded catch-up the cap prevents)
    src.replay(events.limit(200), numBatches = 3, startBatchId = 5L) // latest = 8
    val s2 = new LakeSource(spark, root, maxVersionsPerBatch = 2,
      metadataPath = meta, startingVersion = 8L)
    assert(offerOf(s2) === 7L, "markers (5) + cap (2) bound the offer; the " +
      "re-resolved anchor (8) must not leap the base forward")
  }

  test("startingVersion above the current latest never leaks versions <= N") {
    val root = SparkTestBase.tmpDir("lsrc-future")
    val src = new CdcPipeline(LakeTable(root)(spark), "lsrc-app",
      mergeOnRead = true)
    src.bootstrap(numBuckets = 4)
    src.replay(events, numBatches = 2) // latest = 2
    val q = spark.readStream.format("graft-table").option("path", root)
      .option("startingVersion", "4").load() // a FUTURE version
      .writeStream.format("memory").queryName("lsrc_future")
      .option("checkpointLocation", SparkTestBase.tmpDir("lsrc-future-ckpt"))
      .start()
    try {
      // the engine checkpoints the table's CURRENT latest (2) from the
      // first, empty batch — BELOW the anchor. The pinned anchor must keep
      // flooring delivery: versions 3-4 never arrive, version 5 does.
      q.processAllAvailable()
      assert(spark.table("lsrc_future").count() === 0L)
      src.replay(events.limit(500), numBatches = 3, startBatchId = 2L) // → v5
      q.processAllAvailable()
      assertSameRows(shaEvents(spark.table("lsrc_future")),
        shaEvents(CdcFeed.asEvents(src.table.readAppends(4, 5))))
    } finally q.stop()
  }

  test("startingVersion=latest follows from now: only commits after stream start arrive") {
    val root = SparkTestBase.tmpDir("lsrc-svl")
    val src = new CdcPipeline(LakeTable(root)(spark), "lsrc-app",
      mergeOnRead = true)
    src.bootstrap(numBuckets = 8)
    src.applyBatch(events.filter(col("lsn") < splitLsn), 0L, orderedDelivery = true)
    val v1 = src.table.latestVersion
    val q = spark.readStream.format("graft-table").option("path", root)
      .option("startingVersion", "latest").load()
      .writeStream.format("memory").queryName("lsrc_svl")
      .option("checkpointLocation", SparkTestBase.tmpDir("lsrc-svl-ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("lsrc_svl").count() === 0L, "history must not replay")
      src.applyBatch(events.filter(col("lsn") >= splitLsn), 1L, orderedDelivery = true)
      val v2 = src.table.latestVersion
      q.processAllAvailable()
      assertSameRows(shaEvents(spark.table("lsrc_svl")),
        shaEvents(CdcFeed.asEvents(src.table.readAppends(v1, v2))))
    } finally q.stop()
  }

  test("a restarted rate-limited source never offers below a persisted offer") {
    val root = SparkTestBase.tmpDir("lsrc-hwm")
    val metaPath = SparkTestBase.tmpDir("lsrc-hwm-meta")
    val src = new CdcPipeline(LakeTable(root)(spark), "lsrc-app",
      mergeOnRead = true)
    src.bootstrap(numBuckets = 4)
    src.replay(events, numBatches = 5) // latest = 5
    def offerOf(s: LakeSource): Long =
      s.getOffset.get.asInstanceOf[LakeSourceOffset].version
    val s1 = new LakeSource(spark, root, maxVersionsPerBatch = 2, metadataPath = metaPath)
    assert(offerOf(s1) === 1L) // first capped offer: (-1, 1]
    // "crash" before the batch commits; the engine may already have LOGGED
    // offset 1, so a fresh source instance must re-seed from the marker —
    // re-offering a LOWER version would run a spurious duplicate batch
    val s2 = new LakeSource(spark, root, maxVersionsPerBatch = 2, metadataPath = metaPath)
    assert(offerOf(s2) === 3L, "restart resumes from the persisted offer, never below it")
    // a recovery replay seeds the base too (checkpoints from before the
    // marker scheme): getBatch's end offset becomes the floor
    val s3 = new LakeSource(spark, root, maxVersionsPerBatch = 2,
      metadataPath = SparkTestBase.tmpDir("lsrc-hwm-meta2"))
    s3.getBatch(Some(LakeSourceOffset(2L)), LakeSourceOffset(4L))
    assert(offerOf(s3) === 5L) // min(latest = 5, 4 + 2)
    // an uncapped source stays marker-free: same table, zero new metadata
    val s4 = new LakeSource(spark, root)
    assert(offerOf(s4) === 5L)
  }

  test("checkpointed restart resumes at the committed version: exactly-once to a file sink") {
    val root = SparkTestBase.tmpDir("lsrc-restart")
    val out = SparkTestBase.tmpDir("lsrc-out")
    val ckpt = SparkTestBase.tmpDir("lsrc-rckpt")
    val src = new CdcPipeline(LakeTable(root)(spark), "lsrc-app",
      mergeOnRead = true)
    src.bootstrap(numBuckets = 8)
    src.applyBatch(events.filter(col("lsn") < splitLsn), 0L, orderedDelivery = true)
    def start() = spark.readStream.format(classOf[LakeSourceProvider].getName)
      .option("path", root).load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .start()
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    // commits land while the stream is DOWN; the restart must deliver exactly them
    src.applyBatch(events.filter(col("lsn") >= splitLsn), 1L, orderedDelivery = true)
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(out)
    val want = CdcFeed.asEvents(src.table.read()) // MOR: union of both commits' files
    assertSameRows(shaEvents(got), shaEvents(want))
  }

  test("recovery no-op getBatch(start == end) is empty with the pinned schema, no IO") {
    val root = SparkTestBase.tmpDir("lsrc-noop")
    val src = new CdcPipeline(LakeTable(root)(spark), "lsrc-app")
    src.bootstrap(numBuckets = 4)
    src.applyBatch(events.filter(col("lsn") < splitLsn), 0L, orderedDelivery = true)
    val source = new LakeSource(spark, root)
    val v = src.table.latestVersion
    val noop = source.getBatch(Some(LakeSourceOffset(v)), LakeSourceOffset(v))
    assert(noop.isStreaming, "a v1 Source batch must be flagged streaming")
    assert(noop.schema === source.schema)
  }

  test("CLI tail on a table with no data commits drains zero rows without crashing") {
    val root = SparkTestBase.tmpDir("lsrc-cli")
    val p = new CdcPipeline(LakeTable(root)(spark), "lsrc-app")
    p.bootstrap(numBuckets = 4) // exists, but nothing ever committed
    val outBuf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outBuf, true, "UTF-8")) {
      Main.run(spark, List("tail", root, SparkTestBase.tmpDir("lsrc-cli-out"),
        SparkTestBase.tmpDir("lsrc-cli-ckpt")))
    }
    assert(outBuf.toString("UTF-8").contains("appended 0 feed rows"),
      s"got: ${outBuf.toString("UTF-8")}")
  }

  test("CLI tail with max=N drains at most N versions per run (bounded cron pulls)") {
    val root = SparkTestBase.tmpDir("lsrc-climax")
    val out = SparkTestBase.tmpDir("lsrc-climax-out")
    val ckpt = SparkTestBase.tmpDir("lsrc-climax-ckpt")
    val src = new CdcPipeline(LakeTable(root)(spark), "lsrc-app",
      mergeOnRead = true)
    src.bootstrap(numBuckets = 4)
    src.replay(events, numBatches = 2) // versions 0 (bootstrap) .. 2
    def run(): Unit = Main.run(spark, List("tail", root, out, ckpt, "max=1"))
    run() // (-1, 0]: the empty bootstrap version only
    run() // (0, 1]
    assert(spark.read.parquet(out).count() ===
      CdcFeed.asEvents(src.table.readAppends(0, 1)).count(),
      "after two capped runs exactly the first commit is drained")
    run() // (1, 2] — caught up
    assert(spark.read.parquet(out).count() ===
      CdcFeed.asEvents(src.table.readAppends(-1, 2)).count())
  }

  test("a column added mid-stream stays invisible until restart (pinned schema)") {
    val root = SparkTestBase.tmpDir("lsrc-evo")
    val src = new CdcPipeline(LakeTable(root)(spark), "lsrc-app",
      mergeOnRead = true)
    src.bootstrap(numBuckets = 4)
    src.applyBatch(events.filter(col("lsn") < splitLsn), 0L, orderedDelivery = true)
    val q = spark.readStream.format(classOf[LakeSourceProvider].getName)
      .option("path", root).load()
      .writeStream.format("memory").queryName("lsrc_evo")
      .option("checkpointLocation", SparkTestBase.tmpDir("lsrc-evo-ckpt"))
      .start()
    try {
      q.processAllAvailable()
      assert(!spark.table("lsrc_evo").columns.contains("quality"))
      // source evolves under the RUNNING stream: additions are tolerated and
      // dropped (the pinned schema wins — Delta semantics), never an error
      src.applyBatch(
        events.filter(col("lsn") >= splitLsn)
          .withColumn("quality", when(col("op") =!= "D", (col("lsn") % 100) / lit(100.0))),
        1L, orderedDelivery = true)
      q.processAllAvailable()
      assert(!spark.table("lsrc_evo").columns.contains("quality"),
        "an added column must stay invisible to the running stream")
      assert(spark.table("lsrc_evo").count() ===
        CdcFeed.asEvents(src.table.read()).count(),
        "rows keep flowing through the evolution")
    } finally q.stop()
    // a RESTARTED stream (fresh source instance) pins the evolved schema
    val restarted = new LakeSource(spark, root)
    assert(restarted.schema.fieldNames.contains("quality"))
  }

  test("a vacuumed-away offset fails the stream loudly instead of resyncing") {
    val root = SparkTestBase.tmpDir("lsrc-vac")
    val src = new CdcPipeline(LakeTable(root)(spark), "lsrc-app",
      mergeOnRead = true)
    src.bootstrap(numBuckets = 8)
    src.replay(events, numBatches = 4)
    val latest = src.table.latestVersion
    // age + vacuum so version 1 is gone
    val fs = src.table.fs
    val old = System.currentTimeMillis() - 3600000L
    for (dir <- Seq("meta", "data"))
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$dir")).filter(_.isFile)
        .foreach(st => fs.setTimes(st.getPath, old, -1))
    src.table.vacuum(graceMs = 60000L, retainSnapshots = 1)
    val source = new LakeSource(spark, root)
    val e = intercept[IllegalStateException] {
      source.getBatch(Some(LakeSourceOffset(1L)), LakeSourceOffset(latest))
    }
    assert(e.getMessage.contains("vacuumed away"))
  }
}
