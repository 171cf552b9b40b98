package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cdc.{CdcFeed, CdcPipeline}
import graft.lake.LakeTable
import graft.model.DerivedEvents

/** Downstream change-feed consumer: a piped replica/projection must converge
  * to the source's live state under every delivery shape — drain, staged
  * catch-up with resume, lost offsets (replay), copy-on-write superset
  * re-delivery, and a feed that fell behind the source's retention horizon.
  */
class CdcFeedSpec extends SparkSuite {

  lazy val events = DerivedEvents.fromDocuments(
    spark.read.parquet(s"$sfDir/documents.parquet")).cache()

  private def shaState(df: DataFrame): DataFrame =
    df.select(col("repo"), col("path"), col("commit"), col("lang"),
      sha2(col("content"), 256).as("content_sha"))

  private def assertSameState(got: DataFrame, want: DataFrame): Unit = {
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  /** A merge-on-read source replayed in `n` batches. */
  private def morSource(root: String, n: Int, upToLsnFrac: Double = 1.0): CdcPipeline = {
    val p = new CdcPipeline(LakeTable(root)(spark), "feed-src",
      mergeOnRead = true)
    p.bootstrap(numBuckets = 8)
    val b = events.agg(min("lsn"), max("lsn")).collect()(0)
    val cut = b.getLong(0) + ((b.getLong(1) - b.getLong(0)) * upToLsnFrac).toLong
    p.replay(events.filter(col("lsn") <= cut), numBatches = n)
    p
  }

  test("drained feed is an exact replica; an idle re-run applies nothing") {
    val srcRoot = SparkTestBase.tmpDir("feed-src")
    val tgtRoot = SparkTestBase.tmpDir("feed-tgt")
    val off = SparkTestBase.tmpDir("feed-off")
    val src = morSource(srcRoot, n = 4)
    val stats = CdcFeed.pipe(src.table, LakeTable(tgtRoot)(spark), "feed", off)
    assert(stats.batches === 1 && stats.events > 0,
      "a drain coalesces every pending version into one merge")
    assert(stats.toVersion === src.table.latestVersion)
    assertSameState(shaState(CdcPipeline.liveState(LakeTable(tgtRoot)(spark))),
      shaState(src.state()))
    // replica layout: key and bucket count copied from the source
    val (s, t) = (src.table.currentSnapshot.get,
      LakeTable(tgtRoot)(spark).currentSnapshot.get)
    assert(t.keyCols === s.keyCols && t.numBuckets === s.numBuckets)
    val again = CdcFeed.pipe(src.table, LakeTable(tgtRoot)(spark), "feed", off)
    assert(again.batches === 0 && again.toVersion === -1L, "nothing new → no merge")
  }

  test("staged catch-up resumes from the durable offset, not from scratch") {
    val srcRoot = SparkTestBase.tmpDir("feed-src2")
    val tgtRoot = SparkTestBase.tmpDir("feed-tgt2")
    val off = SparkTestBase.tmpDir("feed-off2")
    val src = morSource(srcRoot, n = 2, upToLsnFrac = 0.5)
    val tgt = LakeTable(tgtRoot)(spark)
    val first = CdcFeed.pipe(src.table, tgt, "feed", off)
    assert(first.batches === 1)
    val offsetAfterFirst = CdcFeed.readOffset(tgt.fs, off)
    assert(offsetAfterFirst === src.table.latestVersion)
    // more source batches land, then the feed catches up incrementally
    val b = events.agg(min("lsn"), max("lsn")).collect()(0)
    val cut = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
    src.replay(events.filter(col("lsn") > cut), numBatches = 2, startBatchId = 2)
    val second = CdcFeed.pipe(src.table, tgt, "feed", off)
    assert(second.batches === 1)
    assert(second.fromVersion === offsetAfterFirst,
      "the second run must resume from the recorded offset")
    assertSameState(shaState(CdcPipeline.liveState(tgt)), shaState(src.state()))
  }

  test("maxVersionsPerPoll chunks a catch-up into bounded, offset-committed polls") {
    val srcRoot = SparkTestBase.tmpDir("feed-srcM")
    val tgtRoot = SparkTestBase.tmpDir("feed-tgtM")
    val off = SparkTestBase.tmpDir("feed-offM")
    val src = morSource(srcRoot, n = 2, upToLsnFrac = 0.4)
    val tgt = LakeTable(tgtRoot)(spark)
    // initial sync is exempt from the cap (one full batch by design)
    val first = CdcFeed.pipe(src.table, tgt, "feed", off, maxVersionsPerPoll = 1)
    assert(first.batches === 1)
    // the consumer falls 3 commits behind; a capped catch-up applies them as
    // 3 single-version merges, each offset-durable before the next starts
    val b = events.agg(min("lsn"), max("lsn")).collect()(0)
    val cut = b.getLong(0) + ((b.getLong(1) - b.getLong(0)) * 0.4).toLong
    src.replay(events.filter(col("lsn") > cut), numBatches = 3, startBatchId = 2L)
    val vBefore = CdcFeed.readOffset(tgt.fs, off)
    val catchUp = CdcFeed.pipe(src.table, tgt, "feed", off, maxVersionsPerPoll = 1)
    assert(catchUp.batches === (src.table.latestVersion - vBefore).toInt,
      "a capped poll spans exactly one source version")
    assert(CdcFeed.readOffset(tgt.fs, off) === src.table.latestVersion)
    assertSameState(shaState(CdcPipeline.liveState(tgt)), shaState(src.state()))
  }

  test("startAtVersion begins a fresh feed past the history; a durable offset wins over it") {
    val srcRoot = SparkTestBase.tmpDir("feed-srcSV")
    val tgtRoot = SparkTestBase.tmpDir("feed-tgtSV")
    val off = SparkTestBase.tmpDir("feed-offSV")
    val src = morSource(srcRoot, n = 4) // versions 0 (bootstrap) .. 4
    val tgt = LakeTable(tgtRoot)(spark)
    val mid = 2L
    val first = CdcFeed.pipe(src.table, tgt, "feed", off, startAtVersion = mid)
    assert(first.fromVersion === mid && first.toVersion === src.table.latestVersion)
    // the replica holds exactly the fold of commits AFTER version `mid`:
    // replay the same event range through an independent pipeline as oracle
    val oracle = new CdcPipeline(
      LakeTable(SparkTestBase.tmpDir("feed-svOracle"))(spark), "sv-oracle")
    oracle.bootstrap(numBuckets = 8)
    oracle.applyBatch(
      CdcFeed.asEvents(src.table.readAppends(mid, src.table.latestVersion)),
      0L, orderedDelivery = false)
    assertSameState(shaState(CdcPipeline.liveState(tgt)),
      shaState(CdcPipeline.liveState(oracle.table)))
    // with a durable offset recorded, a LOWER startAtVersion cannot rewind
    // and a HIGHER one cannot skip the pending range
    val b = events.agg(min("lsn"), max("lsn")).collect()(0)
    src.replay(events.filter(col("lsn") > (b.getLong(0) + b.getLong(1)) / 2),
      numBatches = 2, startBatchId = 4L)
    val again = CdcFeed.pipe(src.table, tgt, "feed", off,
      startAtVersion = src.table.latestVersion)
    assert(again.batches === 1 && again.toVersion === src.table.latestVersion,
      "the recorded offset wins: the pending range is applied, not skipped")

    // an IDLE follow-from-now start must still pin its anchor durably: a
    // rerun that re-resolves `latest` afresh would otherwise re-anchor past
    // every commit made in between (found live by the CLI drive)
    val off2 = SparkTestBase.tmpDir("feed-offSV2")
    val tgt2 = LakeTable(SparkTestBase.tmpDir("feed-tgtSV2"))(spark)
    val anchor = src.table.latestVersion
    val idle = CdcFeed.pipe(src.table, tgt2, "feed2", off2, startAtVersion = anchor)
    assert(idle.batches === 0)
    assert(CdcFeed.readOffset(tgt2.fs, off2) === anchor,
      "the first invocation defines 'now' even when it applies nothing")
    src.replay(events.limit(100), numBatches = 1, startBatchId = 6L)
    val after = CdcFeed.pipe(src.table, tgt2, "feed2", off2,
      startAtVersion = src.table.latestVersion) // a rerun's fresh `latest`
    assert(after.batches === 1 && after.toVersion === src.table.latestVersion,
      "the in-between commit is applied, not skipped by the re-resolved anchor")
  }

  test("lost offsets replay the whole feed as a no-op (fencing + LWW)") {
    val srcRoot = SparkTestBase.tmpDir("feed-src3")
    val tgtRoot = SparkTestBase.tmpDir("feed-tgt3")
    val off = SparkTestBase.tmpDir("feed-off3")
    val src = morSource(srcRoot, n = 4)
    val tgt = LakeTable(tgtRoot)(spark)
    CdcFeed.pipe(src.table, tgt, "feed", off)
    val vBefore = tgt.latestVersion
    // simulate a consumer that lost its offset directory entirely
    val off2 = SparkTestBase.tmpDir("feed-off3b")
    CdcFeed.pipe(src.table, tgt, "feed", off2)
    assert(tgt.latestVersion === vBefore,
      "replaying the full feed against a caught-up target must be fenced to a no-op")
    assertSameState(shaState(CdcPipeline.liveState(tgt)), shaState(src.state()))
  }

  test("copy-on-write source: rewrite re-delivery converges under LWW") {
    val srcRoot = SparkTestBase.tmpDir("feed-src4")
    val tgtRoot = SparkTestBase.tmpDir("feed-tgt4")
    val off = SparkTestBase.tmpDir("feed-off4")
    val src = new CdcPipeline(LakeTable(srcRoot)(spark), "feed-src")
    src.bootstrap(numBuckets = 8)
    val b = events.agg(min("lsn"), max("lsn")).collect()(0)
    val cut = (b.getLong(0) + b.getLong(1)) / 2
    val tgt = LakeTable(tgtRoot)(spark)
    // feed version-by-version: batch 2's copy-on-write rewrite re-delivers
    // rows the target already applied from batch 1 (the superset case)
    src.replay(events.filter(col("lsn") <= cut), numBatches = 1)
    val s1 = CdcFeed.pipe(src.table, tgt, "feed", off)
    val v1 = src.table.latestVersion
    src.replay(events.filter(col("lsn") > cut), numBatches = 1, startBatchId = 1)
    val v2 = src.table.latestVersion
    assert(CdcFeed.asEvents(src.table.readAppends(v1, v2))
      .filter(col("lsn") <= cut).count() > 0,
      "precondition: the CoW rewrite must re-deliver batch-1 rows in this layout")
    val s2 = CdcFeed.pipe(src.table, tgt, "feed", off)
    assert(s1.batches === 1 && s2.batches === 1)
    assertSameState(shaState(CdcPipeline.liveState(tgt)), shaState(src.state()))
  }

  test("key-derived filtered projection maintains exactly the sub-replica") {
    val srcRoot = SparkTestBase.tmpDir("feed-src5")
    val tgtRoot = SparkTestBase.tmpDir("feed-tgt5")
    val off = SparkTestBase.tmpDir("feed-off5")
    val src = morSource(srcRoot, n = 4)
    val tgt = LakeTable(tgtRoot)(spark)
    CdcFeed.pipe(src.table, tgt, "feed", off,
      transform = _.filter(substring(col("commit"), 1, 1) < "8").drop("eventTime"))
    assertSameState(
      shaState(CdcPipeline.liveState(tgt)),
      shaState(src.state().filter(substring(col("commit"), 1, 1) < "8")))
  }

  test("deletes at the source propagate as tombstones") {
    import spark.implicits._
    val srcRoot = SparkTestBase.tmpDir("feed-src6")
    val tgtRoot = SparkTestBase.tmpDir("feed-tgt6")
    val off = SparkTestBase.tmpDir("feed-off6")
    val src = morSource(srcRoot, n = 2)
    val tgt = LakeTable(tgtRoot)(spark)
    CdcFeed.pipe(src.table, tgt, "feed", off)
    // pick a live key, delete it at the source, feed again
    val victim = src.state().select("repo", "path", "commit").orderBy("repo", "path", "commit").head()
    val maxLsn = events.agg(max("lsn")).collect()(0).getLong(0)
    val del = Seq((maxLsn + 1, "D", victim.getString(0), victim.getString(1),
      victim.getString(2), null: String, "", new java.sql.Timestamp(0L)))
      .toDF("lsn", "op", "repo", "path", "commit", "lang", "content", "eventTime")
    src.applyBatch(del, batchId = 2L)
    CdcFeed.pipe(src.table, tgt, "feed", off)
    assert(CdcPipeline.liveState(tgt)
      .filter(col("repo") === victim.getString(0) && col("path") === victim.getString(1) &&
        col("commit") === victim.getString(2)).count() === 0,
      "the deleted key must disappear from the fed replica")
    assertSameState(shaState(CdcPipeline.liveState(tgt)), shaState(src.state()))
  }

  test("a transform that drops a required column fails loudly") {
    val srcRoot = SparkTestBase.tmpDir("feed-src7")
    val off = SparkTestBase.tmpDir("feed-off7")
    val src = morSource(srcRoot, n = 1)
    val e = intercept[IllegalArgumentException] {
      CdcFeed.pipe(src.table, LakeTable(SparkTestBase.tmpDir("feed-tgt7"))(spark),
        "feed", off, transform = _.drop("commit"))
    }
    assert(e.getMessage.contains("commit"))
  }

  test("feeds chain: a replica of a replica converges to the origin") {
    val srcRoot = SparkTestBase.tmpDir("feed-chain-src")
    val midRoot = SparkTestBase.tmpDir("feed-chain-mid")
    val leafRoot = SparkTestBase.tmpDir("feed-chain-leaf")
    val src = morSource(srcRoot, n = 3)
    val mid = LakeTable(midRoot)(spark)
    val leaf = LakeTable(leafRoot)(spark)
    // mid is itself merge-on-read so ITS commits are exact change sets too
    CdcFeed.pipe(src.table, mid, "hop1", SparkTestBase.tmpDir("feed-chain-off1"),
      mergeOnRead = true)
    CdcFeed.pipe(mid, leaf, "hop2", SparkTestBase.tmpDir("feed-chain-off2"))
    assertSameState(shaState(CdcPipeline.liveState(leaf)), shaState(src.state()))
  }

  test("reconcile repairs deletes a lagging consumer missed past tombstone GC") {
    import spark.implicits._
    val srcRoot = SparkTestBase.tmpDir("feed-src9")
    val tgtRoot = SparkTestBase.tmpDir("feed-tgt9")
    val off = SparkTestBase.tmpDir("feed-off9")
    val src = morSource(srcRoot, n = 1, upToLsnFrac = 0.5)
    val tgt = LakeTable(tgtRoot)(spark)
    CdcFeed.pipe(src.table, tgt, "feed", off)
    // the source deletes 3 keys, then tombstone GC collects the deletes
    // BEFORE the consumer's next poll (the Kafka-compaction lag hazard)
    val victims = src.state().select("repo", "path", "commit")
      .orderBy("repo", "path", "commit").limit(3).collect()
    val maxLsn = events.agg(max("lsn")).collect()(0).getLong(0)
    val dels = victims.zipWithIndex.map { case (v, i) =>
      (maxLsn + 1 + i, "D", v.getString(0), v.getString(1), v.getString(2),
        null: String, "", new java.sql.Timestamp(0L))
    }.toSeq.toDF("lsn", "op", "repo", "path", "commit", "lang", "content", "eventTime")
    src.applyBatch(dels, batchId = 1L)
    graft.cdc.Compaction(src.table, horizonLsn = maxLsn + 4,
      maxFilesPerBucket = 1, maxBucketsPerRun = Int.MaxValue)
    val stats = CdcFeed.pipe(src.table, tgt, "feed", off)
    assert(stats.batches === 1)
    val srcCount = src.state().count()
    assert(CdcPipeline.liveState(tgt).count() === srcCount + 3,
      "precondition: the GC'd deletes must be invisible to the feed")
    val repaired = CdcFeed.reconcile(src.table, tgt, "feed")
    assert(repaired === 3L)
    assertSameState(shaState(CdcPipeline.liveState(tgt)), shaState(src.state()))
    // idempotent: a second reconcile finds nothing stale
    assert(CdcFeed.reconcile(src.table, tgt, "feed") === 0L)
  }

  test("consumer-safe compaction horizon never GCs a tombstone a lagging consumer still needs") {
    import spark.implicits._
    import graft.cdc.Compaction
    val srcRoot = SparkTestBase.tmpDir("feed-srcSH")
    val tgtRoot = SparkTestBase.tmpDir("feed-offSH-tgt")
    val off = SparkTestBase.tmpDir("feed-offSH")
    val src = morSource(srcRoot, n = 1, upToLsnFrac = 0.5)
    val tgt = LakeTable(tgtRoot)(spark)

    // a consumer that never ran pins the horizon at -1 (GC nothing)
    assert(Compaction.safeHorizon(src.table, Seq(off)) === -1L)

    CdcFeed.pipe(src.table, tgt, "feed", off)
    // caught-up consumer: horizon == the source's own watermark (full GC ok)
    val wmBefore = src.table.currentSnapshot.get.watermarkLsn
    assert(Compaction.safeHorizon(src.table, Seq(off)) === wmBefore)

    // the source deletes 3 keys AFTER the consumer's last poll — the exact
    // setup that diverges the replica when the horizon is guessed too high
    // (the reconcile test above); keyed off the consumers' offsets instead,
    // the tombstones survive compaction and the next poll delivers them
    val victims = src.state().select("repo", "path", "commit")
      .orderBy("repo", "path", "commit").limit(3).collect()
    val maxLsn = events.agg(max("lsn")).collect()(0).getLong(0)
    val dels = victims.zipWithIndex.map { case (v, i) =>
      (maxLsn + 1 + i, "D", v.getString(0), v.getString(1), v.getString(2),
        null: String, "", new java.sql.Timestamp(0L))
    }.toSeq.toDF("lsn", "op", "repo", "path", "commit", "lang", "content", "eventTime")
    src.applyBatch(dels, batchId = 1L)
    val safe = Compaction.safeHorizon(src.table, Seq(off))
    assert(safe === wmBefore && safe < maxLsn + 1,
      "the lagging consumer's applied watermark bounds the horizon below the new deletes")
    Compaction(src.table, horizonLsn = safe,
      maxFilesPerBucket = 1, maxBucketsPerRun = Int.MaxValue)
    val stats = CdcFeed.pipe(src.table, tgt, "feed", off)
    assert(stats.batches === 1)
    assertSameState(shaState(CdcPipeline.liveState(tgt)), shaState(src.state()))
    assert(CdcFeed.reconcile(src.table, tgt, "feed") === 0L,
      "no divergence to repair — the hazard never arises under the safe horizon")

    // once the consumer HAS applied the deletes, the safe horizon advances
    // past them and compaction may GC the tombstones
    assert(Compaction.safeHorizon(src.table, Seq(off)) >= maxLsn + 3)

    // a consumer whose offset version was vacuumed away pins -1 again
    val staleOff = SparkTestBase.tmpDir("feed-offSH-stale")
    val fs = tgt.fs
    LakeTable.writeStringExclusive(fs,
      new org.apache.hadoop.fs.Path(staleOff, "offset-0.json"), """{"version":0}""")
    src.table.vacuum(graceMs = 0L, retainSnapshots = 1)
    assert(Compaction.safeHorizon(src.table, Seq(off, staleOff)) === -1L)
  }

  test("schema evolution flows through the feed: a column added mid-feed reaches the replica") {
    val srcRoot = SparkTestBase.tmpDir("feed-evo-src")
    val tgtRoot = SparkTestBase.tmpDir("feed-evo-tgt")
    val off = SparkTestBase.tmpDir("feed-evo-off")
    val src = morSource(srcRoot, n = 1, upToLsnFrac = 0.5)
    val tgt = LakeTable(tgtRoot)(spark)
    CdcFeed.pipe(src.table, tgt, "feed", off) // target created pre-evolution
    assert(!tgt.currentSnapshot.get.schema.fieldNames.contains("quality"))
    // the source evolves: second batch carries a new column
    val b = events.agg(min("lsn"), max("lsn")).collect()(0)
    val cut = (b.getLong(0) + b.getLong(1)) / 2
    src.applyBatch(
      events.filter(col("lsn") > cut)
        .withColumn("quality", when(col("op") =!= "D", (col("lsn") % 100) / lit(100.0))),
      1L, orderedDelivery = true)
    CdcFeed.pipe(src.table, tgt, "feed", off)
    assert(tgt.currentSnapshot.get.schema.fieldNames.contains("quality"),
      "the merge's schema evolution must widen the replica too")
    assertSameState(
      CdcPipeline.liveState(tgt).select(col("repo"), col("path"), col("commit"),
        sha2(col("content"), 256).as("content_sha"), col("quality")),
      src.state().select(col("repo"), col("path"), col("commit"),
        sha2(col("content"), 256).as("content_sha"), col("quality")))
  }

  test("property: random interleavings of source commits and feed polls converge") {
    val rnd = new scala.util.Random(42)
    val b = events.agg(min("lsn"), max("lsn")).collect()(0)
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    for (round <- 1 to 3) {
      val srcRoot = SparkTestBase.tmpDir(s"feed-prop-src$round")
      val tgtRoot = SparkTestBase.tmpDir(s"feed-prop-tgt$round")
      val off = SparkTestBase.tmpDir(s"feed-prop-off$round")
      val mor = rnd.nextBoolean()
      val src = new CdcPipeline(LakeTable(srcRoot)(spark), "prop-src",
        mergeOnRead = mor)
      src.bootstrap(numBuckets = 8)
      val tgt = LakeTable(tgtRoot)(spark)
      // random LSN cut points → 2-4 source stages; after each stage, a coin
      // decides whether the consumer polls now or falls further behind
      val nCuts = 1 + rnd.nextInt(3)
      val cuts = (Seq.fill(nCuts)(lo + (rnd.nextDouble() * (hi - lo)).toLong)
        .distinct.sorted :+ Long.MaxValue)
      var prev = Long.MinValue
      var batchId = 0L
      for (cut <- cuts) {
        val stage = events.filter(col("lsn") > prev && col("lsn") <= cut)
        if (stage.take(1).nonEmpty) {
          src.applyBatch(stage, batchId, orderedDelivery = false)
          batchId += 1
          // a poll may also be version-capped: catch-up chunking must
          // converge under every interleaving, not just the drain shape
          if (rnd.nextBoolean()) CdcFeed.pipe(src.table, tgt, "prop-feed", off,
            maxVersionsPerPoll = 1 + rnd.nextInt(3))
        }
        prev = cut
      }
      CdcFeed.pipe(src.table, tgt, "prop-feed", off, // final catch-up
        maxVersionsPerPoll = 1 + rnd.nextInt(3))
      assertSameState(shaState(CdcPipeline.liveState(tgt)), shaState(src.state()))
    }
  }

  test("feed behind the retention horizon resyncs from full state, correctly") {
    val srcRoot = SparkTestBase.tmpDir("feed-src8")
    val tgtRoot = SparkTestBase.tmpDir("feed-tgt8")
    val off = SparkTestBase.tmpDir("feed-off8")
    val src = morSource(srcRoot, n = 1, upToLsnFrac = 0.3)
    val tgt = LakeTable(tgtRoot)(spark)
    CdcFeed.pipe(src.table, tgt, "feed", off) // offset = v1
    // source advances by several versions, then vacuums the feed's offset away
    val b = events.agg(min("lsn"), max("lsn")).collect()(0)
    val cut = b.getLong(0) + ((b.getLong(1) - b.getLong(0)) * 0.3).toLong
    src.replay(events.filter(col("lsn") > cut), numBatches = 4, startBatchId = 1)
    val fs = src.table.fs
    val old = System.currentTimeMillis() - 3600000L
    for (dir <- Seq("meta", "data"))
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$srcRoot/$dir")).filter(_.isFile)
        .foreach(st => fs.setTimes(st.getPath, old, -1))
    src.table.vacuum(graceMs = 60000L, retainSnapshots = 1)
    assert(CdcFeed.readOffset(fs, off) < src.table.versions.min,
      "precondition: the stored offset must predate the oldest retained version")
    val stats = CdcFeed.pipe(src.table, tgt, "feed", off)
    assert(stats.batches === 1)
    assertSameState(shaState(CdcPipeline.liveState(tgt)), shaState(src.state()))
  }
}
