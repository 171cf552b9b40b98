package graft

import org.apache.spark.sql.functions._

import graft.cdc.CdcPipeline
import graft.lake.LakeTable
import graft.model.DerivedEvents
import graft.streaming.{CdcStream, Schedule}

/** Structured-Streaming driver end-to-end: file-tail → foreachBatch MERGE →
  * final state equals the batch-mode replay of the same events (the streaming
  * and batch paths share one apply, so they must agree bit-for-bit). */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  test("streaming file-tail replay equals batch replay (exactly-once composition)") {
    val base = SparkTestBase.tmpDir("stream-e2e")
    val events = DerivedEvents.fromDocuments(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    // stage events as multiple files (out-of-order file discovery exercised)
    events.repartition(4).write.parquet(s"$base/events")

    val streamTable = LakeTable(s"$base/t-stream")(spark)
    val q = CdcStream.startWithPipeline(spark, s"$base/events", streamTable,
      s"$base/ckpt", "st-app", maxFilesPerTrigger = Some(2))._1
    q.awaitTermination()

    val batchTable = LakeTable(s"$base/t-batch")(spark)
    val p = new CdcPipeline(batchTable, "b-app")
    p.bootstrap(numBuckets = 64)
    p.replay(events, numBatches = 3)

    val s1 = CdcPipeline.liveState(streamTable)
      .select(col("repo"), col("path"), col("commit"), sha2(col("content"), 256))
    val s2 = CdcPipeline.liveState(batchTable)
      .select(col("repo"), col("path"), col("commit"), sha2(col("content"), 256))
    assert(s1.count() === s2.count())
    assert(s1.exceptAll(s2).count() === 0)
    assert(s2.exceptAll(s1).count() === 0)

    // restart with the same checkpoint: no new batches, state unchanged
    val v = streamTable.latestVersion
    val q2 = CdcStream.startWithPipeline(spark, s"$base/events", streamTable,
      s"$base/ckpt", "st-app", maxFilesPerTrigger = Some(2))._1
    q2.awaitTermination()
    assert(streamTable.latestVersion === v)
  }

  test("streaming merge-on-read replay equals copy-on-write state (foreachBatch + MOR)") {
    // regression: round 3's MOR batch statistics used a SECOND CollectMetrics
    // node, and inside foreachBatch only one of two ever reports — the second
    // Observation.get deadlocked every streaming MOR micro-batch. This drives
    // streaming + mergeOnRead end-to-end, which no spec did before.
    val base = SparkTestBase.tmpDir("stream-mor")
    val events = DerivedEvents.fromDocuments(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    events.repartition(4).write.parquet(s"$base/events")

    val morTable = LakeTable(s"$base/t-mor")(spark)
    val q = CdcStream.startWithPipeline(spark, s"$base/events", morTable,
      s"$base/ckpt", "mor-app", maxFilesPerTrigger = Some(2), mergeOnRead = true)._1
    assert(q.awaitTermination(180000), "streaming MOR replay timed out (observation deadlock?)")

    val cowTable = LakeTable(s"$base/t-cow")(spark)
    val p = new CdcPipeline(cowTable, "cow-app")
    p.bootstrap(numBuckets = 64)
    p.replay(events, numBatches = 3)

    val s1 = CdcPipeline.liveState(morTable)
      .select(col("repo"), col("path"), col("commit"), sha2(col("content"), 256))
    val s2 = CdcPipeline.liveState(cowTable)
      .select(col("repo"), col("path"), col("commit"), sha2(col("content"), 256))
    assert(s1.count() === s2.count())
    assert(s1.exceptAll(s2).count() === 0 && s2.exceptAll(s1).count() === 0)
    // lineage carried real batch stats through the single-observation path
    val lin = graft.cdc.Lineage.read(spark, s"$base/t-mor")
      .filter(!col("skippedFenced"))
    assert(lin.agg(sum("eventsIn")).collect()(0).getLong(0) === events.count())
    assert(lin.filter(col("maxLsn") >= 0 && col("minLsn") >= 0).count() === lin.count())
    // per-partition provenance: every record carries the source-offset map
    assert(lin.filter(element_at(col("sourceOffsets"), s"$base/events").isNotNull)
      .count() === lin.count())
  }

  test("auto-compaction is async: batches commit while maintenance is wedged; state stays exact") {
    val events = DerivedEvents.fromDocuments(
      spark.read.parquet(s"$sfDir/documents.parquet")).cache()
    val p = new CdcPipeline(LakeTable(SparkTestBase.tmpDir("stream-async"))(spark),
      "async-app", mergeOnRead = true, compactEveryFiles = 1)
    p.bootstrap(numBuckets = 4)
    p.applyBatch(events, 0)
    // wedge the single maintenance thread: any compaction queues behind it
    val started = new java.util.concurrent.CountDownLatch(1)
    val gate = new java.util.concurrent.CountDownLatch(1)
    p.maintenanceExecutor.submit(new Runnable {
      def run(): Unit = { started.countDown(); gate.await() }
    })
    started.await()
    // both batches MUST return while maintenance is blocked — if applyBatch
    // still ran compaction inline (the pre-round-5 shape), this would hang
    val b1 = events.withColumn("lsn", col("lsn") + 1000000L)
    val b2 = events.withColumn("lsn", col("lsn") + 2000000L)
    assert(p.applyBatch(b1, 1).rowsWritten > 0)
    assert(p.applyBatch(b2, 2).rowsWritten > 0)
    assert(p.compactionsRun.get() === 0, "compaction must not have run inline")
    gate.countDown()
    p.awaitMaintenance()
    assert(p.compactionsRun.get() >= 1, "queued compaction must run after release")
    // exactly-once accounting survived the async maintenance
    val lin = graft.cdc.Lineage.read(spark, p.table.root).filter(!col("skippedFenced"))
    assert(lin.agg(sum("eventsIn")).collect()(0).getLong(0) === events.count() * 3)
    // final state = LWW fold of all three batches (compaction changed nothing)
    val all = events.unionByName(b1).unionByName(b2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("repo", "path", "commit")
      .orderBy(col("lsn").desc, when(col("op") === "D", 1).otherwise(0).desc,
        coalesce(col("content"), lit("")).desc)
    val want = all.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("repo"), col("path"), col("commit"), sha2(col("content"), 256).as("sha"))
    val got = CdcPipeline.liveState(p.table)
      .select(col("repo"), col("path"), col("commit"), sha2(col("content"), 256).as("sha"))
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0)
  }

  test("schedule DSL maps onto triggers") {
    assert(Schedule.trigger("every 5 minutes").toString.contains("300000"))
    assert(Schedule.drainTrigger.toString.toLowerCase.contains("availablenow"))
  }
}
