package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.CdcPipeline
import graft.lake.LakeTable
import graft.model.CdcModel

/** Structured-Streaming driver for the CDC engine: a file-backed change-event
  * tail (ordered parquet batches in a directory ≙ the reference's paginated
  * pull source, /root/reference/api.go:176-243, with the page token replaced
  * by Spark's checkpointed file-source offsets) applied through
  * [[graft.cdc.CdcPipeline.applyBatch]] in `foreachBatch`.
  *
  * Exactly-once composition (SURVEY.md §2.9 T5):
  *  - Spark's streaming checkpoint pins which source files belong to batch N,
  *    so a restart re-presents the *same* batch N;
  *  - the snapshot manifest records (appId, batchId) — a re-presented batch
  *    that already committed is fenced to a no-op;
  *  - LWW against the stored per-row `_lsn` makes any residual overlap
  *    idempotent.
  *
  * Triggers: `Trigger.AvailableNow` drains a bounded replay then stops (≙ a
  * scheduled reference run, schedule.go:200-210); `ProcessingTime` tails
  * continuously (≙ `every='N minutes'` DSL).
  */
object CdcStream {

  /** Start the stream over `eventsDir`'s parquet files (the
    * [[graft.model.CdcModel.eventSchema]], extra payload columns allowed).
    * Returns the pipeline too, so a caller that stops the stream can
    * `awaitMaintenance()` before reading file counts or dropping the table.
    * @param retainSnapshots > 0 enables in-loop retention vacuum (see
    *        [[graft.cdc.CdcPipeline]]) — bounds `meta/` and superseded
    *        `data/` generations on an unattended tail, at the cost of the
    *        time-travel horizon. */
  def startWithPipeline(spark: SparkSession, eventsDir: String, table: LakeTable,
      checkpointDir: String, appId: String,
      readSchema: org.apache.spark.sql.types.StructType = CdcModel.eventSchema,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None,
      mergeOnRead: Boolean = false,
      retainSnapshots: Int = 0): (StreamingQuery, CdcPipeline) = {
    val pipeline = new CdcPipeline(table, appId, mergeOnRead = mergeOnRead,
      retainSnapshots = retainSnapshots)
    pipeline.bootstrap()
    val reader = spark.readStream.schema(readSchema)
    val withOpts = maxFilesPerTrigger.fold(reader)(n =>
      reader.option("maxFilesPerTrigger", n))
    val events = withOpts.parquet(eventsDir)
    val q = events.writeStream
      .queryName(s"cdc-$appId")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // file order is not LSN order → orderedDelivery=false: correctness
        // comes from tombstone-retaining LWW, not the watermark fast-path
        pipeline.applyBatch(batch, batchId,
          Map(eventsDir -> batchId), orderedDelivery = false)
        ()
      }
      .start()
    (q, pipeline)
  }
}
