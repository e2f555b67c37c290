package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.{CsvSink, Ops, Schemas}

/** Structured Streaming formulation of the CDC export (SURVEY.md §2.9).
  *
  * The reference's per-consumer watermark is a resumable READ OFFSET —
  * not Spark's event-time `withWatermark` (which drops late data; the
  * reference never drops, `README.md:313-335`). Structured Streaming's
  * checkpointed file-source offset plays exactly that role: each
  * consumer gets a checkpoint dir; `Trigger.AvailableNow` drains all
  * files not yet recorded in the checkpoint — the streaming analog of
  * "export everything since my watermark, then advance it atomically".
  *
  * Source model: the users directory is an append-only changelog of
  * parquet files (each upstream CDC flush = one file). New files become
  * micro-batches; `foreachBatch` applies the same Ops pipeline as the
  * batch engine and writes one CSV per non-empty batch. Exactly-once
  * between sink and offset comes from the checkpoint commit protocol,
  * replacing the reference's DB transaction (`app/services/jobs.py:42`).
  *
  * At scale this is the real CDC path: 1000 executors ingest files in
  * parallel, the checkpoint is O(files) metadata, and no state shuffle
  * exists at all for the export itself (op classification is narrow).
  */
final class CdcStream(
    spark: SparkSession,
    usersPath: String,
    checkpointRoot: String,
    outputDir: String,
) {

  private def source: DataFrame =
    spark.readStream
      .schema(Schemas.users)
      .option("maxFilesPerTrigger", 32)
      .parquet(usersPath)

  /** Streaming incremental export: active rows only, one CSV per
    * micro-batch, offsets checkpointed per consumer.
    */
  def incrementalExport(consumerId: String): StreamingQuery =
    runExport(consumerId, "incremental", Ops.exportProjection(Ops.activeOnly(source)))

  /** Streaming delta export: soft-deletes included, rows tagged with
    * the 3-way operation column.
    */
  def deltaExport(consumerId: String): StreamingQuery =
    runExport(consumerId, "delta", Ops.withOperation(source))

  /** Windowed event-rate monitor over the changelog: tumbling counts
    * per operation type with an event-time watermark for state GC —
    * the streaming-native aggregate the reference lacks but a CDC
    * pipeline at scale needs (state is bounded by the watermark).
    */
  def operationRates(windowLength: String = "1 hour",
      lateness: String = "2 hours"): DataFrame =
    Ops.withOperation(source)
      .withWatermark("updated_at", lateness)
      .groupBy(window(col("updated_at"), windowLength), col("operation"))
      .agg(count(lit(1)).as("n"))

  private def runExport(consumerId: String, exportType: String,
      plan: DataFrame): StreamingQuery =
    plan.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$checkpointRoot/$consumerId-$exportType")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the sink counts the batch in its one write pass and publishes
        // no file for an empty one
        val stamp = java.time.format.DateTimeFormatter
          .ofPattern("yyyyMMdd'T'HHmmss'Z'")
          .withZone(java.time.ZoneOffset.UTC)
          .format(java.time.Instant.now())
        CsvSink.writeBatch(Ops.singleFileOrder(batch),
          s"$outputDir/${exportType}_${consumerId.replace(" ", "_")}_b${batchId}_$stamp.csv")
        ()
      }
      .start()
}
