package graft.cdc

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pure, composable DataFrame transformations — one per operator in
  * SURVEY.md §2. Each is `DataFrame => DataFrame` (or a driver-side scalar
  * for genuinely scalar results), so each can be unit-tested, composed into
  * the export pipelines, and oracle-checked against DuckDB.
  *
  * Design note for 100 TB: every op here is declarative (Column
  * expressions only — no UDFs, no collect), so Catalyst pushes filters
  * and prunes columns down to the parquet scan, and the whole pipeline
  * stays inside whole-stage codegen. The only shuffles are the explicit
  * export-order exchanges and aggregation exchanges with map-side
  * partials.
  */
object Ops {

  /** Filter soft-deleted rows out — full + incremental exports exclude
    * them (`/root/reference/app/services/exports.py:82,120`).
    */
  def activeOnly(df: DataFrame): DataFrame = df.filter(!col("is_deleted"))

  /** Strict CDC range predicate: `updated_at > watermark`
    * (`/root/reference/app/services/exports.py:119,158`). Strictly greater:
    * rows exactly at the watermark are never re-exported
    * (`README.md:215-216`).
    */
  def changedSince(df: DataFrame, watermark: Timestamp): DataFrame =
    df.filter(col("updated_at") > lit(watermark))

  /** Incremental-export predicate: changed AND not soft-deleted —
    * conjunction of the two filters
    * (`/root/reference/app/services/exports.py:117-122`).
    */
  def incrementalChanges(df: DataFrame, watermark: Timestamp): DataFrame =
    df.filter(col("updated_at") > lit(watermark) && !col("is_deleted"))

  /** Delta-export source: changed rows INCLUDING soft-deletes
    * (`/root/reference/app/services/exports.py:156-160` — no is_deleted
    * filter; deletes must flow through to be tagged DELETE).
    */
  def deltaChanges(df: DataFrame, watermark: Timestamp): DataFrame =
    changedSince(df, watermark)

  /** The 3-way CDC operation classifier
    * (`/root/reference/app/services/exports.py:40-45`):
    * DELETE if is_deleted; else INSERT if created_at == updated_at
    * (exact equality); else UPDATE. Check order matters: a soft-deleted
    * row with created==updated is DELETE, not INSERT
    * (`tests/test_exports_delta.py:48-51`).
    */
  val operationColumn: Column =
    when(col("is_deleted"), "DELETE")
      .when(col("created_at") === col("updated_at"), "INSERT")
      .otherwise("UPDATE")

  /** Prepend the derived `operation` column (delta export projection). */
  def withOperation(df: DataFrame): DataFrame =
    df.withColumn("operation", operationColumn)
      .select(Schemas.deltaExportColumns.map(col): _*)

  /** Fixed 6-column ordered export projection
    * (`/root/reference/app/services/exports.py:33,57-64`).
    */
  def exportProjection(df: DataFrame): DataFrame =
    df.select(Schemas.exportColumns.map(col): _*)

  /** Export row order: ascending `updated_at`
    * (`/root/reference/app/services/exports.py:83,123,159`). Ties are
    * unordered in the reference; we add `id` as a deterministic
    * tiebreaker (documented divergence — makes output reproducible).
    *
    * A second documented divergence, in the file name: the reference
    * stamps `{type}_{consumer}_{utcstamp}.csv` to the second and a
    * second export of one type for one consumer in that second
    * overwrites the first. [[CdcEngine]] never replaces an export's file
    * (the replaced rows would be lost behind the advanced watermark): the
    * later one is published as `<name>-<n>.csv`, and its job reports that
    * name ([[CsvSink.writeBatch]]).
    *
    * This global sort serves the sharded route, one sorted part per
    * range partition; a single-file export uses [[singleFileOrder]].
    */
  def exportOrder(df: DataFrame): DataFrame =
    df.orderBy(col("updated_at"), col("id"))

  /** The [[exportOrder]] rows in the same order, as one partition: a
    * shuffle to a single partition, then a sort inside it. `orderBy`
    * would add a range-sample job that scans and filters the source a
    * second time, only for a single CSV writer to take every row anyway;
    * this way the export is one shuffle-map job and the write.
    */
  def singleFileOrder(df: DataFrame): DataFrame =
    df.repartition(1).sortWithinPartitions(col("updated_at"), col("id"))

  /** New-watermark aggregate: max `updated_at` of the exported batch
    * (reference `app/services/exports.py:92,132,168`). This is the
    * reference formulation: [[CdcEngine]] takes the watermark from the
    * CSV write pass itself ([[CsvSink.writeBatch]]), so the exported
    * rows and the watermark come from one pass, and tests check that
    * value against this aggregate over the exported rows.
    */
  def maxUpdatedAt(df: DataFrame): Option[Timestamp] = {
    val row = df.agg(max(col("updated_at"))).head()
    if (row.isNullAt(0)) None else Some(row.getTimestamp(0))
  }

  /** Dedup on the natural key, mirroring the seeder's
    * `ON CONFLICT (email) DO NOTHING`
    * (`/root/reference/app/seed_users.py:39-43`). Keeps the lowest-id row
    * per email so the result is deterministic (the reference keeps the
    * first INSERT to arrive; lowest id is its batch analog).
    */
  def dedupByEmail(df: DataFrame): DataFrame = {
    // min_by is a single hash-aggregate (partial + final) on the key —
    // one shuffle, no window-sort. At 100 TB this is the cheapest exact
    // formulation: map-side partial min_by collapses duplicates early.
    val firstPerEmail = df
      .groupBy(col("email"))
      .agg(min_by(struct(df.columns.toSeq.map(col): _*), col("id")).as("r"))
    firstPerEmail.select(df.columns.toSeq.map(c => col(s"r.$c")): _*)
  }

  /** Semi-join on id (the test harness's `WHERE id IN (SELECT ...)`,
    * `/root/reference/tests/test_exports_incremental.py:18-22`).
    */
  def semiJoinIds(df: DataFrame, ids: DataFrame): DataFrame =
    df.join(ids, Seq("id"), "left_semi")

  /** ISO-8601 rendering of a timestamp column, matching Python
    * `datetime.isoformat()` for UTC tz-aware values:
    * `2026-02-26T04:30:00.123456+00:00`
    * (`/root/reference/app/services/exports.py:52-53,61-62`).
    */
  def isoFormat(c: Column): Column =
    date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx")

  private val isoValueFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx")
    .withZone(java.time.ZoneOffset.UTC)

  /** Driver-side rendering of the same ISO-8601 shape as [[isoFormat]],
    * for scalar responses (the watermark endpoint's `lastExportedAt`,
    * `/root/reference/app/main.py:104-107`).
    */
  def isoFormatValue(ts: Timestamp): String = isoValueFmt.format(ts.toInstant)
}
