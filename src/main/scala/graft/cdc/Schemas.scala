package graft.cdc

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** Schemas for the CDC engine's two tables and its export artifacts.
  *
  * Mirrors the reference DDL (`/root/reference/seeds/001_schema.sql:2-17`)
  * and ORM declarations (`/root/reference/app/models.py:6-22`):
  * `users` is the CDC source, `watermarks` is per-consumer progress state.
  * Postgres TIMESTAMPTZ maps to Spark TimestampType with
  * `spark.sql.session.timeZone=UTC` (both are instant-typed, µs precision).
  */
object Schemas {

  /** `users` — CDC source (`seeds/001_schema.sql:2-9`). */
  val users: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("email", StringType, nullable = false),
    StructField("created_at", TimestampType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false),
    StructField("is_deleted", BooleanType, nullable = false),
  ))

  /** `watermarks` — CDC progress state (`seeds/001_schema.sql:12-17`).
    * The synthetic SERIAL `id` is dropped: `consumer_id` is UNIQUE and is
    * the real key (`seeds/001_schema.sql:14`).
    */
  val watermarks: StructType = StructType(Seq(
    StructField("consumer_id", StringType, nullable = false),
    StructField("last_exported_at", TimestampType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false),
  ))

  /** Fixed export column order for full/incremental exports
    * (`app/services/exports.py:31-33`).
    */
  val exportColumns: Seq[String] =
    Seq("id", "name", "email", "created_at", "updated_at", "is_deleted")

  /** Delta exports prepend an `operation` column
    * (`app/services/exports.py:33`).
    */
  val deltaExportColumns: Seq[String] = "operation" +: exportColumns
}

/** Typed row of the `users` table (`/root/reference/app/models.py:6-14`). */
final case class UserRow(
    id: Long,
    name: String,
    email: String,
    created_at: Timestamp,
    updated_at: Timestamp,
    is_deleted: Boolean,
)

/** Typed row of the `watermarks` table
  * (`/root/reference/app/models.py:16-22`).
  */
final case class WatermarkRow(
    consumer_id: String,
    last_exported_at: Timestamp,
    updated_at: Timestamp,
)

/** Job metadata returned by the export API, mirroring the reference's
  * `ExportJobResponse` (`/root/reference/app/schemas.py:11-15`).
  * `rowsExported` is -1 while the job is queued/running — the shape
  * `CdcEngine.submit*Export` returns with `status="started"`; completed
  * jobs carry the real count and the name the CSV was published under
  * (the minted name, or `<name>-<n>.csv` when an earlier export held it).
  */
final case class ExportJob(
    jobId: String,
    status: String,
    exportType: String,
    outputFilename: String,
    rowsExported: Long,
)

/** `GET /exports/watermark` 200 body, mirroring the reference's
  * `WatermarkResponse` (`/root/reference/app/schemas.py`,
  * `app/main.py:104-107`): the consumer id and the ISO-8601 rendering of
  * its last-exported watermark.
  */
final case class WatermarkResponse(
    consumerId: String,
    lastExportedAt: String,
)
