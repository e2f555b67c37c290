package graft.cdc

import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import scala.concurrent.{ExecutionContext, Future}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.slf4j.LoggerFactory

/** Factory entry points for the supported `users` sources. */
object CdcEngine {

  /** Test-only failpoint: invoked between the CSV publish and the
    * watermark advance, so the crash-consistency spec can kill the
    * engine inside the duplicate-export window (same discipline as
    * [[TxLog.beforeCommit]]).
    */
  private[cdc] var afterSink: () => Unit = () => ()

  /** Live-database source via JDBC — the direct analog of the
    * reference reading Postgres (`/root/reference/app/database.py`).
    * The watermark predicate composed on top of this DataFrame pushes
    * down into the remote SQL (Catalyst JDBC filter pushdown), so an
    * incremental export ships `WHERE updated_at > ?` to the database
    * exactly as the reference does — served there by the
    * `idx_users_updated_at` index.
    */
  def jdbc(spark: SparkSession, url: String, table: String,
      connectionProperties: java.util.Properties, watermarkDir: String,
      outputDir: String): CdcEngine =
    new CdcEngine(spark,
      () => spark.read.jdbc(url, table, connectionProperties),
      watermarkDir, outputDir)

  /** Background-task executor mirroring the reference's FastAPI
    * `BackgroundTasks` (`/root/reference/app/main.py:46,68,86`): the 202
    * response returns immediately; the export runs afterwards. Single
    * thread on purpose — the watermark store is read-modify-write, so
    * background jobs serialize instead of racing.
    */
  private lazy val backgroundEc: ExecutionContext =
    ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newSingleThreadExecutor { r =>
        val t = new Thread(r, "cdc-export-background")
        t.setDaemon(true)
        t
      })
}

/** The engine's public API surface, mirroring the reference's five
  * endpoints (`/root/reference/app/main.py:17-107`, SURVEY.md §2.11):
  * full / incremental / delta export + watermark lookup, each returning
  * job metadata (`ExportJobResponse`, `app/schemas.py:11-15`).
  *
  * Semantics preserved exactly (SURVEY.md §3):
  *  - every export and the watermark lookup REQUIRE a non-empty consumer
  *    id — blank/null raises, the analog of the reference's 400 on a
  *    missing `X-Consumer-ID` header (`app/main.py:25-28`)
  *  - full: WHERE NOT is_deleted ORDER BY updated_at
  *  - incremental: AND updated_at > watermark (strict); missing
  *    watermark ⇒ export nothing, write no file, create no watermark
  *    (`app/services/exports.py:110-113`)
  *  - delta: updated_at > watermark, soft-deletes INCLUDED, prepended
  *    3-way `operation` column (`app/services/exports.py:138-171`)
  *  - empty result ⇒ rowsExported=0, NO file written, watermark untouched
  *    (`app/services/exports.py:87-88,127-128,163-164`)
  *  - watermark advances to max(updated_at) of the exported batch, only
  *    after the CSV write succeeds (transactional ordering of
  *    `app/services/jobs.py:31-60`)
  *  - `submit*Export` reproduces the async 202 shape: jobId and filename
  *    minted up front, `status="started"` / `rowsExported = -1` returned
  *    immediately, the export itself run as a background task
  *    (`app/main.py:37-53`); the synchronous `*Export` variants run the
  *    job inline and return the completed metadata — the library-friendly
  *    path
  *
  * @param usersSource supplier of the `users` table (parquet snapshot
  *                     dir, JDBC to a live Postgres, or any DataFrame —
  *                     re-evaluated per export so each job sees the
  *                     current table state)
  * @param watermarkDir parquet state dir for the `watermarks` table
  * @param outputDir   directory for CSV export artifacts
  */
final class CdcEngine(
    spark: SparkSession,
    usersSource: () => DataFrame,
    watermarkDir: String,
    outputDir: String,
) {

  /** Parquet-snapshot source (testdata / lakehouse layout). */
  def this(spark: SparkSession, usersPath: String, watermarkDir: String,
      outputDir: String) =
    this(spark,
      () => spark.read.schema(Schemas.users).parquet(usersPath),
      watermarkDir, outputDir)

  private val log = LoggerFactory.getLogger(classOf[CdcEngine])
  private val wmStore = new WatermarkStore(spark, watermarkDir)

  private def users: DataFrame = usersSource()

  /** 400 analog (`app/main.py:25-28`): blank consumer ids never reach a
    * job — the reference would otherwise mint files like `full__….csv`.
    */
  private def requireConsumerId(consumerId: String): Unit =
    require(consumerId != null && consumerId.nonEmpty,
      "X-Consumer-ID header is required")

  /** `GET /exports/watermark` (`app/main.py:94-107`). Raw driver value;
    * see [[watermarkResponse]] for the endpoint's rendered shape.
    */
  def watermark(consumerId: String): Option[Timestamp] = {
    requireConsumerId(consumerId)
    wmStore.get(consumerId)
  }

  /** `GET /exports/watermark` response shape (`app/main.py:104-107`):
    * `{consumerId, lastExportedAt: isoformat}`. `None` is the caller's
    * 404 analog (`app/main.py:102-103`). The ISO rendering is the same
    * shape `Ops.isoFormat` gives exported columns.
    */
  def watermarkResponse(consumerId: String): Option[WatermarkResponse] =
    watermark(consumerId).map(wm =>
      WatermarkResponse(consumerId, Ops.isoFormatValue(wm)))

  /** `POST /exports/full` (`app/main.py:37-53`,
    * `app/services/exports.py:70-95`), run inline.
    */
  def fullExport(consumerId: String): ExportJob = {
    requireConsumerId(consumerId)
    execute(mintJobId(), "full", consumerId, mintFilename("full", consumerId))
  }

  /** `POST /exports/incremental` (`app/main.py:56-72`,
    * `app/services/exports.py:98-135`), run inline. Missing watermark ⇒
    * 0 rows, no file, no watermark created.
    */
  def incrementalExport(consumerId: String): ExportJob = {
    requireConsumerId(consumerId)
    execute(mintJobId(), "incremental", consumerId,
      mintFilename("incremental", consumerId))
  }

  /** `POST /exports/delta` (`app/main.py:75-91`,
    * `app/services/exports.py:138-171`), run inline. Soft-deletes
    * included; rows tagged DELETE / INSERT / UPDATE.
    */
  def deltaExport(consumerId: String): ExportJob = {
    requireConsumerId(consumerId)
    execute(mintJobId(), "delta", consumerId, mintFilename("delta", consumerId))
  }

  /** Async `POST /exports/full`: the reference's actual 202 contract —
    * returns `status="started"` / `rowsExported = -1` immediately with
    * the pre-minted jobId and filename, and runs the export as a
    * background task (`app/main.py:37-53`). The Future resolves to the
    * completed job metadata (the reference exposes no status endpoint;
    * the Future is the library's richer analog).
    */
  def submitFullExport(consumerId: String): (ExportJob, Future[ExportJob]) =
    submit("full", consumerId)

  /** Async `POST /exports/incremental` (`app/main.py:56-72`). */
  def submitIncrementalExport(consumerId: String): (ExportJob, Future[ExportJob]) =
    submit("incremental", consumerId)

  /** Async `POST /exports/delta` (`app/main.py:75-91`). */
  def submitDeltaExport(consumerId: String): (ExportJob, Future[ExportJob]) =
    submit("delta", consumerId)

  private def submit(exportType: String,
      consumerId: String): (ExportJob, Future[ExportJob]) = {
    requireConsumerId(consumerId)
    val jobId = mintJobId()
    val filename = mintFilename(exportType, consumerId)
    val started = ExportJob(jobId, "started", exportType, filename, -1L)
    val done = Future(execute(jobId, exportType, consumerId, filename))(
      CdcEngine.backgroundEc)
    (started, done)
  }

  /** `GET /health` analog (`app/main.py:17-22`). */
  def health(): (String, String) =
    ("ok", Instant.now().toString)

  // ---- job shell: filename mint, empty-guard, CSV, watermark advance ----

  private val stampFmt =
    DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(ZoneOffset.UTC)

  private def mintJobId(): String = java.util.UUID.randomUUID().toString

  /** `{type}_{consumer}_{utcstamp}.csv` with spaces sanitized
    * (`app/main.py:31-34`). The name an export publishes under; when an
    * earlier export holds it, the export publishes `<name>-<n>.csv`
    * instead and reports that name (see [[Ops.exportOrder]]).
    */
  private[cdc] def mintFilename(exportType: String, consumerId: String): String =
    s"${exportType}_${consumerId.replace(" ", "_")}_${stampFmt.format(Instant.now())}.csv"

  /** Dispatch one export job: the body of the reference's
    * `run_export_job` (`app/services/jobs.py:31-60`), shared by the
    * inline and background paths so both agree on semantics.
    */
  private def execute(jobId: String, exportType: String, consumerId: String,
      filename: String): ExportJob = exportType match {
    case "full" =>
      runJob(jobId, "full", consumerId, filename) {
        Ops.singleFileOrder(Ops.exportProjection(Ops.activeOnly(users)))
      }
    case "incremental" =>
      wmStore.get(consumerId) match {
        case None =>
          log.info(s"""export_skipped consumer=$consumerId reason=no_watermark""")
          ExportJob(jobId, "completed", "incremental", "", 0L)
        case Some(wm) =>
          runJob(jobId, "incremental", consumerId, filename) {
            Ops.singleFileOrder(
              Ops.exportProjection(Ops.incrementalChanges(users, wm)))
          }
      }
    case "delta" =>
      wmStore.get(consumerId) match {
        case None =>
          log.info(s"""export_skipped consumer=$consumerId reason=no_watermark""")
          ExportJob(jobId, "completed", "delta", "", 0L)
        case Some(wm) =>
          runJob(jobId, "delta", consumerId, filename) {
            Ops.singleFileOrder(Ops.withOperation(Ops.deltaChanges(users, wm)))
          }
      }
  }

  private def runJob(jobId: String, exportType: String, consumerId: String,
      filename: String)(plan: => DataFrame): ExportJob = {
    val t0 = System.nanoTime()
    log.info(s"export_started job=$jobId type=$exportType consumer=$consumerId")
    try {
      // One pass: the CSV write itself counts the batch and takes its
      // max(updated_at), so the rows published and the watermark stored
      // come from the same evaluation of the batch (the reference
      // materializes it once, exports.py:85,125,161).
      val written = CsvSink.writeBatch(plan, s"$outputDir/$filename")
      if (written.rows == 0) { // empty batch: no file, watermark untouched
        log.info(s"export_completed job=$jobId rowsExported=0")
        ExportJob(jobId, "completed", exportType, "", 0L)
      } else {
        CdcEngine.afterSink()
        // advance-last ordering: state moves only after the sink
        // succeeded (app/services/jobs.py:42 commit discipline).
        // A crash in between leaves the exported file WITHOUT the
        // watermark advance — the retry re-exports the same rows
        // (at-least-once, the reference's own window; consumers
        // dedup by id) — never the reverse, which would LOSE rows.
        written.maxUpdatedAt.foreach(wmStore.upsert(consumerId, _))
        val secs = (System.nanoTime() - t0) / 1e9
        log.info(
          f"export_completed job=$jobId rowsExported=${written.rows} durationSeconds=$secs%.3f")
        ExportJob(jobId, "completed", exportType, written.name, written.rows)
      }
    } catch {
      case e: Throwable =>
        log.error(s"export_failed job=$jobId error=${e.getMessage}")
        throw e
    }
  }
}
