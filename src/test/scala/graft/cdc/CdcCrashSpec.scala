package graft.cdc

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Crash-consistency of the export path (r4 verdict item 8): the CSV
  * sink stages under a temp dir and publishes by a single atomic move,
  * so a job that dies MID-WRITE never leaves a partial file under the
  * final name; and a crash BETWEEN publish and watermark advance
  * re-exports the same rows on retry (at-least-once — the reference's
  * own window) rather than ever skipping rows.
  */
class CdcCrashSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterEach {

  import spark.implicits._

  override def afterEach(): Unit = {
    CdcEngine.afterSink = () => ()
    super.afterEach()
  }

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Entries of `dir` left behind by the sink's staging step. */
  private def stagingLeftovers(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten
      .filter(_.contains(".tmpdir-"))

  private def usersDf = Seq(
    (1L, "A", "a@x.com", ts("2026-01-01 10:00:00"), ts("2026-01-01 10:00:00"), false),
    (2L, "B", "b@x.com", ts("2026-01-02 10:00:00"), ts("2026-01-05 10:00:00"), false),
    (3L, "C", "c@x.com", ts("2026-01-03 10:00:00"), ts("2026-01-06 10:00:00"), false))
    .toDF("id", "full_name", "email", "created_at", "updated_at", "is_deleted")

  test("die mid-write: nothing under the final name, watermark untouched") {
    val root = tmpDir("cdccrash")
    // a source whose evaluation explodes on one row, mid-task
    val poison = () => usersDf.withColumn("email",
      when(col("id") === 2L,
        raise_error(lit("injected mid-write crash")))
        .otherwise(col("email")))
    val engine = new CdcEngine(spark, poison, s"$root/wm", s"$root/out")
    intercept[Exception] { engine.fullExport("c1") }
    // the staging discipline: no file — partial or otherwise — was
    // ever published under the output dir's final names
    val outDir = new java.io.File(s"$root/out")
    val finals = Option(outDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".csv"))
    assert(finals.isEmpty, s"partial export leaked: ${finals.mkString(",")}")
    assert(stagingLeftovers(s"$root/out").isEmpty,
      s"staging dir survived the failed write: ${stagingLeftovers(s"$root/out")}")
    assert(engine.watermark("c1").isEmpty, "watermark advanced past a crash")
  }

  test("die between publish and watermark advance: retry re-exports, never skips") {
    val root = tmpDir("cdccrash2")
    usersDf.write.parquet(s"$root/users")
    val engine = new CdcEngine(spark, s"$root/users", s"$root/wm", s"$root/out")
    CdcEngine.afterSink = () => throw new RuntimeException("injected crash")
    intercept[RuntimeException] { engine.fullExport("c1") }
    CdcEngine.afterSink = () => ()
    // the file WAS published (sink-then-state ordering)...
    val files0 = new java.io.File(s"$root/out").listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(files0.length == 1)
    // ...but the watermark did not advance, so the retry re-exports the
    // SAME rows — duplicate-delivery, never loss
    assert(engine.watermark("c1").isEmpty)
    val retry = engine.fullExport("c1")
    assert(retry.rowsExported == 3L)
    assert(engine.watermark("c1").contains(ts("2026-01-06 10:00:00")))
    // and an incremental after the recovered full is empty (converged)
    val inc = engine.incrementalExport("c1")
    assert(inc.rowsExported == 0L)
  }

  test("CsvSink staging dir never shadows the final file on failure") {
    val root = tmpDir("csvsink")
    val out = s"$root/x.csv"
    val poison = usersDf.withColumn("email",
      when(col("id") === 3L, raise_error(lit("boom"))).otherwise(col("email")))
    intercept[Exception] { CsvSink.write(poison, out) }
    assert(!Files.exists(Paths.get(out)),
      "failed write left something under the final name")
    assert(stagingLeftovers(root).isEmpty,
      s"staging dir survived the failed write: ${stagingLeftovers(root)}")
    // a publish that fails after the part is staged: the final name is
    // held by a non-empty directory, which the sink refuses to replace
    val blocked = s"$root/blocked.csv"
    Files.createDirectories(Paths.get(blocked, "keep"))
    intercept[Exception] { CsvSink.write(usersDf, blocked) }
    assert(stagingLeftovers(root).isEmpty,
      s"staging dir survived the failed publish: ${stagingLeftovers(root)}")
    // a later healthy write of the same name succeeds cleanly
    val rows = CsvSink.write(usersDf.orderBy("updated_at"), out)
    assert(rows == 3L && Files.exists(Paths.get(out)))
    assert(stagingLeftovers(root).isEmpty)
  }
}
