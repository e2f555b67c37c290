package graft.cdc

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** End-to-end export scenarios mirroring the reference's pytest suite
  * (`/root/reference/tests/` — see SURVEY.md §5): full export
  * (`test_exports_full.py`), incremental-only-changed-rows
  * (`test_exports_incremental.py`), delta op classification
  * (`test_exports_delta.py`), watermark upsert (`test_watermark_logic.py`).
  */
class CdcEngineSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Small staged users table with known composition. */
  private def baseUsers: Seq[UserRow] = Seq(
    // unchanged (INSERT-class), active
    UserRow(1, "A One", "a@x.com", ts("2026-01-01 10:00:00"), ts("2026-01-01 10:00:00"), false),
    // updated later, active
    UserRow(2, "B Two", "b@x.com", ts("2026-01-02 10:00:00"), ts("2026-01-05 10:00:00"), false),
    // soft-deleted, created==updated (must classify DELETE, not INSERT)
    UserRow(3, "C Three", "c@x.com", ts("2026-01-03 10:00:00"), ts("2026-01-03 10:00:00"), true),
    // updated + soft-deleted
    UserRow(4, "D Four", "d@x.com", ts("2026-01-01 09:00:00"), ts("2026-01-06 09:00:00"), true),
    // late row, active, updated
    UserRow(5, "E Five", "e@x.com", ts("2026-01-04 08:00:00"), ts("2026-01-07 08:00:00"), false),
  )

  private def writeUsers(rows: Seq[UserRow], dir: String): Unit =
    rows.toDF().write.mode("overwrite").parquet(dir)

  private def mkEngine(): (CdcEngine, String, String) = {
    val root = tmpDir("cdc")
    val usersDir = s"$root/users"
    val outDir = s"$root/out"
    writeUsers(baseUsers, usersDir)
    (new CdcEngine(spark, usersDir, s"$root/wm", outDir), usersDir, outDir)
  }

  private def readCsv(path: String): Vector[String] =
    Files.readAllLines(Paths.get(path)).asScala.toVector

  test("full export: header, active rows only, sorted by updated_at; watermark set") {
    val (engine, _, outDir) = mkEngine()
    val job = engine.fullExport("consumer-1")
    assert(job.status == "completed")
    assert(job.rowsExported == 3) // rows 1,2,5 (3,4 soft-deleted)

    val lines = readCsv(s"$outDir/${job.outputFilename}")
    assert(lines.head == "id,name,email,created_at,updated_at,is_deleted")
    assert(lines.size == 4)
    // sorted ascending by updated_at: id 1 (01-01) < 2 (01-05) < 5 (01-07)
    assert(lines.tail.map(_.split(",")(0)) == Vector("1", "2", "5"))
    // ISO-8601 timestamps + Python-style booleans
    assert(lines(1).contains("2026-01-01T10:00:00.000000+00:00"))
    assert(lines(1).endsWith("False"))

    // watermark = max updated_at of exported batch = row 5's
    assert(engine.watermark("consumer-1").contains(ts("2026-01-07 08:00:00")))
  }

  test("incremental without watermark exports nothing, creates no watermark") {
    val (engine, _, outDir) = mkEngine()
    val job = engine.incrementalExport("nobody")
    assert(job.rowsExported == 0)
    assert(job.outputFilename.isEmpty)
    assert(engine.watermark("nobody").isEmpty)
    assert(!Files.exists(Paths.get(outDir)) ||
      Files.list(Paths.get(outDir)).count() == 0)
  }

  test("incremental exports only rows strictly after watermark, excluding deletes") {
    val (engine, usersDir, outDir) = mkEngine()
    engine.fullExport("c2") // watermark -> 2026-01-07 08:00:00

    // stage: touch rows 1 and 3 after the watermark (3 stays deleted)
    val touched = baseUsers.map {
      case u if u.id == 1 => u.copy(updated_at = ts("2026-01-08 12:00:00"))
      case u if u.id == 3 => u.copy(updated_at = ts("2026-01-08 13:00:00"))
      case u => u
    }
    writeUsers(touched, usersDir)

    val job = engine.incrementalExport("c2")
    assert(job.rowsExported == 1) // only row 1; row 3 is soft-deleted
    val lines = readCsv(s"$outDir/${job.outputFilename}")
    assert(lines.tail.map(_.split(",")(0)) == Vector("1"))
    // watermark advanced to max of THIS batch (row 1's new updated_at)
    assert(engine.watermark("c2").contains(ts("2026-01-08 12:00:00")))
  }

  test("incremental with empty batch: no file, watermark untouched") {
    val (engine, _, _) = mkEngine()
    engine.fullExport("c3")
    val wm0 = engine.watermark("c3")
    val job = engine.incrementalExport("c3") // nothing changed since full
    assert(job.rowsExported == 0)
    assert(job.outputFilename.isEmpty)
    assert(engine.watermark("c3") == wm0)
  }

  test("rows exactly at the watermark are NOT re-exported (strict >)") {
    val (engine, usersDir, _) = mkEngine()
    engine.fullExport("c4") // wm = 2026-01-07 08:00:00 (row 5)
    // row 5 sits exactly at the watermark; an incremental must skip it
    val job = engine.incrementalExport("c4")
    assert(job.rowsExported == 0)
  }

  test("delta export: operation classification, soft-deletes included") {
    val (engine, usersDir, outDir) = mkEngine()
    engine.fullExport("c5") // wm = 2026-01-07 08:00:00

    // stage INSERT (new row created==updated), UPDATE, DELETE — mirrors
    // tests/test_exports_delta.py:17-30
    val staged = baseUsers.map {
      case u if u.id == 2 => u.copy(updated_at = ts("2026-01-09 10:00:00")) // UPDATE
      case u if u.id == 4 => u.copy(updated_at = ts("2026-01-09 11:00:00")) // DELETE (is_deleted)
      case u => u
    } :+ UserRow(6, "F Six", "f@x.com",
      ts("2026-01-09 12:00:00"), ts("2026-01-09 12:00:00"), false) // INSERT
    writeUsers(staged, usersDir)

    val job = engine.deltaExport("c5")
    assert(job.rowsExported == 3)
    val lines = readCsv(s"$outDir/${job.outputFilename}")
    assert(lines.head == "operation,id,name,email,created_at,updated_at,is_deleted")
    val ops = lines.tail.map(l => (l.split(",")(1), l.split(",")(0))).toMap
    assert(ops == Map("2" -> "UPDATE", "4" -> "DELETE", "6" -> "INSERT"))
  }

  test("CSV quoting: names with commas/quotes round-trip (csv.writer parity)") {
    val root = tmpDir("csvq")
    val usersDir = s"$root/users"
    writeUsers(Seq(
      UserRow(1, """Smith, "Ace" Jr""", "s@x.com",
        ts("2026-01-01 10:00:00"), ts("2026-01-01 10:00:00"), false),
    ), usersDir)
    val engine = new CdcEngine(spark, usersDir, s"$root/wm", s"$root/out")
    val job = engine.fullExport("q")
    val lines = readCsv(s"$root/out/${job.outputFilename}")
    // minimal quoting, embedded quotes doubled — same as Python csv.writer
    assert(lines(1).startsWith("1,\"Smith, \"\"Ace\"\" Jr\",s@x.com,"))
    // and it parses back to the original value
    val back = spark.read.option("header", "true").option("escape", "\"")
      .csv(s"$root/out/${job.outputFilename}")
      .select("name").head().getString(0)
    assert(back == """Smith, "Ace" Jr""")
  }

  test("blank consumer id is rejected on every endpoint (400 analog)") {
    val (engine, _, _) = mkEngine()
    for (call <- Seq[String => Any](
        engine.fullExport, engine.incrementalExport, engine.deltaExport,
        engine.watermark, engine.watermarkResponse,
        engine.submitFullExport)) {
      intercept[IllegalArgumentException](call(""))
      intercept[IllegalArgumentException](call(null))
    }
  }

  test("submit*Export: 202 shape (started, rowsExported=-1), then completes in background") {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val (engine, _, outDir) = mkEngine()
    val (started, done) = engine.submitFullExport("bg-1")
    assert(started.status == "started")
    assert(started.rowsExported == -1L)
    assert(started.outputFilename.startsWith("full_bg-1_"))
    val job = Await.result(done, 60.seconds)
    assert(job.status == "completed")
    assert(job.rowsExported == 3)
    // background job writes under the filename minted at submit time
    assert(job.jobId == started.jobId)
    assert(job.outputFilename == started.outputFilename)
    assert(Files.exists(Paths.get(s"$outDir/${job.outputFilename}")))
    assert(engine.watermark("bg-1").contains(ts("2026-01-07 08:00:00")))
  }

  test("watermarkResponse: ISO-rendered body, None for unknown consumer (404 analog)") {
    val (engine, _, _) = mkEngine()
    assert(engine.watermarkResponse("ghost").isEmpty)
    engine.fullExport("c6")
    assert(engine.watermarkResponse("c6").contains(
      WatermarkResponse("c6", "2026-01-07T08:00:00.000000+00:00")))
  }

  test("csv round trip: full export reads back typed and value-identical") {
    val (engine, _, outDir) = mkEngine()
    val job = engine.fullExport("rt")
    val back = CsvSink.read(spark, s"$outDir/${job.outputFilename}")
      .as[UserRow].collect().toSet
    val expected = baseUsers.filterNot(_.is_deleted).toSet
    assert(back == expected)
  }

  test("csv round trip: delta export keeps the operation column typed") {
    val (engine, usersDir, outDir) = mkEngine()
    engine.fullExport("rtd")
    writeUsers(baseUsers.map {
      case u if u.id == 2 => u.copy(updated_at = ts("2026-01-09 10:00:00"))
      case u => u
    }, usersDir)
    val job = engine.deltaExport("rtd")
    val back = CsvSink.read(spark, s"$outDir/${job.outputFilename}",
      delta = true)
    assert(back.columns.head == "operation")
    val row = back.head()
    assert(row.getAs[String]("operation") == "UPDATE")
    assert(row.getAs[Long]("id") == 2L)
    assert(row.getAs[java.sql.Timestamp]("updated_at") ==
      ts("2026-01-09 10:00:00"))
  }

  test("schema evolution: extra source columns are ignored, export shape fixed") {
    val root = tmpDir("cdcevo")
    val usersDir = s"$root/users"
    import org.apache.spark.sql.functions.lit
    baseUsers.toDF()
      .withColumn("new_upstream_col", lit("surprise"))
      .write.mode("overwrite").parquet(usersDir)
    val engine = new CdcEngine(spark, usersDir, s"$root/wm", s"$root/out")
    val job = engine.fullExport("evo")
    assert(job.rowsExported == 3)
    val lines = readCsv(s"$root/out/${job.outputFilename}")
    // the canonical 6-column contract regardless of upstream additions
    assert(lines.head == "id,name,email,created_at,updated_at,is_deleted")
  }

  test("re-running a full export is idempotent in content and watermark") {
    val (engine, _, outDir) = mkEngine()
    val j1 = engine.fullExport("idem")
    val wm1 = engine.watermark("idem")
    val j2 = engine.fullExport("idem")
    assert(engine.watermark("idem") == wm1) // same max(updated_at)
    assert(j2.rowsExported == j1.rowsExported)
    val body1 = readCsv(s"$outDir/${j1.outputFilename}")
    val body2 = readCsv(s"$outDir/${j2.outputFilename}")
    assert(j1.outputFilename != j2.outputFilename)
    assert(body1 == body2) // distinct filenames, identical content
  }

  test("an export batch never replaces an earlier file under the same name") {
    val (_, usersDir, outDir) = mkEngine()
    val users = spark.read.parquet(usersDir)
    val target = s"$outDir/full_c_20260101T000000Z.csv"
    val batches = Seq(Seq(1L, 2L), Seq(5L), Seq(3L, 4L))
    val names = batches.map { ids =>
      CsvSink.writeBatch(Ops.exportProjection(
        users.filter(users("id").isin(ids: _*)).orderBy("id")), target).name
    }
    assert(names == Seq("full_c_20260101T000000Z.csv",
      "full_c_20260101T000000Z-1.csv", "full_c_20260101T000000Z-2.csv"))
    names.zip(batches).foreach { case (name, ids) =>
      assert(readCsv(s"$outDir/$name").tail.map(_.split(",")(0).toLong) == ids)
    }
  }

  test("failed export: exception propagates, watermark untouched, no file") {
    val root = tmpDir("cdcfail")
    val engine = new CdcEngine(spark, s"$root/users-does-not-exist",
      s"$root/wm", s"$root/out")
    intercept[Throwable](engine.fullExport("doomed"))
    assert(engine.watermark("doomed").isEmpty)
    assert(!Files.exists(Paths.get(s"$root/out")) ||
      Files.list(Paths.get(s"$root/out")).count() == 0)
  }

  test("concurrent submits serialize on the background thread") {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val (engine, _, outDir) = mkEngine()
    val (s1, d1) = engine.submitFullExport("cc-a")
    val (s2, d2) = engine.submitFullExport("cc-b")
    val j1 = Await.result(d1, 120.seconds)
    val j2 = Await.result(d2, 120.seconds)
    assert(j1.status == "completed" && j2.status == "completed")
    assert(j1.rowsExported == 3 && j2.rowsExported == 3)
    // both consumers advanced independently to the same max(updated_at)
    assert(engine.watermark("cc-a") == engine.watermark("cc-b"))
    assert(Files.exists(Paths.get(s"$outDir/${j1.outputFilename}")))
    assert(Files.exists(Paths.get(s"$outDir/${j2.outputFilename}")))
  }

  test("watermark upserts from concurrent threads lose no consumer") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmpDir("wmrace")
    val store = new WatermarkStore(spark, s"$root/wm")
    val fs = (1 to 8).map { i =>
      Future(store.upsert(s"consumer-$i", ts(f"2026-01-0${i % 9 + 1} 00:00:00")))
    }
    Await.result(Future.sequence(fs), 120.seconds)
    assert(store.all().count() == 8)
    (1 to 8).foreach(i => assert(store.get(s"consumer-$i").nonEmpty))
  }

  test("watermark upserts from two independent store instances lose no consumer") {
    // the r4 advisory scenario: two separate driver processes sharing a
    // state dir. Separate INSTANCES bypass the per-instance
    // `synchronized`, so only the manifest CAS commit serializes them —
    // the old last-rename-wins dir swap could silently drop one side.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmpDir("wmxproc")
    val a = new WatermarkStore(spark, s"$root/wm")
    val b = new WatermarkStore(spark, s"$root/wm")
    val fs = (1 to 10).map { i =>
      val store = if (i % 2 == 0) a else b
      Future(store.upsert(s"c-$i", ts(f"2026-01-0${i % 9 + 1} 00:00:00")))
    }
    Await.result(Future.sequence(fs), 120.seconds)
    assert(a.all().count() == 10)
    (1 to 10).foreach(i => assert(b.get(s"c-$i").nonEmpty,
      s"consumer c-$i lost in the cross-instance race"))
  }

  test("watermark upsert: insert path then update path") {
    val root = tmpDir("wm")
    val store = new WatermarkStore(spark, s"$root/wm")
    assert(store.get("x").isEmpty)
    store.upsert("x", ts("2026-01-01 00:00:00"))
    assert(store.get("x").contains(ts("2026-01-01 00:00:00")))
    store.upsert("x", ts("2026-02-01 00:00:00")) // overwrite
    assert(store.get("x").contains(ts("2026-02-01 00:00:00")))
    store.upsert("y", ts("2026-03-01 00:00:00")) // second consumer
    assert(store.get("x").contains(ts("2026-02-01 00:00:00")))
    assert(store.get("y").contains(ts("2026-03-01 00:00:00")))
    assert(store.all().count() == 2)
  }
}
