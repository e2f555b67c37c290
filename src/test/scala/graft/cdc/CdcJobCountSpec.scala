package graft.cdc

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Job-count guard for the export shell: every export is ONE Spark
  * action over its batch. With the single-partition sort's shuffle map
  * stage that is at most 2 jobs, whatever the batch size; the rows
  * published and the watermark stored both come out of that action.
  */
class CdcJobCountSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val MaxJobsPerExport = 2

  private def outEntries(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten

  test("full, incremental and delta exports each run at most 2 Spark jobs") {
    val root = tmpDir("cdcjobs")
    val users = (1 to 2000).map { i =>
      val created = ts("2026-01-01 00:00:00")
      val updated = new Timestamp(created.getTime + i * 60000L)
      UserRow(i, s"u$i", s"u$i@x.com", created, updated, i % 10 == 0)
    }
    users.toDF().repartition(4).write.parquet(s"$root/users")
    val engine =
      new CdcEngine(spark, s"$root/users", s"$root/wm", s"$root/out")

    val (full, fullJobs) = jobsOf(engine.fullExport("c1"))
    assert(full.rowsExported == 1800L)
    assert(fullJobs <= MaxJobsPerExport, s"full export ran $fullJobs jobs")

    // rewind so the incremental and delta batches are non-empty
    new WatermarkStore(spark, s"$root/wm")
      .upsert("c1", ts("2026-01-02 00:00:00"))
    val (inc, incJobs) = jobsOf(engine.incrementalExport("c1"))
    assert(inc.rowsExported > 0)
    assert(incJobs <= MaxJobsPerExport, s"incremental export ran $incJobs jobs")

    new WatermarkStore(spark, s"$root/wm")
      .upsert("c1", ts("2026-01-02 00:00:00"))
    val (delta, deltaJobs) = jobsOf(engine.deltaExport("c1"))
    assert(delta.rowsExported > inc.rowsExported) // soft-deletes included
    assert(deltaJobs <= MaxJobsPerExport, s"delta export ran $deltaJobs jobs")
    assert(engine.watermark("c1").contains(users.last.updated_at))
  }

  test("empty incremental export: at most 2 jobs, no file, watermark unchanged") {
    val root = tmpDir("cdcjobs-empty")
    Seq(
      UserRow(1, "A", "a@x.com", ts("2026-01-01 10:00:00"), ts("2026-01-01 10:00:00"), false),
      UserRow(2, "B", "b@x.com", ts("2026-01-02 10:00:00"), ts("2026-01-03 10:00:00"), false),
    ).toDF().write.parquet(s"$root/users")
    val engine =
      new CdcEngine(spark, s"$root/users", s"$root/wm", s"$root/out")
    assert(engine.fullExport("c1").rowsExported == 2L)
    val wm = engine.watermark("c1")
    val before = outEntries(s"$root/out").toSet

    val (inc, jobs) = jobsOf(engine.incrementalExport("c1"))
    assert(inc.rowsExported == 0L && inc.outputFilename == "")
    assert(jobs <= MaxJobsPerExport, s"empty incremental export ran $jobs jobs")
    val added = outEntries(s"$root/out").toSet -- before
    assert(added.isEmpty, s"empty export left ${added.mkString(",")}")
    assert(engine.watermark("c1") == wm)
  }

  test("2-job exports publish the bytes of the orderBy route") {
    val root = tmpDir("cdcjobs-bytes")
    // shared updated_at values, so the id tiebreaker decides the order
    val users = (1 to 600).map { i =>
      val created = ts("2026-01-01 00:00:00")
      val updated = new Timestamp(created.getTime + (i % 150) * 60000L)
      UserRow(i, s"u,$i", s"u$i@x.com",
        if (i % 7 == 0) updated else created, updated, i % 9 == 0)
    }
    new scala.util.Random(7).shuffle(users).toDF().repartition(5)
      .write.parquet(s"$root/users")
    val source = spark.read.schema(Schemas.users).parquet(s"$root/users")
    val engine =
      new CdcEngine(spark, s"$root/users", s"$root/wm", s"$root/out")
    val rewind = ts("2026-01-01 01:00:00")
    def bytes(path: String) =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)).toSeq
    def sameAsOrderBy(job: ExportJob, reference: DataFrame): Unit = {
      val ref = s"$root/ref-${job.exportType}.csv"
      CsvSink.writeBatch(Ops.exportOrder(reference), ref)
      assert(job.rowsExported > 0)
      assert(bytes(s"$root/out/${job.outputFilename}") == bytes(ref),
        s"${job.exportType} export differs from the orderBy output")
    }

    sameAsOrderBy(engine.fullExport("c1"),
      Ops.exportProjection(Ops.activeOnly(source)))
    new WatermarkStore(spark, s"$root/wm").upsert("c1", rewind)
    sameAsOrderBy(engine.incrementalExport("c1"),
      Ops.exportProjection(Ops.incrementalChanges(source, rewind)))
    new WatermarkStore(spark, s"$root/wm").upsert("c1", rewind)
    sameAsOrderBy(engine.deltaExport("c1"),
      Ops.withOperation(Ops.deltaChanges(source, rewind)))
  }
}
