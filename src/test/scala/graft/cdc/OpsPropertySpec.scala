package graft.cdc

import java.sql.Timestamp

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** Property tests for the op classifier (SURVEY.md §5c): the
  * {DELETE, INSERT, UPDATE} partition is total and mutually exclusive for
  * all (is_deleted, created_at, updated_at) combinations, with DELETE
  * taking precedence (`/root/reference/app/services/exports.py:40-45`).
  * Evaluated through the real Catalyst expression, not a Scala re-model.
  */
class OpsPropertySpec extends SparkSpec {

  import spark.implicits._

  private def check(p: Prop, minTests: Int = 30): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minTests), p)
    assert(res.passed, res.status.toString)
  }

  private val tsGen: Gen[Timestamp] =
    Gen.choose(1700000000000L, 1800000000000L).map(new Timestamp(_))

  private val rowGen: Gen[UserRow] = for {
    id <- Gen.choose(1L, 1000000L)
    created <- tsGen
    // bias towards the created==updated edge case
    updated <- Gen.frequency(1 -> Gen.const(created), 2 -> tsGen)
    deleted <- Gen.oneOf(true, false)
  } yield UserRow(id, s"n$id", s"e$id@x.com", created, updated, deleted)

  test("operation classifier is total, exclusive, and DELETE-precedent") {
    check(Prop.forAll(Gen.listOfN(20, rowGen)) { rows =>
      rows.isEmpty || {
        val out = Ops.withOperation(rows.toDF())
          .select("operation", "id", "is_deleted", "created_at", "updated_at")
          .collect()
        out.forall { r =>
          val op = r.getString(0)
          val del = r.getBoolean(2)
          val ins = r.getTimestamp(3) == r.getTimestamp(4)
          if (del) op == "DELETE"
          else if (ins) op == "INSERT"
          else op == "UPDATE"
        }
      }
    })
  }

  /** The instant `us` microseconds after the epoch. */
  private def micros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private val epochUs = 1767225600000000L // 2026-01-01T00:00:00Z

  /** A base snapshot (at least one active row) and a change batch. A
    * change is (existing id or a new one, µs offset from the full
    * export's watermark, soft-deleted, created == updated). Offsets
    * cluster on a few µs so ties at the max are common; offsets <= 0
    * sit at or below the watermark and must not be re-exported.
    */
  private val batchesGen = for {
    base <- Gen.choose(1, 8).flatMap(Gen.listOfN(_, for {
      us <- Gen.choose(0L, 5000000L)
      deleted <- Gen.frequency(3 -> false, 1 -> true)
    } yield (us, deleted)))
    changes <- Gen.choose(0, 8).flatMap(Gen.listOfN(_, for {
      id <- Gen.choose(1L, 12L)
      off <- Gen.choose(-2L, 4L)
      deleted <- Gen.frequency(2 -> false, 1 -> true)
      insert <- Gen.oneOf(true, false)
    } yield (id, off, deleted, insert)))
  } yield ((base.head._1, false) :: base.tail, changes)

  test("differential: stored watermark = Ops.maxUpdatedAt of the exported rows") {
    val root = tmpDir("wmdiff")
    var run = 0
    // no shrinking: a shrunk base could lose its guaranteed active row
    check(Prop.forAllNoShrink(batchesGen) { case (base, changes) =>
      run += 1
      val dir = s"$root/$run"
      val baseRows = base.zipWithIndex.map { case ((us, del), i) =>
        val t = micros(epochUs + us)
        UserRow(i + 1L, s"n$i", s"e$i@x.com", micros(epochUs), t, del)
      }
      var users = baseRows.toDF()
      val engine = new CdcEngine(spark, () => users, s"$dir/wm", s"$dir/out")

      // the watermark a job stored equals the reference aggregate over
      // the rows its CSV holds; an empty job leaves it where it was
      def agrees(consumer: String, before: Option[Timestamp], job: ExportJob,
          delta: Boolean): Boolean =
        if (job.rowsExported == 0) engine.watermark(consumer) == before
        else {
          val exported =
            CsvSink.read(spark, s"$dir/out/${job.outputFilename}", delta)
          exported.count() == job.rowsExported &&
            engine.watermark(consumer) == Ops.maxUpdatedAt(exported)
        }

      val fullOk = Seq("inc", "del").forall { c =>
        agrees(c, None, engine.fullExport(c), delta = false)
      }
      val wm0 = engine.watermark("inc")
      val wmUs = Math.floorDiv(wm0.get.getTime, 1000L) * 1000000L +
        wm0.get.getNanos / 1000
      val byId = baseRows.map(r => r.id -> r).toMap
      val changed = changes.map { case (id, off, del, insert) =>
        val t = micros(wmUs + off)
        val created = if (insert) t else byId.get(id).fold(micros(epochUs))(_.created_at)
        UserRow(id, s"u$id", s"e$id@x.com", created, t, del)
      }
      // latest change per id wins, as in the source table
      val latest = (baseRows ++ changed).groupBy(_.id).values.map(_.last).toSeq
      users = latest.toDF()
      fullOk &&
        agrees("inc", wm0, engine.incrementalExport("inc"), delta = false) &&
        agrees("del", wm0, engine.deltaExport("del"), delta = true)
    }, minTests = 12)
  }

  test("watermark monotonicity: after a successful export wm' = max(batch)") {
    check(Prop.forAll(Gen.nonEmptyListOf(rowGen)) { rows =>
      val expected = rows.map(_.updated_at.getTime).max
      Ops.maxUpdatedAt(rows.toDF()).map(_.getTime).contains(expected)
    })
  }
}
