package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Job-count guard for the maintained-table writers: every staged
  * write (create, copy-on-write and merge-on-read merges with a feed,
  * compaction, rebucket, SCD2 history, aggregate views) runs a fixed
  * number of Spark jobs whatever its data. A refactor of the shared
  * stage/commit protocol must not add a job to any of them; the caps
  * are the counts the writers run today on these small inputs.
  */
class WriterJobCountSpec extends SparkSpec {

  import spark.implicits._

  private val Caps = Map(
    "Compaction.init" -> 2,
    "merge (copy-on-write, feed)" -> 7,
    "merge (merge-on-read, feed)" -> 7,
    "compact" -> 2,
    "rebucket" -> 2,
    "Scd2.init" -> 2,
    "Scd2.merge" -> 9,
    "AggView.init" -> 3,
    "AggView.applyFeed" -> 7,
    "Scd2.merge (merge-on-read)" -> 5,
    "Scd2.compact" -> 2,
    "Scd2.rebucket" -> 2,
    "AggView.merge (copy-on-write)" -> 7,
    "AggView.merge (merge-on-read)" -> 6,
    "AggView.compact" -> 3,
    "AggView.rebucket" -> 2,
    "Compaction.repartitionTime" -> 2)

  private def rows(ids: Seq[Long], version: Long,
      deleted: Long => Boolean = _ => false): DataFrame =
    ids.map(i => (i, s"v$version-$i", i * 1.5, version, deleted(i)))
      .toDF("id", "payload", "price", "version", "deleted")

  private def capped[T](what: String)(body: => T): T = {
    val (out, jobs) = jobsOf(body)
    println(s"writer-jobs $what = $jobs")
    assert(jobs <= Caps(what), s"$what ran $jobs Spark jobs (cap ${Caps(what)})")
    out
  }

  test("merge-table writers stay within their Spark job caps") {
    val dir = tmpDir("writer-jobs")
    capped("Compaction.init") {
      Compaction.init(rows(1L to 200L, 0L), dir, Seq("id"), "version",
        "deleted", 8, Nil, feed = true)
    }
    val cow = capped("merge (copy-on-write, feed)") {
      Compaction.merge(spark, dir,
        rows(190L to 210L, 1L, _ == 195L), emitFeed = true)
    }
    assert(cow.feedRows > 0)
    val mor = capped("merge (merge-on-read, feed)") {
      Compaction.merge(spark, dir, rows(5L to 25L, 2L, _ == 7L),
        emitFeed = true, mergeOnRead = true)
    }
    assert(mor.feedRows > 0)
    capped("compact")(Compaction.compact(spark, dir))
    assert(Compaction.deltaStats(spark, dir).isEmpty)
    capped("rebucket")(Compaction.rebucket(spark, dir, 16))
    assert(Compaction.countRows(spark, dir) == 208L)
  }

  test("SCD2 and aggregate-view writers stay within their Spark job caps") {
    val root = tmpDir("writer-jobs-hist")
    val hist = s"$root/hist"
    capped("Scd2.init") {
      Scd2.init(rows(1L to 200L, 0L).drop("price"), hist, Seq("id"),
        "version", "deleted", 8)
    }
    capped("Scd2.merge") {
      Scd2.merge(spark, hist, rows(190L to 210L, 1L, _ == 195L).drop("price"))
    }
    assert(Scd2.current(spark, hist).count() == 209L)

    val table = s"$root/table"
    val view = s"$root/view"
    Compaction.init(rows(1L to 200L, 0L), table, Seq("id"), "version",
      "deleted", 8, Nil, feed = true)
    capped("AggView.init") {
      AggView.init(Compaction.read(spark, table).select("id", "price"),
        view, "id", "price", nBuckets = 8)
    }
    Compaction.merge(spark, table, rows(190L to 210L, 1L, _ == 195L))
    val feed = Compaction.readFeed(spark, table).filter(col("batch") === 0)
    capped("AggView.applyFeed")(AggView.applyFeed(spark, view, feed, 0L))
    assert(AggView.read(spark, view).count() ==
      Compaction.read(spark, table).count())
  }

  test("merge-on-read, compaction, rebucket and repartition writers of " +
      "every kind stay within their Spark job caps") {
    val root = tmpDir("writer-jobs-kinds")
    val hist = s"$root/hist"
    Scd2.init(rows(1L to 200L, 0L).drop("price"), hist, Seq("id"),
      "version", "deleted", 8)
    capped("Scd2.merge (merge-on-read)") {
      Scd2.merge(spark, hist,
        rows(190L to 210L, 1L, _ == 195L).drop("price"), mergeOnRead = true)
    }
    assert(Scd2.deltaStats(spark, hist).nonEmpty)
    capped("Scd2.compact")(Scd2.compact(spark, hist))
    assert(Scd2.deltaStats(spark, hist).isEmpty)
    capped("Scd2.rebucket")(Scd2.rebucket(spark, hist, 16))
    assert(Scd2.current(spark, hist).count() == 209L)

    val view = s"$root/view"
    def measure(ids: Seq[Long]) = rows(ids, 0L).select("id", "price")
    AggView.init(measure(1L to 200L), view, "id", "price", nBuckets = 8)
    capped("AggView.merge (copy-on-write)") {
      AggView.merge(spark, view, measure(190L to 210L), batchId = 1L)
    }
    capped("AggView.merge (merge-on-read)") {
      AggView.merge(spark, view, measure(5L to 25L), batchId = 2L,
        mergeOnRead = true)
    }
    assert(AggView.deltaStats(spark, view).nonEmpty)
    capped("AggView.compact")(AggView.compact(spark, view))
    assert(AggView.deltaStats(spark, view).isEmpty)
    capped("AggView.rebucket")(AggView.rebucket(spark, view, 16))
    assert(AggView.read(spark, view).count() == 210L)

    val table = s"$root/table"
    Compaction.init(rows(1L to 200L, 0L)
        .withColumn("ts", timestamp_seconds(col("id") * 86400L)),
      table, Seq("id"), "version", "deleted", 8)
    capped("Compaction.repartitionTime") {
      Compaction.repartitionTime(spark, table, Some("days" -> "ts"))
    }
    assert(Compaction.countRows(spark, table) == 200L)
  }
}
