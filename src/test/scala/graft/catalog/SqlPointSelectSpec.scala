package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkSpec
import graft.cdc.{AggView, Compaction, Scd2}

/** A catalog SELECT whose filters bind every key column and pin one
  * bucket plans a [[GraftPointScan]]: its `collect()` runs no Spark job and returns
  * the rows of a filter over the kind's full read, on every table shape
  * the point read serves (clean and merge-on-read buckets, tombstones,
  * NULL delete flags, composite keys, absent keys, retired time
  * partitions, time travel, renamed and added columns, SCD2 history,
  * min/max views). Any other filter, and an `IN` list spanning
  * buckets, keeps the batch scan.
  */
class SqlPointSelectSpec extends SparkSpec {

  import spark.implicits._

  private val NullFlag = null.asInstanceOf[java.lang.Boolean]

  private lazy val warehouse: String = {
    val w = tmpDir("graft-point-wh")
    spark.conf.set("spark.sql.catalog.gpt", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpt.warehouse", w)
    w
  }

  private def sqlc(q: String, s: SparkSession = spark): DataFrame = {
    warehouse
    s.sql(q)
  }

  private def scanOf(df: DataFrame) =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    }.getOrElse(fail(s"no scan in:\n${df.queryExecution.optimizedPlan}"))

  /** `SELECT <cols> FROM gpt.<table> WHERE <where>` plans a point scan,
    * collects with zero Spark jobs, and returns the rows of `all`
    * filtered by the same predicate. Returns the scan.
    */
  private def agrees(table: String, where: String, all: DataFrame,
      cols: String = "*", s: SparkSession = spark): GraftPointScan = {
    val ((got, scan, columns), jobs) = jobsOf {
      val df = sqlc(s"SELECT $cols FROM gpt.$table WHERE $where", s)
      (df.collect(), scanOf(df), df.columns.toSeq)
    }
    val point = scan match {
      case p: GraftPointScan => p
      case other => fail(s"$where planned $other, not a point scan")
    }
    assert(jobs == 0, s"$where ran $jobs Spark jobs")
    val want = all.filter(where).selectExpr(columns: _*).collect()
    assert(got.toSet == want.toSet && got.length == want.length,
      s"$where: got ${got.toSeq}, want ${want.toSeq}")
    point
  }

  /** The same select keeps the batch scan and still returns the rows. */
  private def batchAgrees(table: String, where: String,
      all: DataFrame): Unit = {
    val df = sqlc(s"SELECT * FROM gpt.$table WHERE $where")
    assert(scanOf(df).isInstanceOf[GraftScan], s"$where: ${scanOf(df)}")
    assert(df.collect().toSet == all.filter(where).collect().toSet, where)
  }

  /** A merge table whose delete flag is a nullable column, so that SQL
    * reads return a stored NULL flag as NULL, as the API reads do.
    */
  private def mergeTable(name: String, n: Int, nBuckets: Int = 16): String = {
    val dir = s"$warehouse/$name"
    Compaction.init((1L to n.toLong).map(i =>
        (i, s"v0-$i", 0L, java.lang.Boolean.FALSE))
      .toDF("id", "payload", "version", "deleted"),
      dir, "id", "version", "deleted", nBuckets)
    dir
  }

  /** `keys` in the order given, joined for an `IN` list. */
  private def inList(keys: Seq[Long]): String = keys.mkString("(", ", ", ")")

  /** `anchor`, then the other keys of `candidates` that hash into its
    * bucket.
    */
  private def sameBucket(anchor: Long, nBuckets: Int,
      candidates: Seq[Long]): Seq[Long] =
    anchor +: candidates.filter(k => k != anchor &&
      keyBucket(Seq(k), nBuckets) == keyBucket(Seq(anchor), nBuckets))

  private def bucketsOf(p: GraftPointScan): Set[Int] =
    p.plannedFiles.map(f =>
      "/bucket=([0-9]+)/".r.findFirstMatchIn(f._1).get.group(1).toInt).toSet

  test("=, <=> and IN on a single key read one bucket on the driver") {
    val dir = mergeTable("single", 200)
    Compaction.merge(spark, dir, Seq(
      (5L, "cow-5", 1L, java.lang.Boolean.FALSE),
      (6L, "", 1L, java.lang.Boolean.TRUE),
      (8L, "cow-8", 1L, NullFlag))
      .toDF("id", "payload", "version", "deleted"))
    val all = Compaction.read(spark, dir)
    val eq = agrees("single", "id = 7", all)
    assert(bucketsOf(eq) == Set(keyBucket(Seq(7L), 16)))
    agrees("single", "id = 8", all, cols = "payload")
    agrees("single", "id <=> 5", all)
    agrees("single", "id = 6", all) // the tombstone
    // an IN list within one bucket: the NULL-flag row, live peers and
    // a missing key
    val peers = sameBucket(8L, 16, 1L to 400L)
    val in = agrees("single",
      s"id IN ${inList(peers.take(3) ++ peers.filter(_ > 200).take(1))}",
      all, cols = "id, payload")
    assert(bucketsOf(in) == Set(keyBucket(Seq(8L), 16)))
    // one spanning buckets keeps the batch scan
    batchAgrees("single", "id IN (5, 6, 7, 8, 300)", all)
    agrees("single", "id = 999", all) // a missing key

    // a key whose bucket holds no file at all
    val sparse = mergeTable("sparse", 3)
    val live = Compaction.livePaths(spark, sparse).keySet
    val absent = (100L to 400L).find(k =>
      !live.contains(keyBucket(Seq(k), 16))).get
    val none = agrees("sparse", s"id = $absent", Compaction.read(spark, sparse))
    assert(none.plannedFiles.isEmpty)
  }

  test("contradictory bindings read nothing; other filters keep the " +
      "batch scan") {
    val dir = mergeTable("contra", 200)
    val all = Compaction.read(spark, dir)
    // the optimizer may already fold this one to an empty relation
    val (none, jobs) = jobsOf(
      sqlc("SELECT * FROM gpt.contra WHERE id = 7 AND id = 8").collect())
    assert(jobs == 0 && none.isEmpty)
    val p = agrees("contra", "id IN (7, 8) AND id IN (9, 10)", all)
    assert(p.plannedFiles.isEmpty)
    agrees("contra", "id IN (7, 8) AND id IN (8, 9)", all)
    agrees("contra", "id = 8 AND id IN (7, 8)", all)
    // a non-key conjunct, an over-cap IN list (16 buckets: cap 65) and
    // a range keep the batch scan, with every filter above it
    batchAgrees("contra", "id = 7 AND payload = 'v0-7'", all)
    batchAgrees("contra", "id = 7 AND payload = 'x'", all)
    batchAgrees("contra", s"id IN (${(1 to 70).mkString(", ")})", all)
    batchAgrees("contra", "id < 3", all)
  }

  test("composite keys: the whole tuple binds, part of it does not") {
    val dir = s"$warehouse/ck"
    Compaction.init((for (t <- Seq("t1", "t2"); i <- 1L to 40L)
        yield (t, i, s"$t-$i-v0", 0L, false))
      .toDF("tenant", "id", "payload", "version", "deleted"),
      dir, Seq("tenant", "id"), "version", "deleted", nBuckets = 8)
    Compaction.merge(spark, dir, Seq(
      ("t1", 7L, "t1-7-v1", 1L, false),
      ("t2", 9L, "", 1L, true),
      ("t3", 1L, "t3-1-v1", 1L, false))
      .toDF("tenant", "id", "payload", "version", "deleted"),
      mergeOnRead = true)
    val all = Compaction.read(spark, dir)
    val one = agrees("ck", "tenant = 't1' AND id = 7", all)
    assert(bucketsOf(one) == Set(keyBucket(Seq("t1", 7L), 8)))
    agrees("ck", "tenant = 't2' AND id = 9", all)
    batchAgrees("ck", "tenant IN ('t1', 't2', 't3') AND id IN (1, 9)", all)
    agrees("ck", "id = 1 AND tenant = 't3'", all, cols = "payload")
    batchAgrees("ck", "tenant = 't1'", all)
  }

  test("a merge-on-read dirty bucket folds tombstones and NULL flags") {
    val dir = mergeTable("mor", 200)
    Compaction.merge(spark, dir, Seq(
      (7L, "mor-7", 2L, java.lang.Boolean.FALSE),
      (9L, "", 2L, java.lang.Boolean.TRUE),
      (10L, "mor-10", 2L, NullFlag),
      (300L, "mor-300", 2L, NullFlag))
      .toDF("id", "payload", "version", "deleted"), mergeOnRead = true)
    Compaction.merge(spark, dir, Seq((7L, "mor2-7", 3L, false),
      (10L, "", 3L, true))
      .toDF("id", "payload", "version", "deleted"), mergeOnRead = true)
    assert(Compaction.deltaStats(spark, dir).nonEmpty)
    val all = Compaction.read(spark, dir)
    Seq(7L, 9L, 10L, 11L, 300L, 999L).foreach(k =>
      agrees("mor", s"id = $k", all))
    agrees("mor", s"id IN ${inList(sameBucket(9L, 16, 1L to 400L))}", all,
      cols = "payload")
    batchAgrees("mor", "id IN (7, 9, 10, 300)", all)
    assert(sqlc("SELECT payload FROM gpt.mor WHERE id = 7").as[String]
      .collect().toSeq == Seq("mor2-7"))
  }

  test("a time-partitioned table after dropPartitionsBefore") {
    def ts(day: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    val dir = s"$warehouse/tp"
    Compaction.init((1 to 100).map(i =>
        (i.toLong, s"p$i", ts(1 + (i - 1) % 20), 0L, false))
      .toDF("id", "payload", "ts", "version", "deleted"),
      dir, Seq("id"), "version", "deleted", nBuckets = 4, clusterBy = Nil,
      feed = false, timePartition = Some("days" -> "ts"))
    Compaction.merge(spark, dir, Seq(
      (5L, "moved", ts(18), 1L, false),
      (21L, "gone", ts(2), 1L, true),
      (201L, "new", ts(3), 1L, false))
      .toDF("id", "payload", "ts", "version", "deleted"),
      mergeOnRead = true)
    assert(Compaction.dropPartitionsBefore(spark, dir, ts(6)) > 0)
    val all = Compaction.read(spark, dir)
    Seq(1L, 5L, 6L, 21L, 201L).foreach(k => agrees("tp", s"id = $k", all))
    agrees("tp", s"id IN ${inList(sameBucket(21L, 4,
      Seq(1L, 2L, 5L, 6L, 21L, 26L, 45L, 201L)))}", all)
    batchAgrees("tp", "id IN (1, 2, 5, 6, 21, 26, 45, 201)", all)
  }

  test("VERSION AS OF reads the pinned manifest") {
    sqlc("""CREATE TABLE gpt.tt (id BIGINT, name STRING, version BIGINT,
        deleted BOOLEAN) TBLPROPERTIES ('keys'='id', 'buckets'='4')""")
    sqlc("""INSERT INTO gpt.tt SELECT id, concat('u', id), 0L, false
        FROM range(100)""")
    sqlc("INSERT INTO gpt.tt SELECT 5L, 'after', 1L, false")
    sqlc("INSERT INTO gpt.tt SELECT 6L, '', 1L, true")
    val dir = s"$warehouse/tt"
    // 5 and a key of its bucket that is live at version 1
    val in =
      s"id IN ${inList(sameBucket(5L, 4, 0L to 99L).filter(_ != 6L).take(2))}"
    val ((got, scan), jobs) = jobsOf {
      val df = sqlc(s"SELECT * FROM gpt.tt VERSION AS OF 1 WHERE $in")
      (df.collect(), scanOf(df))
    }
    val p = scan.asInstanceOf[GraftPointScan]
    assert(jobs == 0 && p.meta.version == 1L)
    assert(got.toSet == Compaction.readAsOf(spark, dir, 1L)
      .filter(in).collect().toSet && got.length == 2)
    val latest = agrees("tt", in, Compaction.read(spark, dir))
    agrees("tt", "id = 6", Compaction.read(spark, dir))
    assert(latest.meta.version > 1L)
  }

  test("after ALTER RENAME and ADD COLUMN the select reads every schema " +
      "epoch") {
    val dir = mergeTable("alt", 120, nBuckets = 8)
    Compaction.merge(spark, dir, Seq((3L, "pre-3", 1L, false))
      .toDF("id", "payload", "version", "deleted"), mergeOnRead = true)
    Compaction.alterSchema(spark, dir, Seq(
      Compaction.SchemaChange.RenameColumn("payload", "body")))
    Compaction.alterSchema(spark, dir, Seq(
      Compaction.SchemaChange.AddColumn("score",
        org.apache.spark.sql.types.DoubleType)))
    Compaction.merge(spark, dir, Seq(
      (4L, "post-4", 2L, false, 0.5),
      (3L, "post-3", 2L, false, 1.5),
      (500L, "post-500", 2L, false, 2.5))
      .toDF("id", "body", "version", "deleted", "score"),
      mergeOnRead = true)
    val all = Compaction.read(spark, dir)
    Seq(1L, 3L, 4L, 5L, 500L).foreach(k => agrees("alt", s"id = $k", all))
    agrees("alt", s"id IN ${inList(sameBucket(3L, 8, 1L to 500L).take(3))}",
      all, cols = "body, score")
    assert(sqlc("SELECT body, score FROM gpt.alt WHERE id = 3")
      .as[(String, Double)].collect().toSeq == Seq(("post-3", 1.5)))
  }

  test("Scd2 history and a min/max AggView select from the driver") {
    val hist = s"$warehouse/hist"
    def batch(rs: (Long, String, Long, Boolean)*) =
      rs.toDF("id", "payload", "version", "deleted")
    Scd2.init((1L to 100L).map(i => (i, s"v0-$i", 0L, false))
      .toDF("id", "payload", "version", "deleted"),
      hist, "id", "version", "deleted", 8)
    Scd2.merge(spark, hist, batch((5L, "cow-5", 1L, false),
      (6L, "", 1L, true)))
    Scd2.merge(spark, hist, batch((7L, "mor-7", 2L, false),
      (5L, "mor-5", 2L, false), (200L, "mor-200", 2L, false)),
      mergeOnRead = true)
    val histAll = Scd2.read(spark, hist)
    Seq(5L, 6L, 7L, 8L, 200L, 999L).foreach(k =>
      agrees("hist", s"id = $k", histAll))
    agrees("hist", s"id IN ${inList(sameBucket(5L, 8, 1L to 200L).take(3))}",
      histAll, cols = "payload, valid_to")

    val view = s"$warehouse/mm"
    AggView.init((1L to 60L).map(i => (i % 20, i.toDouble)).toDF("k", "v"),
      view, Seq("k"), "v", 8, 0L, minMax = true)
    AggView.merge(spark, view, Seq((3L, 500.0), (5L, -50.0), (30L, 7.0))
      .toDF("k", "v"), batchId = 1L, mergeOnRead = true)
    assert(AggView.deltaStats(spark, view).nonEmpty)
    val viewAll = AggView.read(spark, view)
    Seq(1L, 3L, 5L, 30L, 999L).foreach(k => agrees("mm", s"k = $k", viewAll))
    assert(sqlc("SELECT CAST(vmin AS DOUBLE), CAST(vmax AS DOUBLE) " +
        "FROM gpt.mm WHERE k = 5").as[(Double, Double)].collect().toSeq ==
      Seq((-50.0, 45.0)))
  }

  test("a select from a newSession() sibling plans under that session") {
    val dir = mergeTable("sib", 200)
    Compaction.merge(spark, dir, Seq((7L, "mor-7", 1L, false))
      .toDF("id", "payload", "version", "deleted"), mergeOnRead = true)
    val sibling = spark.newSession()
    sibling.conf.set("spark.sql.catalog.gpt", classOf[GraftCatalog].getName)
    sibling.conf.set("spark.sql.catalog.gpt.warehouse", warehouse)
    sibling.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(spark)
    try {
      val all = Compaction.read(spark, dir)
      Seq("id = 7", s"id IN ${inList(sameBucket(7L, 16, 1L to 400L))}")
          .foreach { where =>
        assert(agrees("sib", where, all, s = sibling).spark eq sibling)
      }
    } finally prev match {
      case Some(p) => SparkSession.setActiveSession(p)
      case None => SparkSession.clearActiveSession()
    }
  }

  test("a key-pinned select of _order is refused as streaming-only") {
    val dir = mergeTable("ord", 3)
    val live = Compaction.livePaths(spark, dir).keySet
    val absent = (100L to 400L).find(k =>
      !live.contains(keyBucket(Seq(k), 16))).get
    // a bucket with files, and one with none to read
    Seq("id = 2", s"id = $absent").foreach { where =>
      val e = intercept[IllegalArgumentException](
        sqlc(s"SELECT id, _order FROM gpt.ord WHERE $where").collect())
      assert(e.getMessage.contains("streaming-only"), s"$where: $e")
    }
  }

  test("a column dropped after analysis fails with the re-run message") {
    val dir = mergeTable("gone", 50, nBuckets = 4)
    val meta = ScanMeta.load(spark, dir, None)
    val required = StructType(Seq(StructField("id",
      org.apache.spark.sql.types.LongType), StructField("gone", StringType)))
    val scan = new GraftPointScan(spark, meta, None, required,
      Seq(Seq(Literal(7L))))
    val e = intercept[IllegalStateException](scan.rows())
    assert(e.getMessage.contains("changed since the query was analyzed"),
      e.getMessage)
  }
}
