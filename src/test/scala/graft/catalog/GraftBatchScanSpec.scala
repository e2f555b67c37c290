package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.Compaction

/** The native DSv2 Batch read path: catalog SELECTs plan a
  * `BatchScanExec` (no V1 Row-conversion bridge), full scans of a
  * compacted table read COLUMNAR, key-equality predicates prune the
  * planned file set to exactly the one bucket directory the
  * programmatic lookup would open, COUNT(*) short-circuits to
  * manifest stats with zero file partitions, and merge-on-read
  * buckets fold to the same answer the API read gives.
  */
class GraftBatchScanSpec extends SparkSpec {

  import spark.implicits._

  private lazy val warehouse: String = {
    val w = tmpDir("graft-batch-wh")
    spark.conf.set("spark.sql.catalog.gbatch",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbatch.warehouse", w)
    w
  }

  private def sqlc(q: String) = { warehouse; spark.sql(q) }

  private def scanOf(df: DataFrame): BatchScanExec = {
    def find(p: org.apache.spark.sql.execution.SparkPlan)
        : Option[BatchScanExec] = p.collectFirst {
      case b: BatchScanExec => b
    }.orElse(p.collectFirst {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => a
    }.flatMap(a => find(a.executedPlan)))
    find(df.queryExecution.executedPlan).getOrElse(
      fail(s"no BatchScanExec in:\n" +
        df.queryExecution.executedPlan.toString))
  }

  private def mkTable(name: String, rows: Int, buckets: Int): String = {
    sqlc(s"""CREATE TABLE gbatch.$name (
        id BIGINT, name STRING, version BIGINT, deleted BOOLEAN)
        TBLPROPERTIES ('keys'='id', 'buckets'='$buckets')""")
    sqlc(s"""INSERT INTO gbatch.$name
        SELECT id, concat('u', id), 0L, false FROM range($rows)""")
    s"$warehouse/$name"
  }

  test("catalog SELECT plans a native BatchScanExec, columnar when compacted") {
    mkTable("t1", 500, 8)
    val df = sqlc("SELECT * FROM gbatch.t1")
    val scan = scanOf(df)
    assert(scan.scan.isInstanceOf[GraftScan])
    // compacted table, atomic schema: the scan itself is columnar
    assert(scan.supportsColumnar,
      "full scan of a compacted table should read columnar batches")
    assert(!df.queryExecution.executedPlan.toString
      .contains("RowDataSourceScanExec"))
    assert(df.count() == 500)
  }

  test("key equality prunes the planned files to exactly one bucket dir") {
    val dir = mkTable("t2", 1000, 16)
    val df = sqlc("SELECT name FROM gbatch.t2 WHERE id = 7")
    val scan = scanOf(df)
    val parts = scan.inputRDD.partitions.length
    val files = scan.scan.asInstanceOf[GraftScan].toBatch
      .planInputPartitions().flatMap {
        case f: GraftCleanPartition => f.files.map(_.urlEncodedPath)
        case _ => Array.empty[String]
      }
    // the one bucket dir the programmatic lookup opens
    val bucket = keyBucket(Seq(7L), 16)
    val expectDir = Compaction.livePaths(spark, dir)(bucket)
    assert(files.nonEmpty && files.forall(_.contains(s"bucket=$bucket")),
      s"files $files should all be under bucket=$bucket")
    assert(files.forall(f =>
      java.net.URLDecoder.decode(f, "UTF-8").stripPrefix("file:")
        .startsWith(expectDir.stripPrefix("file:"))))
    assert(parts >= 1)
    assert(df.as[String].collect().toSeq == Seq("u7"))
  }

  test("version range predicate zone-map prunes untouched buckets") {
    mkTable("t3", 1000, 16)
    // touch a few keys at version 1: only their buckets' zone maps
    // now reach v1, the rest stay [0, 0]
    sqlc("INSERT INTO gbatch.t3 SELECT id, concat('v1-', id), 1L, false " +
      "FROM range(3)")
    Compaction.compact(spark, s"$warehouse/t3")
    val all = scanOf(sqlc("SELECT * FROM gbatch.t3")).scan
      .asInstanceOf[GraftScan].toBatch.planInputPartitions().length
    val pruned = scanOf(
      sqlc("SELECT * FROM gbatch.t3 WHERE version > 0")).scan
      .asInstanceOf[GraftScan].toBatch.planInputPartitions().length
    assert(pruned < all,
      s"zone maps should prune ($pruned !< $all)")
    assert(sqlc("SELECT * FROM gbatch.t3 WHERE version > 0").count() == 3)
  }

  test("COUNT(*) on a compacted table answers from manifest stats") {
    mkTable("t4", 750, 8)
    val df = sqlc("SELECT count(*) AS n FROM gbatch.t4")
    val scan = scanOf(df)
    assert(scan.scan.isInstanceOf[GraftStatsScan],
      s"expected manifest-stats count, got ${scan.scan}")
    assert(df.as[Long].head() == 750L)
    // upsert 5 existing + 10 new keys, still compacted: count tracks
    sqlc("INSERT INTO gbatch.t4 SELECT id, 'x', 1L, false " +
      "FROM range(745, 760)")
    assert(sqlc("SELECT count(*) AS n FROM gbatch.t4")
      .as[Long].head() == 760L)
    // a filter declines the pushdown and still answers right
    val filtered = sqlc("SELECT count(*) FROM gbatch.t4 WHERE id < 10")
    assert(scanOf(filtered).scan.isInstanceOf[GraftScan])
    assert(filtered.as[Long].head() == 10L)
  }

  test("MIN/MAX on the version column answer from zone maps") {
    mkTable("t8", 300, 8)
    sqlc("INSERT INTO gbatch.t8 SELECT 5L, 'x', 42L, false")
    val df = sqlc("""SELECT count(*) AS n, min(version) AS mn,
        max(version) AS mx FROM gbatch.t8""")
    assert(scanOf(df).scan.isInstanceOf[GraftStatsScan],
      s"expected manifest stats, got ${scanOf(df).scan}")
    assert(df.as[(Long, Long, Long)].head() == ((300L, 0L, 42L)))
    // min/max on a NON-version column declines and still answers
    val other = sqlc("SELECT max(id) AS m FROM gbatch.t8")
    assert(scanOf(other).scan.isInstanceOf[GraftScan])
    assert(other.as[Long].head() == 299L)
  }

  test("merge-on-read buckets fold in the reader; count pushdown declines") {
    val dir = mkTable("t5", 400, 8)
    // a merge-on-read commit: updates + a tombstone + a new key
    val changes = Seq((1L, "mor-1", 1L, false), (2L, "", 1L, true),
      (400L, "mor-new", 1L, false))
      .toDF("id", "name", "version", "deleted")
    Compaction.merge(spark, dir, changes, mergeOnRead = true)
    assert(graft.cdc.TxLog.latest(spark, dir).get.deltas.nonEmpty)

    val df = sqlc("SELECT id, name FROM gbatch.t5")
    val scan = scanOf(df)
    // mixed clean+fold partitions: scan goes row-wise but stays native
    assert(scan.scan.isInstanceOf[GraftScan])
    assert(!scan.supportsColumnar)
    val got = df.as[(Long, String)].collect().toMap
    assert(got.size == 400) // 400 - 1 tombstone + 1 new
    assert(got(1L) == "mor-1" && !got.contains(2L) &&
      got(400L) == "mor-new")

    // count(*) can't come from metadata while dirty — but is right
    val cnt = sqlc("SELECT count(*) AS n FROM gbatch.t5")
    assert(scanOf(cnt).scan.isInstanceOf[GraftScan])
    assert(cnt.as[Long].head() == 400L)

    // fold + key pruning compose: point lookup on a dirty bucket
    assert(sqlc("SELECT name FROM gbatch.t5 WHERE id = 1")
      .as[String].head() == "mor-1")

    // after compaction the same query is columnar again
    Compaction.compact(spark, dir)
    assert(scanOf(sqlc("SELECT * FROM gbatch.t5")).supportsColumnar)
    assert(scanOf(sqlc("SELECT count(*) AS n FROM gbatch.t5")).scan
      .isInstanceOf[GraftStatsScan])
  }

  test("time travel reads the pinned version through the native scan") {
    mkTable("t6", 100, 4)
    sqlc("INSERT INTO gbatch.t6 SELECT 5L, 'after', 1L, false")
    val v0 = sqlc("SELECT name FROM gbatch.t6 VERSION AS OF 1 WHERE id = 5")
    assert(scanOf(v0).scan.isInstanceOf[GraftScan])
    assert(v0.as[String].head() == "u5")
    assert(sqlc("SELECT name FROM gbatch.t6 WHERE id = 5")
      .as[String].head() == "after")
  }

  test("a scan plans under the session it is given, not the thread's " +
      "active session") {
    val dir = mkTable("t10", 200, 16)
    def session(keyed: Boolean): org.apache.spark.sql.SparkSession = {
      val s = spark.newSession()
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", keyed.toString)
      s
    }
    val (keyed, binned) = (session(keyed = true), session(keyed = false))
    def parts(caller: org.apache.spark.sql.SparkSession,
        active: org.apache.spark.sql.SparkSession): Int = {
      val prev = org.apache.spark.sql.SparkSession.getActiveSession
      org.apache.spark.sql.SparkSession.setActiveSession(active)
      try new GraftScan(caller, dir, None,
          org.apache.spark.sql.types.StructType(Seq()), Array.empty)
        .planInputPartitions().length
      finally prev match {
        case Some(p) => org.apache.spark.sql.SparkSession.setActiveSession(p)
        case None => org.apache.spark.sql.SparkSession.clearActiveSession()
      }
    }
    // bucket-keyed: one partition per bucket; bin-packed: the sixteen
    // small files share fewer
    assert(parts(keyed, binned) == 16)
    assert(parts(binned, keyed) < 16)
  }

  test("statistics: rows from manifest, size from pruned listing") {
    mkTable("t7", 300, 4)
    val scan = new GraftScan(spark, s"$warehouse/t7", None,
      org.apache.spark.sql.types.StructType(Seq()), Array.empty)
    val stats = scan.estimateStatistics()
    assert(stats.numRows().getAsLong == 300L)
    assert(stats.sizeInBytes().getAsLong > 0L)
  }
}
