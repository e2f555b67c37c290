package graft.cdc

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The driver-local point read behind [[Compaction.lookup]],
  * [[Compaction.lookupMany]], [[Scd2.lookup]] and [[AggView.lookup]]:
  * zero Spark jobs on clean, dirty and absent buckets; the same rows
  * as a filter over the kind's full read on every table shape the
  * catalog scan plans (merge-on-read chains, tombstones, NULL delete
  * flags, composite keys, renamed and added columns, retired time
  * partitions, an SCD2 retention floor, min/max partials); the
  * caller's session, not the thread's active one; key values cast to
  * the key column's type; and every file closed when a read fails.
  */
class PointLookupSpec extends SparkSpec {

  import spark.implicits._

  private val NullFlag = null.asInstanceOf[java.lang.Boolean]

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  /** `lookup(k)` == `read().filter(key = k)` and `lookupMany(ks)` ==
    * `read().filter(key IN ks)`, each collected with zero Spark jobs.
    */
  private def agrees(dir: String, keyCols: Seq[String],
      keys: Seq[Seq[Any]], s: SparkSession = spark): Unit = {
    def pred(t: Seq[Any]) = keyCols.zip(t).map { case (c, v) =>
      col(c) === lit(v) }.reduce(_ && _)
    val all = Compaction.read(s, dir)
    def arg(t: Seq[Any]): Any = if (t.size == 1) t.head else t
    keys.foreach { t =>
      val (got, jobs) = jobsOf(Compaction.lookup(s, dir, arg(t)).collect())
      assert(jobs == 0, s"lookup($t) ran $jobs Spark jobs")
      assert(got.toSet == rows(all.filter(pred(t))), s"lookup($t)")
    }
    val (many, jobs) =
      jobsOf(Compaction.lookupMany(s, dir, keys.map(arg)).collect())
    assert(jobs == 0, s"lookupMany ran $jobs Spark jobs")
    assert(many.toSet == rows(all.filter(keys.map(pred).reduce(_ || _))),
      "lookupMany")
  }

  private def mergeTable(n: Int, nBuckets: Int = 16): String = {
    val dir = tmpDir("point-lookup") + "/t"
    Compaction.init((1L to n.toLong).map(i => (i, s"v0-$i", 0L, false))
      .toDF("id", "payload", "version", "deleted"),
      dir, "id", "version", "deleted", nBuckets)
    dir
  }

  test("lookups on clean, merge-on-read and absent buckets run no job " +
      "and match a filtered read") {
    val dir = mergeTable(200)
    // copy-on-write: an update, a tombstone and a NULL-flag upsert land
    // in clean buckets
    Compaction.merge(spark, dir, Seq(
      (5L, "cow-5", 1L, java.lang.Boolean.FALSE),
      (6L, "", 1L, java.lang.Boolean.TRUE),
      (8L, "cow-8", 1L, NullFlag))
      .toDF("id", "payload", "version", "deleted"))
    // merge-on-read: the same shapes plus an insert stay as deltas
    Compaction.merge(spark, dir, Seq(
      (7L, "mor-7", 2L, java.lang.Boolean.FALSE),
      (9L, "", 2L, java.lang.Boolean.TRUE),
      (10L, "mor-10", 2L, NullFlag),
      (300L, "mor-300", 2L, NullFlag))
      .toDF("id", "payload", "version", "deleted"), mergeOnRead = true)
    Compaction.merge(spark, dir, Seq((7L, "mor2-7", 3L, false))
      .toDF("id", "payload", "version", "deleted"), mergeOnRead = true)
    assert(Compaction.deltaStats(spark, dir).nonEmpty)
    agrees(dir, Seq("id"),
      Seq(1L, 5L, 6L, 7L, 8L, 9L, 10L, 11L, 200L, 300L, 999L).map(Seq(_)))
    assert(Compaction.lookup(spark, dir, 7L).select("payload")
      .as[String].collect().toSeq == Seq("mor2-7"))
    assert(Compaction.lookup(spark, dir, 10L).count() == 1L,
      "a NULL delete flag is live")

    // a key whose bucket holds no files at all
    val sparse = mergeTable(3)
    val live = Compaction.livePaths(spark, sparse).keySet
    val absent = (100L to 400L).find(k =>
      !live.contains(keyBucket(Seq(k), 16))).get
    val (got, jobs) = jobsOf(Compaction.lookup(spark, sparse, absent))
    assert(jobs == 0 && got.collect().isEmpty && got.inputFiles.isEmpty)
    agrees(sparse, Seq("id"), Seq(Seq(absent), Seq(2L)))
    val (none, noneJobs) = jobsOf(Compaction.lookupMany(spark, sparse, Nil)
      .collect())
    assert(noneJobs == 0 && none.isEmpty)
  }

  test("composite keys: tuple lookups agree with a filtered read") {
    val dir = tmpDir("point-lookup-ck") + "/t"
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
    agrees(dir, Seq("tenant", "id"), Seq(Seq("t1", 7L), Seq("t2", 7L),
      Seq("t2", 9L), Seq("t3", 1L), Seq("t3", 2L), Seq("t1", 40L)))
  }

  test("after ALTER RENAME and ALTER ADD COLUMN the lookup reads every " +
      "schema epoch") {
    val dir = mergeTable(120, nBuckets = 8)
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
    agrees(dir, Seq("id"), Seq(1L, 2L, 3L, 4L, 5L, 119L, 500L).map(Seq(_)))
    assert(Compaction.lookup(spark, dir, 3L).select("body", "score")
      .as[(String, Double)].collect().toSeq == Seq(("post-3", 1.5)))
    assert(Compaction.lookup(spark, dir, 5L).select("body")
      .as[String].collect().toSeq == Seq("v0-5"))
  }

  test("a time-partitioned table with retired partitions") {
    def ts(day: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    val dir = tmpDir("point-lookup-tp") + "/t"
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
    // 1-4 and 201 sat in retired days; 5 moved out of one; 21 is gone.
    // Each bucket holds one file per live day: the eight keys' four
    // buckets are about sixty files, still read on the driver.
    agrees(dir, Seq("id"),
      Seq(1L, 2L, 5L, 6L, 21L, 26L, 45L, 201L).map(Seq(_)))
    assert(Compaction.lookup(spark, dir, 1L).collect().isEmpty)
    assert(Compaction.lookup(spark, dir, 5L).select("payload")
      .as[String].collect().toSeq == Seq("moved"))
  }

  test("a lookup reads under the caller's session, not the thread's " +
      "active session") {
    val dir = mergeTable(200)
    Compaction.merge(spark, dir, Seq((7L, "mor-7", 1L, false))
      .toDF("id", "payload", "version", "deleted"), mergeOnRead = true)
    // the sessions differ in how a scan lays out its partitions
    // (bucket-keyed or bin-packed) and in the parquet decoder
    def session(keyed: Boolean): SparkSession = {
      val s = spark.newSession()
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", keyed.toString)
      s.conf.set("spark.sql.parquet.enableVectorizedReader",
        keyed.toString)
      s
    }
    val (keyed, binned) = (session(keyed = true), session(keyed = false))
    def withActive[T](s: SparkSession)(body: => T): T = {
      val prev = SparkSession.getActiveSession
      SparkSession.setActiveSession(s)
      try body
      finally prev match {
        case Some(p) => SparkSession.setActiveSession(p)
        case None => SparkSession.clearActiveSession()
      }
    }
    Seq(keyed -> binned, binned -> keyed).foreach { case (caller, active) =>
      withActive(active)(agrees(dir, Seq("id"),
        Seq(7L, 8L, 999L).map(Seq(_)), caller))
    }
  }

  test("a lookup value of another JVM type is cast to the key column's " +
      "type, and a lossy one is refused") {
    val dir = mergeTable(200)
    assert(Compaction.lookup(spark, dir, 7).select("payload")
      .as[String].collect().toSeq == Seq("v0-7"))
    assert(Compaction.lookupMany(spark, dir, Seq(7, 8, 9)).select("id")
      .as[Long].collect().toSet == Set(7L, 8L, 9L))
    assert(Compaction.lookup(spark, dir, "7").count() == 1L)
    Seq[Any](7.5, "abc").foreach { v =>
      val e = intercept[IllegalArgumentException](
        Compaction.lookup(spark, dir, v))
      assert(e.getMessage.contains("'id'"), e.getMessage)
      intercept[IllegalArgumentException](
        Compaction.lookupMany(spark, dir, Seq(7L, v)))
    }
  }

  test("the driver read closes every file it opened, also when it fails") {
    val fdDir = new java.io.File("/proc/self/fd")
    assume(fdDir.isDirectory, "needs /proc/self/fd to list open files")
    val dir = mergeTable(200)
    val root = new java.io.File(dir).getCanonicalPath
    def openUnderTable(): Seq[String] =
      Option(fdDir.listFiles()).toSeq.flatten.flatMap(f =>
        scala.util.Try(java.nio.file.Files.readSymbolicLink(f.toPath)
          .toString).toOption)
        .filter(_.startsWith(root))
    val files = Compaction.lookup(spark, dir, 7L).inputFiles
      .map(f => new java.net.URI(f).getPath)
    assert(files.nonEmpty && openUnderTable().isEmpty)
    // overwrite the payload column's pages: the footer, the key
    // column's stats and dictionary, and the page indexes all still
    // read, so the reader opens the file and fails mid-read, on the
    // first payload page header. The checksum sidecars go, so the
    // failure is the parquet decoder's.
    files.foreach { f =>
      import scala.jdk.CollectionConverters._
      val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        new org.apache.hadoop.conf.Configuration(),
        new org.apache.hadoop.fs.Path(f),
        org.apache.parquet.format.converter.ParquetMetadataConverter
          .NO_FILTER)
      val chunk = footer.getBlocks.get(0).getColumns.asScala
        .find(_.getPath.toDotString == "payload").get
      val raf = new java.io.RandomAccessFile(f, "rw")
      try {
        raf.seek(chunk.getStartingPos)
        raf.write(Array.fill(chunk.getTotalSize.toInt)(0xFF.toByte))
      } finally raf.close()
      val file = new java.io.File(f)
      new java.io.File(file.getParent, s".${file.getName}.crc").delete()
    }
    intercept[Exception](Compaction.lookup(spark, dir, 7L))
    val leaked = openUnderTable()
    assert(leaked.isEmpty, s"files left open: ${leaked.mkString(", ")}")
  }

  /** `lookup(k)` equals `all.filter(key = k)`, runs no Spark job, and
    * names files of k's bucket only.
    */
  private def pointAgrees(all: DataFrame, key: String, nBuckets: Int,
      keys: Seq[Long])(lookup: Long => DataFrame): Unit =
    keys.foreach { k =>
      val ((got, files), jobs) = jobsOf {
        val df = lookup(k)
        (df.collect(), df.inputFiles)
      }
      assert(jobs == 0, s"lookup($k) ran $jobs Spark jobs")
      assert(got.toSet == rows(all.filter(col(key) === k)), s"lookup($k)")
      val buckets = files.map(f =>
        "/bucket=([0-9]+)/".r.findFirstMatchIn(f).get.group(1).toInt).toSet
      assert(buckets.subsetOf(Set(keyBucket(Seq(k), nBuckets))),
        s"lookup($k) read buckets $buckets")
    }

  test("Scd2.lookup reads one bucket on the driver: clean, merge-on-read " +
      "and across an expire floor") {
    val dir = tmpDir("point-lookup-scd2") + "/h"
    def batch(rs: (Long, String, Long, Boolean)*) =
      rs.toDF("id", "payload", "version", "deleted")
    Scd2.init((1L to 100L).map(i => (i, s"v0-$i", 0L, false))
      .toDF("id", "payload", "version", "deleted"),
      dir, "id", "version", "deleted", 8)
    Scd2.merge(spark, dir, batch((5L, "cow-5", 1L, false),
      (6L, "", 1L, true)))
    Scd2.merge(spark, dir, batch((7L, "mor-7", 2L, false),
      (5L, "mor-5", 2L, false), (200L, "mor-200", 2L, false)),
      mergeOnRead = true)
    assert(Scd2.deltaStats(spark, dir).nonEmpty)
    val keys = Seq(5L, 6L, 7L, 8L, 200L, 999L)
    pointAgrees(Scd2.read(spark, dir), "id", 8, keys)(
      Scd2.lookup(spark, dir, _))
    assert(Scd2.lookup(spark, dir, 5L).count() == 3L)

    // retire the history superseded at version 1, then replay a
    // pre-floor change into a delta: reads drop what expire dropped
    assert(Scd2.expireHistoryBefore(spark, dir, 1L) > 0L)
    Scd2.merge(spark, dir, batch((5L, "v0-5", 0L, false),
      (8L, "mor-8", 3L, false)), mergeOnRead = true)
    assert(Scd2.deltaStats(spark, dir).nonEmpty)
    pointAgrees(Scd2.read(spark, dir), "id", 8, keys)(
      Scd2.lookup(spark, dir, _))
    assert(Scd2.lookup(spark, dir, 5L).select("payload").as[String]
      .collect().toSet == Set("cow-5", "mor-5"))
    assert(Scd2.lookup(spark, dir, 6L).collect().isEmpty)
  }

  test("AggView.lookup reads one bucket on the driver: clean and " +
      "merge-on-read, min/max partials included") {
    val dir = tmpDir("point-lookup-agg") + "/v"
    def batch(rs: (Long, Double)*) = rs.toDF("k", "v")
    AggView.init((1L to 60L).map(i => (i % 20, i.toDouble)).toDF("k", "v"),
      dir, Seq("k"), "v", 8, 0L, minMax = true)
    AggView.merge(spark, dir, batch((3L, 100.0), (4L, -5.0)), batchId = 1L)
    AggView.merge(spark, dir, batch((3L, 500.0), (5L, -50.0),
      (30L, 7.0)), batchId = 2L, mergeOnRead = true)
    AggView.merge(spark, dir, batch((5L, 0.5)), batchId = 3L,
      mergeOnRead = true)
    assert(AggView.deltaStats(spark, dir).nonEmpty)
    pointAgrees(AggView.read(spark, dir), "k", 8,
      Seq(1L, 3L, 4L, 5L, 30L, 999L))(AggView.lookup(spark, dir, _))
    assert(AggView.lookup(spark, dir, 5L)
      .select(col("vmin").cast("double"), col("vmax").cast("double"))
      .as[(Double, Double)].collect().toSeq == Seq((-50.0, 45.0)))
  }
}
