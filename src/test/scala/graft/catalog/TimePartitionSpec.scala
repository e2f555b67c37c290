package graft.catalog

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.{Compaction, TxLog}

/** Iceberg-style time partitions on maintained tables (r9 item 3):
  * `PARTITIONED BY (days(ts))` composes with bucket hashing —
  * `bucket=<b>/_tp=<day>` — so time-range scans prune partition dirs
  * by NAME, retention drops whole partitions as metadata-first
  * commits, and the catalog scan derives the day range from pushed
  * filters.
  */
class TimePartitionSpec extends SparkSpec {

  import spark.implicits._

  private def ts(day: Int, h: Int = 12): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")

  private def seed(n: Int): org.apache.spark.sql.DataFrame =
    (1 to n).map(i => (i.toLong, s"p$i", ts(1 + (i - 1) % 20), 0L, false))
      .toDF("id", "payload", "ts", "version", "deleted")

  /** Data files the executed plan's graft scan actually opened. */
  private def scanFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def collect(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => collect(a.executedPlan)
      case q: QueryStageExec => collect(q.plan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(collect)
    }
    collect(df.queryExecution.executedPlan).flatMap(
      _.inputPartitions.flatMap {
        case p: GraftCleanPartition =>
          p.files.map(_.filePath.toString).toSeq
        case _ => Nil
      })
  }

  private def tpDays(files: Seq[String]): Set[Int] = {
    val dayRe = "_tp=([0-9]+)".r
    files.flatMap(f => dayRe.findFirstMatchIn(f).map(_.group(1).toInt))
      .toSet
  }

  test("writes land as bucket/_tp dirs; range reads open only matching " +
      "partitions; merges preserve the layout and results stay exact") {
    val dir = tmpDir("tpart")
    Compaction.init(seed(200), dir, Seq("id"), "version", "deleted",
      nBuckets = 4, clusterBy = Nil, feed = false,
      timePartition = Some("days" -> "ts"))
    // merge: move key 5 to day 18 at v1, add key 201 on day 3
    Compaction.merge(spark, dir,
      Seq((5L, "moved", ts(18), 1L, false),
        (201L, "new", ts(3), 1L, false))
        .toDF("id", "payload", "ts", "version", "deleted"))
    val out = Compaction.readTimeRange(spark, dir, ts(3, 0), ts(5, 23))
    val opened = out.inputFiles
    val dayRe = "_tp=([0-9]+)".r
    // 2024-01-03 = epoch day 19725
    assert(opened.nonEmpty && opened.forall(f =>
      dayRe.findFirstMatchIn(f).exists { m =>
        val d = m.group(1).toInt; d >= 19725 && d <= 19727
      }), opened.mkString("\n"))
    assert(opened.length < Compaction.read(spark, dir).inputFiles.length)
    val got = out.select($"id").as[Long].collect().toSet
    val truth = Compaction.read(spark, dir)
      .filter($"ts" >= ts(3, 0) && $"ts" <= ts(5, 23))
      .select($"id").as[Long].collect().toSet
    assert(got == truth)
    assert(got.contains(201L) && !got.contains(5L),
      "the merge's moves must be partition-visible")
  }

  test("dropPartitionsBefore retires partitions metadata-first: counts " +
      "stay exact, the floor fences reads, dirs delete after") {
    val dir = tmpDir("tpart2")
    Compaction.init(seed(200), dir, Seq("id"), "version", "deleted",
      nBuckets = 4, clusterBy = Nil, feed = false,
      timePartition = Some("days" -> "ts"))
    val before = Compaction.countRows(spark, dir)
    assert(before == 200L)
    val expectDropped = Compaction.read(spark, dir)
      .filter($"ts" < ts(6, 0)).count()
    val retired = Compaction.dropPartitionsBefore(spark, dir, ts(6, 0))
    assert(retired > 0, "expected partition dirs to retire")
    // manifest-only count stays exact after the subtraction
    assert(Compaction.countRows(spark, dir) == before - expectDropped)
    assert(Compaction.read(spark, dir).count() == before - expectDropped)
    // the floor is durable and reads fence on it even if dirs linger:
    // re-create a stale dir below the floor — reads must not resurrect
    val fs = TxLog.fs(spark, dir)
    val snap = TxLog.latest(spark, dir).get
    assert(snap.prop("tp_min").exists(_.toInt == 19728), // 2024-01-06
      snap.prop("tp_min").toString)
    val someBucket = snap.buckets.values.head
    fs.mkdirs(new org.apache.hadoop.fs.Path(
      s"$dir/data/$someBucket/_tp=19723"))
    assert(Compaction.read(spark, dir).count() == before - expectDropped)
    // retiring below the recorded floor is a no-op
    assert(Compaction.dropPartitionsBefore(spark, dir, ts(3, 0)) == 0)
    // maintain drives the same path by age (cutoff in the future here:
    // everything left retires)
    val (_, _) = Compaction.maintain(spark, dir,
      maxPartitionAge = java.time.Duration.ofDays(1))
    assert(Compaction.countRows(spark, dir) == 0L)
    assert(Compaction.read(spark, dir).count() == 0L)
  }

  test("a dirty bucket's fold input is never range-pruned: a newer " +
      "out-of-range version must not resurrect the old row") {
    val w = tmpDir("tpart-mor-wh")
    spark.conf.set("spark.sql.catalog.gtpm", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtpm.warehouse", w)
    spark.sql("""CREATE TABLE gtpm.ev (
        id BIGINT, payload STRING, ts TIMESTAMP, version BIGINT,
        deleted BOOLEAN)
        PARTITIONED BY (days(ts))
        TBLPROPERTIES ('keys'='id', 'buckets'='2')""")
    Seq((1L, "old", ts(10), 0L, false), (2L, "keep", ts(10), 0L, false))
      .toDF("id", "payload", "ts", "version", "deleted")
      .writeTo("gtpm.ev").append()
    // key 1 moves OUT of the queried range via a merge-on-read delta
    // (the delta file lands in _tp=Jan-20; the stale base row stays in
    // _tp=Jan-10 — exactly the shape a range prune on the fold input
    // would resurrect)
    Compaction.merge(spark, s"$w/ev",
      Seq((1L, "moved", ts(20), 1L, false))
        .toDF("id", "payload", "ts", "version", "deleted"),
      mergeOnRead = true, retainHistory = true)
    val got = spark.sql(
      "SELECT id FROM gtpm.ev WHERE ts >= TIMESTAMP '2024-01-09 00:00:00' " +
        "AND ts <= TIMESTAMP '2024-01-11 00:00:00'")
      .as[Long].collect().toSet
    assert(got == Set(2L),
      s"the superseded in-range row resurrected: $got")
    // and the programmatic range read agrees
    val got2 = Compaction.readTimeRange(spark, s"$w/ev", ts(9, 0),
      ts(11, 0)).select($"id").as[Long].collect().toSet
    assert(got2 == Set(2L), got2.toString)
  }

  test("a NULL partition-source value fails the write loudly") {
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: causes(t.getCause)
    // a failed staged write reclaims its own staging dir at once
    // instead of leaving it for the orphan-grace sweep
    def assertNoStaging(dir: String): Unit = {
      val left = Option(new java.io.File(dir).list()).toSeq.flatten
        .filter(_.startsWith(".staging"))
      assert(left.isEmpty, s"failed write left ${left.mkString(", ")}")
    }
    val nullTs = null.asInstanceOf[java.sql.Timestamp]
    val dir = tmpDir("tpart-null")
    val e = intercept[Exception] {
      Compaction.init(
        Seq((1L, "a", nullTs, 0L, false))
          .toDF("id", "payload", "ts", "version", "deleted"),
        dir, Seq("id"), "version", "deleted", nBuckets = 2,
        clusterBy = Nil, feed = false,
        timePartition = Some("days" -> "ts"))
    }
    assert(causes(e).exists(m => m != null && m.contains("must not be null")),
      causes(e).mkString(" | "))
    assertNoStaging(dir)

    // the same refusal on a merge into a live table, which keeps its
    // committed state
    val live = tmpDir("tpart-null-merge")
    Compaction.init(seed(4), live, Seq("id"), "version", "deleted",
      nBuckets = 2, clusterBy = Nil, feed = false,
      timePartition = Some("days" -> "ts"))
    val v0 = Compaction.version(spark, live)
    val em = intercept[Exception] {
      Compaction.merge(spark, live,
        Seq((2L, "b", nullTs, 1L, false))
          .toDF("id", "payload", "ts", "version", "deleted"))
    }
    assert(causes(em).exists(m => m != null && m.contains("must not be null")),
      causes(em).mkString(" | "))
    assertNoStaging(live)
    assert(Compaction.version(spark, live) == v0)
    assert(Compaction.countRows(spark, live) == 4L)
  }

  test("years transform and the RETIRE PARTITIONS SQL verb") {
    val dir = tmpDir("tpart-yr")
    Compaction.init(
      Seq((1L, "a", java.sql.Timestamp.valueOf("2022-06-01 00:00:00"),
          0L, false),
        (2L, "b", java.sql.Timestamp.valueOf("2024-06-01 00:00:00"),
          0L, false))
        .toDF("id", "payload", "ts", "version", "deleted"),
      dir, Seq("id"), "version", "deleted", nBuckets = 2,
      clusterBy = Nil, feed = false,
      timePartition = Some("years" -> "ts"))
    val fs = TxLog.fs(spark, dir)
    val snap = TxLog.latest(spark, dir).get
    val dirs = snap.buckets.values.flatMap(rel =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/data/$rel"))
        .map(_.getPath.getName)).toSet
    assert(dirs == Set("_tp=52", "_tp=54"), dirs.toString) // 2022, 2024
    graft.plans.GraftTables.register(spark, "tpart_yr", dir)
    val out = graft.plans.GraftTables.sql(spark,
      "RETIRE PARTITIONS tpart_yr BEFORE TIMESTAMP '2023-01-01 00:00:00'")
    assert(out.select("partitions_retired").as[Int].head() == 1)
    assert(Compaction.read(spark, dir)
      .select($"id").as[Long].collect().toSet == Set(2L))
    assert(Compaction.countRows(spark, dir) == 1L)
  }

  test("merge-on-read retirement folds ONLY the buckets holding doomed " +
      "partitions; untouched delta chains stay byte-intact") {
    val dir = tmpDir("tpart3")
    val bucketOf = (k: Long) => keyBucket(Seq(k), 4)
    // every seed row lives ABOVE the cut (day >= 10) except key 1's
    // v0 at day 2 (superseded below) and key 3's at day 3 (a live row
    // retention genuinely retires)
    val rows = (1L to 40L).map(i =>
      (i, s"p$i", i match {
        case 1L => ts(2)
        case 3L => ts(3)
        case _ => ts(10 + (i % 8).toInt)
      }, 0L, false))
    Compaction.init(rows.toDF("id", "payload", "ts", "version", "deleted"),
      dir, Seq("id"), "version", "deleted",
      nBuckets = 4, clusterBy = Nil, feed = false,
      timePartition = Some("days" -> "ts"))
    // key 1's latest version moves it to day 12 (kept range) as a MoR
    // delta: retiring day 2 without folding would delete the bucket's
    // doomed base rows while winners still reference them — v0/v1
    // reconciliation must happen BEFORE the partition drop
    Compaction.merge(spark, dir,
      Seq((1L, "moved", ts(12), 1L, false))
        .toDF("id", "payload", "ts", "version", "deleted"),
      mergeOnRead = true)
    // a second dirty bucket with NO doomed partitions anywhere (its
    // bucket must hold neither key 1's nor key 3's below-cut rows)
    val other = (2L to 40L).find(k => k != 3L &&
      bucketOf(k) != bucketOf(1L) && bucketOf(k) != bucketOf(3L)).get
    Compaction.merge(spark, dir,
      Seq((other, "late", ts(19), 1L, false))
        .toDF("id", "payload", "ts", "version", "deleted"),
      mergeOnRead = true)
    val before = TxLog.latest(spark, dir).get
    assert(before.deltas.keySet ==
      Set(bucketOf(1L), bucketOf(other)))
    val truth = Compaction.read(spark, dir)
      .filter($"ts" >= ts(6, 0)).select($"id").as[Long].collect().toSet
    val retired = Compaction.dropPartitionsBefore(spark, dir, ts(6, 0))
    assert(retired > 0)
    val after = TxLog.latest(spark, dir).get
    // O(affected): the doomed-partition bucket folded, the unaffected
    // dirty bucket's delta chain survives byte-identically
    assert(!after.deltas.contains(bucketOf(1L)),
      "the bucket holding a doomed partition must have folded")
    assert(after.deltas.get(bucketOf(other)) ==
      before.deltas.get(bucketOf(other)),
      "unaffected delta chain must survive byte-intact")
    // correctness: key 1's v0 (doomed day) must NOT resurrect, and the
    // manifest count stays exact
    val got = Compaction.read(spark, dir).select($"id").as[Long]
      .collect().toSet
    assert(got == truth, s"got $got != $truth")
    assert(Compaction.read(spark, dir).filter($"id" === 1L)
      .select($"payload").as[String].collect().toSeq == Seq("moved"))
    assert(Compaction.countRows(spark, dir) == truth.size.toLong)
  }

  test("partition-spec evolution: none→days→months→none as committed " +
      "rewrites; state, feed numbering and pruning all follow") {
    val dir = tmpDir("tpart-evo")
    Compaction.init(seed(100), dir, Seq("id"), "version", "deleted",
      nBuckets = 4, clusterBy = Nil, feed = true)
    Compaction.merge(spark, dir,
      Seq((101L, "new", ts(4), 1L, false))
        .toDF("id", "payload", "ts", "version", "deleted"))
    def state() = Compaction.read(spark, dir)
      .select($"id", $"payload", $"ts").orderBy($"id")
      .as[(Long, String, java.sql.Timestamp)].collect().toSeq
    val truth = state()
    val nfb = TxLog.latest(spark, dir).get.counter("next_feed_batch")
    assert(nfb == 1L)
    graft.plans.GraftTables.register(spark, "tpart_evo", dir)

    // none → days
    val out = graft.plans.GraftTables.sql(spark,
      "ALTER TABLE tpart_evo SET PARTITION SPEC (days(ts))")
    assert(out.select("partition_spec").as[String].head() == "days(ts)")
    assert(state() == truth, "evolution must be state-preserving")
    assert(TxLog.latest(spark, dir).get.counter("next_feed_batch") == nfb,
      "feed numbering must survive the rewrite")
    // pruning now live in the NEW granularity
    val ranged = Compaction.readTimeRange(spark, dir, ts(4, 0), ts(4, 23))
    assert(ranged.inputFiles.nonEmpty &&
      ranged.inputFiles.forall(_.contains(s"_tp=${19722 + 4}")),
      ranged.inputFiles.mkString("\n"))
    assert(ranged.select($"id").as[Long].collect().toSet ==
      truth.filter(r => r._3.getTime >= ts(4, 0).getTime &&
        r._3.getTime <= ts(4, 23).getTime).map(_._1).toSet)
    // merges keep the evolved layout
    Compaction.merge(spark, dir,
      Seq((102L, "post-evo", ts(6), 1L, false))
        .toDF("id", "payload", "ts", "version", "deleted"))
    assert(Compaction.readTimeRange(spark, dir, ts(6, 0), ts(6, 23))
      .filter($"id" === 102L).count() == 1L)
    // the feed now holds a FLAT pre-evolution batch (0) and a
    // `_tp=`-nested post-evolution one (1): readFeed reads both
    val feed = Compaction.readFeed(spark, dir)
    assert(feed.select($"batch").distinct().as[Int].collect().toSet ==
      Set(0, 1), "mixed-layout feed must read every batch")
    assert(feed.filter($"batch" === 1 && $"id" === 102L).count() == 1L)

    // days → months (granularity change): 2024-01 = (2024-1970)*12 = 648
    graft.plans.GraftTables.sql(spark,
      "ALTER TABLE tpart_evo SET PARTITION SPEC (months(ts))")
    val fs = TxLog.fs(spark, dir)
    val snap = TxLog.latest(spark, dir).get
    val tpDirsNow = snap.buckets.values.flatMap(rel =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/data/$rel"))
        .map(_.getPath.getName)).toSet
    assert(tpDirsNow == Set("_tp=648"), tpDirsNow.toString)
    val truth2 = state()
    assert(truth2.map(_._1) == (truth.map(_._1) :+ 102L).sorted)

    // a FAILED evolution (null-deriving partition source) aborts the
    // whole rewrite and leaves the committed layout byte-intact
    intercept[Exception] {
      Compaction.repartitionTime(spark, dir, Some("days" -> "payload"))
    }
    assert(state() == truth2, "failed rewrite must leave the table as-is")
    assert(TxLog.latest(spark, dir).get.prop("tp_unit")
      .contains("months"))

    // months → none: the spec drops, _tp level disappears
    graft.plans.GraftTables.sql(spark,
      "ALTER TABLE tpart_evo DROP PARTITION SPEC")
    assert(state() == truth2)
    val snap2 = TxLog.latest(spark, dir).get
    assert(snap2.prop("tp_unit").isEmpty && snap2.prop("tp_col").isEmpty)
    val leaves = snap2.buckets.values.flatMap(rel =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/data/$rel"))
        .map(_.getPath.getName))
    assert(!leaves.exists(_.startsWith("_tp=")), leaves.toString)
    intercept[IllegalArgumentException] {
      Compaction.readTimeRange(spark, dir, ts(1, 0), ts(20, 23))
    }
  }

  test("catalog: CREATE PARTITIONED BY (days(ts)), pushed ts filters " +
      "prune partition dirs in the scan plan") {
    val w = tmpDir("tpart-wh")
    spark.conf.set("spark.sql.catalog.gtp", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtp.warehouse", w)
    spark.sql("""CREATE TABLE gtp.ev (
        id BIGINT, payload STRING, ts TIMESTAMP, version BIGINT,
        deleted BOOLEAN)
        PARTITIONED BY (days(ts))
        TBLPROPERTIES ('keys'='id', 'buckets'='4')""")
    seed(200).writeTo("gtp.ev").append()
    val q = spark.sql(
      "SELECT count(*) AS n, CAST(SUM(id) AS BIGINT) AS s FROM gtp.ev " +
        s"WHERE ts >= TIMESTAMP '2024-01-03 00:00:00' " +
        s"AND ts <= TIMESTAMP '2024-01-05 23:00:00'")
    val pruned = scanFiles(q)
    // the unfiltered twin (id >= -1 defeats the zero-scan COUNT
    // pushdown without pruning anything)
    val all = scanFiles(spark.sql(
      "SELECT count(*) AS n FROM gtp.ev WHERE id >= -1"))
    val dayRe = "_tp=([0-9]+)".r
    assert(pruned.nonEmpty && pruned.size < all.size,
      s"${pruned.size} of ${all.size}")
    assert(pruned.forall(f => dayRe.findFirstMatchIn(f).exists { m =>
      val d = m.group(1).toInt; d >= 19725 && d <= 19727
    }), pruned.mkString("\n"))
    // and the answer is exact
    val (n, s) = q.as[(Long, Long)].head()
    val ids = (1 to 200).filter(i => { val d = 1 + (i - 1) % 20
      d >= 3 && d <= 5 })
    assert(n == ids.size && s == ids.map(_.toLong).sum, (n, s).toString)
  }

  test("catalog: IN-list and OR-of-ranges on the partition column " +
      "prune as interval unions") {
    val w = tmpDir("tpart-wh2")
    spark.conf.set("spark.sql.catalog.gtp2", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtp2.warehouse", w)
    spark.sql("""CREATE TABLE gtp2.ev (
        id BIGINT, payload STRING, ts TIMESTAMP, version BIGINT,
        deleted BOOLEAN)
        PARTITIONED BY (days(ts))
        TBLPROPERTIES ('keys'='id', 'buckets'='4')""")
    seed(200).writeTo("gtp2.ev").append()
    // 2024-01-01 = epoch day 19723
    def day(d: Int) = 19722 + d

    // IN: two point timestamps → exactly their two partitions open
    val qIn = spark.sql(
      "SELECT id FROM gtp2.ev WHERE ts IN (" +
        "TIMESTAMP '2024-01-04 12:00:00', " +
        "TIMESTAMP '2024-01-17 12:00:00')")
    assert(tpDays(scanFiles(qIn)) == Set(day(4), day(17)),
      tpDays(scanFiles(qIn)).toString)
    val inIds = qIn.as[Long].collect().toSet
    assert(inIds == (1 to 200).filter(i =>
      Set(4, 17).contains(1 + (i - 1) % 20)).map(_.toLong).toSet)

    // OR of two BETWEEN ranges → the union of the two day intervals
    val qOr = spark.sql(
      "SELECT id FROM gtp2.ev WHERE " +
        "(ts BETWEEN TIMESTAMP '2024-01-02 00:00:00' " +
        "AND TIMESTAMP '2024-01-03 23:59:59') OR " +
        "(ts BETWEEN TIMESTAMP '2024-01-18 00:00:00' " +
        "AND TIMESTAMP '2024-01-19 23:59:59')")
    assert(tpDays(scanFiles(qOr)) ==
      Set(day(2), day(3), day(18), day(19)),
      tpDays(scanFiles(qOr)).toString)
    assert(qOr.as[Long].collect().toSet == (1 to 200).filter(i =>
      Set(2, 3, 18, 19).contains(1 + (i - 1) % 20)).map(_.toLong).toSet)

    // an OR with an unconstrained branch must NOT prune
    val qLoose = spark.sql(
      "SELECT id FROM gtp2.ev WHERE " +
        "ts >= TIMESTAMP '2024-01-19 00:00:00' OR payload = 'p1'")
    assert(tpDays(scanFiles(qLoose)) == (1 to 20).map(day).toSet)
    assert(qLoose.as[Long].collect().toSet == (1 to 200).filter(i =>
      1 + (i - 1) % 20 >= 19 || i == 1).map(_.toLong).toSet)
  }

  test("day-cast predicate prunes catalog _tp dirs: the rewrite " +
      "emits the raw range and the strict upper bound drops the " +
      "boundary partition (r12)") {
    val w = tmpDir("tpart-cast-wh")
    spark.conf.set("spark.sql.catalog.tpcast",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.tpcast.warehouse", w)
    spark.sql("""CREATE TABLE tpcast.t (
        id BIGINT, ts TIMESTAMP, version BIGINT, deleted BOOLEAN)
        PARTITIONED BY (days(ts))
        TBLPROPERTIES ('keys'='id', 'buckets'='4')""")
    spark.sql("""INSERT INTO tpcast.t SELECT id,
        timestamp'2024-01-10 06:00:00' +
          make_interval(0,0,0,CAST(id % 4 AS INT)),
        0L, false FROM range(200)""")
    val added = Seq(graft.plans.TimePredicateRewrite)
      .filterNot(spark.experimental.extraOptimizations.contains)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations ++ added
    try {
      // CAST(ts AS DATE) = d rewrites to [midnight, midnight+1d) on
      // the raw column; the strict < lands exactly on day 19734's
      // boundary, which tpStrictUpper excludes — ONE _tp dir planned
      val df = spark.sql("SELECT id FROM tpcast.t " +
        "WHERE CAST(ts AS DATE) = DATE '2024-01-11'")
      assert(df.count() == 50L) // ids with id % 4 == 1 (UTC session)
      val days = tpDays(scanFiles(df))
      assert(days == Set(19733),
        s"expected the single day partition 19733, planned $days")
    } finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(added.contains)
  }

  test("leaf-level cluster zone maps prune _tp dirs through the " +
      "catalog scan (r13)") {
    // cl is correlated with the DAY: day d holds cl in
    // [d*100, d*100+50), so every bucket's fold spans all days
    // (bucket-level cluster pruning keeps every bucket) and only the
    // per-(bucket, leaf) bounds can prune — the predicate carries no
    // time column at all
    val wh = tmpDir("cluster-leaf-wh")
    spark.conf.set("spark.sql.catalog.gclx",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gclx.warehouse", wh)
    spark.sql("""CREATE TABLE gclx.lt (
      id BIGINT, cl BIGINT, ts TIMESTAMP, version BIGINT,
      deleted BOOLEAN)
      PARTITIONED BY (days(ts))
      TBLPROPERTIES ('keys'='id', 'buckets'='4', 'cluster_by'='cl')""")
    spark.sql("""INSERT INTO gclx.lt
      SELECT id, (1 + id % 5) * 100 + id % 50,
        make_timestamp(2024, 1, CAST(1 + id % 5 AS INT), 12, 0, 0),
        0L, false FROM range(200)""")
    val q = spark.sql(
      "SELECT id FROM gclx.lt WHERE cl >= 300 AND cl < 350")
    assert(q.as[Long].collect().toSet ==
      (0L until 200L).filter(_ % 5 == 2).toSet)
    val days = tpDays(scanFiles(q))
    // 2024-01-03 = epoch day 19725: the only leaf [300, 350) can hit
    assert(days == Set(19725),
      s"cluster range must prune to the single matching leaf, " +
        s"planned $days")
    // and the leaf prune composes with a time bound on the OTHER side
    val both = spark.sql("""SELECT id FROM gclx.lt
      WHERE cl >= 300 AND cl < 350 AND ts >= TIMESTAMP '2024-01-01'""")
    assert(tpDays(scanFiles(both)) == Set(19725))
  }

  test("leaf-level VERSION zone maps prune _tp dirs through the " +
      "catalog scan (r14)") {
    // version is correlated with the DAY (backfill day d committed at
    // version d), so every bucket's [minv, maxv] envelope spans all
    // days and only the per-(bucket, leaf) vminl/vmaxl bounds can
    // prune — the predicate carries no time column at all
    val wh = tmpDir("version-leaf-wh")
    spark.conf.set("spark.sql.catalog.gvlx",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gvlx.warehouse", wh)
    spark.sql("""CREATE TABLE gvlx.vt (
      id BIGINT, v BIGINT, ts TIMESTAMP, version BIGINT,
      deleted BOOLEAN)
      PARTITIONED BY (days(ts))
      TBLPROPERTIES ('keys'='id', 'buckets'='4')""")
    spark.sql("""INSERT INTO gvlx.vt
      SELECT id, id * 3,
        make_timestamp(2024, 1, CAST(1 + id % 5 AS INT), 12, 0, 0),
        CAST(1 + id % 5 AS BIGINT), false FROM range(200)""")
    val q = spark.sql("SELECT id FROM gvlx.vt WHERE version = 3")
    assert(q.as[Long].collect().toSet ==
      (0L until 200L).filter(_ % 5 == 2).toSet)
    val days = tpDays(scanFiles(q))
    // 2024-01-03 = epoch day 19725: only that leaf holds version 3
    assert(days == Set(19725),
      s"version equality must prune to the single matching leaf, " +
        s"planned $days")
    // range shape too: version >= 5 lives only in day 5
    val range = spark.sql("SELECT id FROM gvlx.vt WHERE version >= 5")
    assert(tpDays(scanFiles(range)) == Set(19727),
      s"version range must prune leaves, planned " +
        s"${tpDays(scanFiles(range))}")
  }
}
