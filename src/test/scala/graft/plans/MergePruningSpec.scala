package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.Compaction

/** SQL-transparent bucket pruning (graft.plans.MergePruning): plain
  * SQL over a view of the maintained merge table must scan exactly the
  * directories the programmatic lookup / readChangedSince APIs would —
  * asserted on the OPTIMIZED plan's file-index roots — while returning
  * byte-identical results, and must leave non-prunable plans alone.
  */
class MergePruningSpec extends SparkSpec {
  import spark.implicits._

  MergePruning.ensureRegistered(spark)

  private def scanDirs(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.toUri.getPath).toSeq
        case _ => Nil
      }
    }.flatten.toSet

  private def freshTable(): String = {
    val dir = tmpDir("merge-pruning") + "/t"
    Compaction.init(
      (1L to 100L).map(i => (i, s"v0-$i", 0L, false))
        .toDF("id", "payload", "version", "deleted"),
      dir, "id", "version", "deleted", nBuckets = 8)
    dir
  }

  private def view(dir: String, name: String): Unit =
    Compaction.read(spark, dir).createOrReplaceTempView(name)

  test("SQL point lookup scans exactly one bucket directory") {
    val dir = freshTable()
    view(dir, "mp_point")
    val df = spark.sql("SELECT payload FROM mp_point WHERE id = 7")
    assert(df.as[String].collect().toSeq == Seq("v0-7"))
    val dirs = scanDirs(df)
    assert(dirs.size == 1, s"expected 1 bucket dir, scanned $dirs")
    val live = Compaction.livePaths(spark, dir).values.toSet
    assert(dirs.subsetOf(live))
    // the scanned dir is the same one the programmatic lookup opens
    val lookedUp = Compaction.lookup(spark, dir, 7L).inputFiles
      .map(f => new java.net.URI(f).getPath).toSet
    assert(lookedUp.forall(f => dirs.exists(d => f.startsWith(d))))
  }

  test("SQL point lookup on a merge-on-read table prunes base AND delta dirs") {
    val dir = freshTable()
    // two scattered MoR merges: the table now has delta dirs the
    // pruning map must recognize (a pre-round-6 rule bailed on them)
    Compaction.merge(spark, dir,
      Seq((7L, "d1-7", 1L, false), (9L, "d1-9", 1L, false))
        .toDF("id", "payload", "version", "deleted"), mergeOnRead = true)
    Compaction.merge(spark, dir,
      Seq((7L, "d2-7", 2L, false)).toDF("id", "payload", "version", "deleted"),
      mergeOnRead = true)
    view(dir, "mp_mor")
    val df = spark.sql("SELECT payload FROM mp_mor WHERE id = 7")
    // the fold reconciles: latest delta wins
    assert(df.as[String].collect().toSeq == Seq("d2-7"))
    // every scanned dir belongs to key 7's bucket — base or delta;
    // no other bucket's directory opens anywhere in the plan (the
    // programmatic lookup's files define the bucket's dir set)
    val allowed = Compaction.lookup(spark, dir, 7L).inputFiles
      .map(f => new java.net.URI(f).getPath)
      .map(p => p.substring(0, p.lastIndexOf('/'))).toSet
    val dirs = scanDirs(df)
    assert(dirs.nonEmpty && dirs.subsetOf(allowed),
      s"scanned outside key 7's bucket: ${dirs -- allowed}")
    // a watermark query on the dirty table still answers correctly
    // (the version filter stays above the fold window — whole-bucket
    // key pruning is the only prune that reaches the dirty leg)
    val since = spark.sql(
      "SELECT id FROM mp_mor WHERE version > 1 ORDER BY id")
    assert(since.as[Long].collect().toSeq == Seq(7L))
  }

  test("null-safe equality (<=>) prunes like equality") {
    val dir = freshTable()
    view(dir, "mp_nse")
    val df = spark.sql("SELECT payload FROM mp_nse WHERE id <=> 7")
    assert(df.as[String].collect().toSeq == Seq("v0-7"))
    assert(scanDirs(df).size == 1)
  }

  test("SQL IN-list scans at most one bucket per literal") {
    val dir = freshTable()
    view(dir, "mp_in")
    val df = spark.sql(
      "SELECT id FROM mp_in WHERE id IN (7, 8, 9) ORDER BY id")
    assert(df.as[Long].collect().toSeq == Seq(7L, 8L, 9L))
    val dirs = scanDirs(df)
    assert(dirs.nonEmpty && dirs.size <= 3,
      s"IN-list of 3 keys should scan <= 3 buckets, scanned $dirs")
  }

  test("SQL version watermark rides the zone maps") {
    val dir = freshTable()
    val stats = Compaction.merge(spark,
      dir, Seq((7L, "v5-7", 5L, false), (8L, "v5-8", 5L, false))
        .toDF("id", "payload", "version", "deleted"))
    val live = Compaction.livePaths(spark, dir)
    val touchedDirs = stats.touchedBuckets.map(live).toSet
    view(dir, "mp_zone")

    val changed = spark.sql(
      "SELECT id FROM mp_zone WHERE version > 0 ORDER BY id")
    assert(changed.as[Long].collect().toSeq == Seq(7L, 8L))
    val dirs = scanDirs(changed)
    assert(dirs.nonEmpty && dirs.subsetOf(touchedDirs),
      s"watermark scan opened un-pruned dirs: $dirs vs $touchedDirs")
    assert(dirs.size < live.size)

    // watermark at the max prunes everything
    val none = spark.sql("SELECT id FROM mp_zone WHERE version > 5")
    assert(none.count() == 0L)
    assert(scanDirs(none).isEmpty,
      "fully-pruned watermark scan must hold zero directories")

    // equality uses BOTH ends of the envelope: only touched buckets
    // hold any version-5 row (untouched max out at 0)
    val exact = spark.sql(
      "SELECT id FROM mp_zone WHERE version = 5 ORDER BY id")
    assert(exact.as[Long].collect().toSeq == Seq(7L, 8L))
    assert(scanDirs(exact).subsetOf(touchedDirs))

    // and the min side prunes the below-range probe to zero dirs
    val below = spark.sql("SELECT id FROM mp_zone WHERE version < 0")
    assert(below.count() == 0L)
    assert(scanDirs(below).isEmpty)
  }

  test("conjunction intersects: key equality AND watermark") {
    val dir = freshTable()
    Compaction.merge(spark,
      dir, Seq((7L, "v5-7", 5L, false), (8L, "v5-8", 5L, false))
        .toDF("id", "payload", "version", "deleted"))
    view(dir, "mp_conj")
    val df = spark.sql(
      "SELECT payload FROM mp_conj WHERE id = 7 AND version > 0")
    assert(df.as[String].collect().toSeq == Seq("v5-7"))
    assert(scanDirs(df).size == 1)
    // a key that did NOT change: equality bucket ∩ zone-passing
    // buckets may be empty — the answer is empty with a minimal scan
    val unchanged = spark.sql(
      "SELECT payload FROM mp_conj WHERE id = 55 AND version > 4")
    assert(unchanged.count() == 0L)
    assert(scanDirs(unchanged).size <= 1)
  }

  test("disjunction unions bucket sets; an unprunable OR branch bails") {
    val dir = freshTable()
    view(dir, "mp_or")
    val live = Compaction.livePaths(spark, dir).values.toSet
    val df = spark.sql(
      "SELECT id FROM mp_or WHERE id = 4 OR id = 9 ORDER BY id")
    assert(df.as[Long].collect().toSeq == Seq(4L, 9L))
    val dirs = scanDirs(df)
    assert(dirs.nonEmpty && dirs.size <= 2,
      s"OR of two key literals should scan <= 2 buckets, scanned $dirs")
    // a branch pruning can't reason about could match anywhere: the
    // whole disjunction must scan everything
    val mixed = spark.sql(
      "SELECT id FROM mp_or WHERE id = 4 OR payload = 'v0-9' ORDER BY id")
    assert(mixed.as[Long].collect().toSeq == Seq(4L, 9L))
    assert(scanDirs(mixed) == live,
      "a disjunction with an unprunable branch must not prune")
  }

  test("BETWEEN on the version column rides both zone-map ends") {
    val dir = freshTable()
    Compaction.merge(spark, dir,
      Seq((7L, "v5-7", 5L, false)).toDF("id", "payload", "version", "deleted"))
    val stats2 = Compaction.merge(spark, dir,
      Seq((8L, "v9-8", 9L, false)).toDF("id", "payload", "version", "deleted"))
    view(dir, "mp_between")
    // BETWEEN analyzes to >= AND <=; [6, 10] excludes both the v0 mass
    // and the v5 bucket (unless 7 and 8 share one)
    val df = spark.sql(
      "SELECT id FROM mp_between WHERE version BETWEEN 6 AND 10")
    assert(df.as[Long].collect().toSeq == Seq(8L))
    val live = Compaction.livePaths(spark, dir)
    assert(scanDirs(df).subsetOf(stats2.touchedBuckets.map(live).toSet))
  }

  test("version IN-list keeps buckets whose envelope holds any literal") {
    val dir = freshTable()
    val s1 = Compaction.merge(spark, dir,
      Seq((7L, "v5-7", 5L, false)).toDF("id", "payload", "version", "deleted"))
    val s2 = Compaction.merge(spark, dir,
      Seq((8L, "v9-8", 9L, false)).toDF("id", "payload", "version", "deleted"))
    view(dir, "mp_vin")
    val df = spark.sql(
      "SELECT id FROM mp_vin WHERE version IN (5, 9) ORDER BY id")
    assert(df.as[Long].collect().toSeq == Seq(7L, 8L))
    val live = Compaction.livePaths(spark, dir)
    // only buckets a later-versioned merge touched can hold 5 or 9
    val touchedDirs = (s1.touchedBuckets ++ s2.touchedBuckets)
      .map(live).toSet
    assert(scanDirs(df).nonEmpty && scanDirs(df).subsetOf(touchedDirs),
      s"version IN probe opened un-pruned dirs: ${scanDirs(df)}")
    assert(scanDirs(df).size < live.size)
  }

  test("non-key predicates leave the scan unpruned (sound no-op)") {
    val dir = freshTable()
    view(dir, "mp_noop")
    val live = Compaction.livePaths(spark, dir).values.toSet
    val df = spark.sql("SELECT id FROM mp_noop WHERE payload = 'v0-7'")
    assert(df.as[Long].collect().toSeq == Seq(7L))
    assert(scanDirs(df) == live,
      "a non-key predicate must not prune anything")
  }

  test("Scd2 history views prune by key the same way") {
    val dir = tmpDir("merge-pruning-scd2") + "/t"
    graft.cdc.Scd2.init(
      (1L to 60L).map(i => (i, s"v0-$i", 0L, false))
        .toDF("id", "payload", "version", "deleted"),
      dir, "id", "version", "deleted", nBuckets = 8)
    graft.cdc.Scd2.merge(spark, dir,
      Seq((7L, "v1-7", 1L, false)).toDF("id", "payload", "version", "deleted"))
    graft.cdc.Scd2.read(spark, dir).createOrReplaceTempView("mp_scd2")
    val df = spark.sql(
      "SELECT payload, is_current FROM mp_scd2 WHERE id = 7 ORDER BY version")
    assert(df.as[(String, Boolean)].collect().toSeq ==
      Seq(("v0-7", false), ("v1-7", true)),
      "key 7's full history must come back")
    assert(scanDirs(df).size == 1,
      "a key's history lives in exactly one bucket")
  }

  test("AggView dashboards prune by key (no version column in manifest)") {
    val dir = tmpDir("merge-pruning-aggview") + "/v"
    graft.cdc.AggView.init(
      (1L to 60L).map(i => (i % 10, i.toDouble)).toDF("k", "v"),
      dir, "k", "v", nBuckets = 8)
    graft.cdc.AggView.read(spark, dir).createOrReplaceTempView("mp_agg")
    val df = spark.sql(
      "SELECT cnt, CAST(total AS DOUBLE) AS total FROM mp_agg WHERE k = 3")
    // keys 3,13,23,33,43,53 -> cnt 6, total 168
    assert(df.as[(Long, Double)].collect().toSeq == Seq((6L, 168.0)))
    assert(scanDirs(df).size == 1,
      "a view key's state lives in exactly one bucket")
  }

  test("timestamp version columns round-trip the zone maps (UTC session)") {
    val dir = tmpDir("merge-pruning-ts") + "/t"
    val base = (1L to 40L).map(i =>
      (i, s"v0-$i", java.sql.Timestamp.valueOf("2024-01-01 00:00:00.123456"),
        false))
      .toDF("id", "payload", "updated_at", "deleted")
    Compaction.init(base, dir, "id", "updated_at", "deleted", nBuckets = 8)
    val later = java.sql.Timestamp.valueOf("2024-06-01 12:34:56.789012")
    val stats = Compaction.merge(spark, dir,
      Seq((7L, "v1-7", later, false))
        .toDF("id", "payload", "updated_at", "deleted"))
    val live = Compaction.livePaths(spark, dir)
    val touchedDirs = stats.touchedBuckets.map(live).toSet

    // programmatic watermark scan: sub-second precision survives the
    // manifest's string round-trip
    val wm = java.sql.Timestamp.valueOf("2024-01-01 00:00:00.123456")
    val changed = Compaction.readChangedSince(spark, dir, wm)
    assert(changed.select($"id").as[Long].collect().toSeq == Seq(7L))
    val opened = changed.inputFiles
      .map(f => new java.net.URI(f).getPath).toSet
    assert(opened.forall(f => touchedDirs.exists(d => f.startsWith(d))),
      s"timestamp zone maps failed to prune: $opened vs $touchedDirs")

    // and through SQL (typed literal, same prune)
    view(dir, "mp_ts")
    val df = spark.sql("SELECT id FROM mp_ts WHERE updated_at > " +
      "TIMESTAMP '2024-01-01 00:00:00.123456'")
    assert(df.as[Long].collect().toSeq == Seq(7L))
    assert(scanDirs(df).subsetOf(touchedDirs))
    // a watermark beyond the max prunes all files
    val none = Compaction.readChangedSince(spark, dir, later)
    assert(none.count() == 0L && none.inputFiles.isEmpty)
  }

  // ---- time-partitioned tables (r10 item 1) --------------------------

  private def ts(day: Int, h: Int = 12): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")

  private def tpTable(): String = {
    val dir = tmpDir("merge-pruning-tp") + "/t"
    Compaction.init(
      (1L to 100L).map(i => (i, s"v0-$i", ts(1 + ((i - 1) % 20).toInt),
        0L, false))
        .toDF("id", "payload", "ts", "version", "deleted"),
      dir, Seq("id"), "version", "deleted", nBuckets = 8,
      clusterBy = Nil, feed = false,
      timePartition = Some("days" -> "ts"))
    dir
  }

  private def tpDays(dirs: Set[String]): Set[Int] =
    dirs.flatMap(d => "_tp=([0-9]+)".r.findFirstMatchIn(d)
      .map(_.group(1).toInt))

  test("time-partitioned registered table: point lookup pins one bucket") {
    val dir = tpTable()
    view(dir, "mp_tp_point")
    val df = spark.sql("SELECT payload FROM mp_tp_point WHERE id = 7")
    assert(df.as[String].collect().toSeq == Seq("v0-7"))
    // every scanned leaf belongs to key 7's ONE bucket
    val dirs = scanDirs(df)
    val bucketDirs = dirs.map(d => d.substring(0, d.lastIndexOf('/')))
    assert(dirs.nonEmpty && bucketDirs.size == 1,
      s"expected one bucket's leaves, scanned $dirs")
    // and the _tp level ALSO prunes inside the bucket: the filter's
    // equality on ts's twin is absent here, but the lookup's day is
    // known — the bucket holds ≤ 20 day dirs and the id=7 row sits in
    // exactly one, so scanning all of them is the correct bucket-only
    // prune (no ts predicate given)
    assert(tpDays(dirs).nonEmpty)
  }

  test("time-partitioned registered table: ts range opens only matching " +
      "_tp dirs, composing with key pruning") {
    val dir = tpTable()
    view(dir, "mp_tp_range")
    // 2024-01-01 = epoch day 19723
    def day(d: Int) = 19722 + d
    val df = spark.sql("SELECT id FROM mp_tp_range WHERE " +
      "ts >= TIMESTAMP '2024-01-03 00:00:00' AND " +
      "ts <= TIMESTAMP '2024-01-05 23:59:59' ORDER BY id")
    val expect = (1 to 100).filter(i => { val d = 1 + (i - 1) % 20
      d >= 3 && d <= 5 }).map(_.toLong)
    assert(df.as[Long].collect().toSeq == expect)
    assert(tpDays(scanDirs(df)) == Set(day(3), day(4), day(5)),
      scanDirs(df).toString)

    // composed: key ∧ range — one bucket AND one day
    val both = spark.sql("SELECT payload FROM mp_tp_range WHERE id = 3 " +
      "AND ts >= TIMESTAMP '2024-01-03 00:00:00' " +
      "AND ts <= TIMESTAMP '2024-01-03 23:59:59'")
    assert(both.as[String].collect().toSeq == Seq("v0-3"))
    val bothDirs = scanDirs(both)
    assert(bothDirs.size == 1 && tpDays(bothDirs) == Set(day(3)),
      bothDirs.toString)

    // IN of two days and OR of two ranges prune as interval unions
    val qIn = spark.sql("SELECT id FROM mp_tp_range WHERE ts IN (" +
      "TIMESTAMP '2024-01-04 12:00:00', TIMESTAMP '2024-01-17 12:00:00')")
    assert(qIn.as[Long].collect().toSet == (1 to 100).filter(i =>
      Set(4, 17).contains(1 + (i - 1) % 20)).map(_.toLong).toSet)
    assert(tpDays(scanDirs(qIn)) == Set(day(4), day(17)))
    val qOr = spark.sql("SELECT id FROM mp_tp_range WHERE " +
      "(ts BETWEEN TIMESTAMP '2024-01-02 00:00:00' AND " +
      "TIMESTAMP '2024-01-02 23:59:59') OR " +
      "(ts BETWEEN TIMESTAMP '2024-01-19 00:00:00' AND " +
      "TIMESTAMP '2024-01-19 23:59:59')")
    assert(tpDays(scanDirs(qOr)) == Set(day(2), day(19)))
    assert(qOr.as[Long].collect().toSet == (1 to 100).filter(i =>
      Set(2, 19).contains(1 + (i - 1) % 20)).map(_.toLong).toSet)
  }

  test("time-partitioned registered table: dirty buckets are never " +
      "range-pruned (no resurrection through SQL)") {
    val dir = tpTable()
    // key 7 (seed day 7) moves to day 18 at v1 as a MoR delta: its
    // bucket is dirty. A ts-range query over [day 1, day 10] must NOT
    // resurrect v0 of key 7 — the fold needs the full chain even
    // though v1's partition lies outside the queried range.
    Compaction.merge(spark, dir,
      Seq((7L, "moved", ts(18), 1L, false))
        .toDF("id", "payload", "ts", "version", "deleted"),
      mergeOnRead = true)
    view(dir, "mp_tp_dirty")
    val df = spark.sql("SELECT id FROM mp_tp_dirty WHERE " +
      "ts >= TIMESTAMP '2024-01-01 00:00:00' AND " +
      "ts <= TIMESTAMP '2024-01-10 23:59:59' ORDER BY id")
    val expect = (1 to 100).filter(i => { val d = 1 + (i - 1) % 20
      d <= 10 && i != 7 }).map(_.toLong)
    assert(df.as[Long].collect().toSeq == expect,
      "v0 of the moved key must not resurrect under a range query")
    // the prune is still live AND sound: clean buckets' leaves stay
    // within the queried days, while the dirty bucket (key 7's) keeps
    // its full history — including the out-of-range day-18 delta leaf
    val dirtyBucket = keyBucket(Seq(7L), 8)
    val all = spark.sql("SELECT id FROM mp_tp_dirty")
    val (dirtyLeaves, cleanLeaves) = scanDirs(df).partition(
      _.contains(s"/bucket=$dirtyBucket/"))
    assert(cleanLeaves.nonEmpty &&
      tpDays(cleanLeaves).forall(d => d >= 19723 && d <= 19732),
      s"clean-bucket leaves escaped the range: ${tpDays(cleanLeaves)}")
    assert(tpDays(dirtyLeaves).contains(19722 + 18),
      s"the dirty bucket must keep its full history: $dirtyLeaves")
    assert(scanDirs(df).size < scanDirs(all).size,
      "the range query must still prune overall")
  }

  test("cluster-column range predicates zone-prune buckets through " +
      "plain SQL; merge-on-read deltas keep their bucket (r12)") {
    val dir = tmpDir("merge-pruning-cluster") + "/t"
    // price = f(writer's own bucket hash): disjoint per-bucket ranges
    val rows = spark.range(400).selectExpr("id",
      "concat('v-', id) AS payload",
      "CAST(pmod(xxhash64(id), 8) * 100 + id % 50 AS DOUBLE) AS price",
      "0L AS version", "false AS deleted")
    Compaction.init(rows, dir, Seq("id"), "version", "deleted",
      nBuckets = 8, clusterBy = Seq("price"))
    view(dir, "mp_cluster")
    val df = spark.sql("SELECT id FROM mp_cluster " +
      "WHERE price >= 200.0 AND price < 250.0")
    assert(df.count() > 0)
    val dirs = scanDirs(df)
    assert(dirs.size == 1 && dirs.forall(_.contains("bucket=2")),
      s"price range [200, 250) lives in bucket 2 only, scanned $dirs")
    // a MoR delta makes its bucket unbounded: the dirty bucket stays
    // in every cluster zone pass, the others still prune
    Compaction.merge(spark, dir,
      spark.range(1).selectExpr("401L AS id", "'d' AS payload",
        "999999.0D AS price", "1L AS version", "false AS deleted"),
      mergeOnRead = true)
    view(dir, "mp_cluster")
    val df2 = spark.sql("SELECT id FROM mp_cluster " +
      "WHERE price >= 200.0 AND price < 250.0 ORDER BY id")
    val buckets2 = scanDirs(df2).flatMap(d =>
      "bucket=([0-9]+)".r.findFirstMatchIn(d).map(_.group(1)))
    assert(buckets2.contains("2") && buckets2.size <= 2,
      s"expected bucket 2 plus at most the dirty bucket: $buckets2")
    // values unaffected by pruning (the delta row's price is out of
    // range, so the result set is unchanged)
    assert(df2.as[Long].collect().toSeq ==
      df.as[Long].collect().toSeq.sorted)
  }

  test("SQL == programmatic API on the same predicates") {
    val dir = freshTable()
    Compaction.merge(spark,
      dir, Seq((7L, "v5-7", 5L, false), (40L, "", 5L, true))
        .toDF("id", "payload", "version", "deleted"))
    view(dir, "mp_equiv")
    val sqlRows = spark.sql(
      "SELECT id, payload FROM mp_equiv WHERE version > 0 ORDER BY id")
      .as[(Long, String)].collect().toSeq
    val apiRows = Compaction.readChangedSince(spark, dir, 0L)
      .select($"id", $"payload").orderBy($"id")
      .as[(Long, String)].collect().toSeq
    assert(sqlRows == apiRows && sqlRows == Seq((7L, "v5-7")))
  }

  test("re-init of the same dir (same version numbers, new generation) " +
      "does not serve the previous incarnation's cached prune map") {
    // a DROP+CREATE-style re-init restarts the manifest at v0 with a
    // fresh g0-<txn> generation: the rule's per-dir Info cache keyed
    // on version alone kept serving the OLD incarnation's bucket dirs,
    // so every in-session re-run of a prune-asserting query declined
    // to prune (r15: sql_cluster_leaf_prune failed reps 2-3 of the
    // bench for two rounds behind min-of-3's single-success report)
    val dir = tmpDir("merge-pruning-reinit") + "/t"
    def initOnce(): Unit = Compaction.init(
      (1L to 100L).map(i => (i, s"v0-$i", 0L, false))
        .toDF("id", "payload", "version", "deleted"),
      dir, "id", "version", "deleted", nBuckets = 8)
    initOnce()
    view(dir, "mp_reinit")
    val first = spark.sql("SELECT payload FROM mp_reinit WHERE id = 7")
    assert(first.as[String].collect().toSeq == Seq("v0-7"))
    assert(scanDirs(first).size == 1)
    // second incarnation: same version history shape, different txn
    initOnce()
    view(dir, "mp_reinit")
    val again = spark.sql("SELECT payload FROM mp_reinit WHERE id = 7")
    assert(again.as[String].collect().toSeq == Seq("v0-7"))
    val dirs = scanDirs(again)
    assert(dirs.size == 1,
      s"stale Info cache declined the prune after re-init: $dirs")
    val live = Compaction.livePaths(spark, dir).values.toSet
    assert(dirs.subsetOf(live),
      s"pruned scan read the previous generation: $dirs vs live $live")
  }
}
