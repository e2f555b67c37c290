package graft.cdc

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

import graft.io.NioLocalFileSystem

/** Example CLI driving the CDC engine end-to-end, mirroring the
  * reference's operational flow (`/root/reference/README.md:88-283`):
  * seed users → full export → stage changes → incremental export →
  * stage insert/update/delete → delta export. Usage:
  *
  *   sbt "runMain graft.cdc.CdcDemo /tmp/cdc-demo"
  */
object CdcDemo {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("cdc-demo").toString)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("cdc-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(NioLocalFileSystem.ConfKey, NioLocalFileSystem.ClassName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val usersDir = s"$root/users"
    val base = Timestamp.valueOf("2026-02-01 00:00:00")
    Seeder.users(spark, 10000, base).write.mode("overwrite").parquet(usersDir)
    println(s"seeded 10000 users -> $usersDir")

    val engine = new CdcEngine(spark, usersDir, s"$root/wm", s"$root/out")

    val full = engine.fullExport("demo-consumer")
    println(s"full:        $full")
    println(s"watermark:   ${engine.watermark("demo-consumer")}")

    // no changes yet -> empty incremental
    val inc0 = engine.incrementalExport("demo-consumer")
    println(s"incremental (no changes): $inc0")

    // stage: touch 5 rows + soft-delete 2 + insert 1 after the watermark
    val touchAt = Timestamp.valueOf("2026-02-02 12:00:00")
    val users = spark.read.parquet(usersDir)
    val staged = users
      .withColumn("updated_at",
        org.apache.spark.sql.functions.when($"id" <= 5, touchAt)
          .otherwise($"updated_at"))
      .withColumn("is_deleted",
        org.apache.spark.sql.functions.when($"id".isin(4L, 5L), true)
          .otherwise($"is_deleted"))
      .union(Seq(UserRow(99999L, "New User", "new@example.com",
        touchAt, touchAt, false)).toDF())
    val stagedDir = s"$root/users2"
    staged.write.mode("overwrite").parquet(stagedDir)
    val engine2 = new CdcEngine(spark, stagedDir, s"$root/wm", s"$root/out")

    val inc = engine2.incrementalExport("demo-consumer")
    println(s"incremental: $inc")

    // stage one more change, then delta-export it with op tags
    val delta = engine2.deltaExport("demo-consumer")
    println(s"delta (nothing new): $delta")

    // delta demo with all three op tags: consumer whose watermark predates
    // the staged changes (also probes filename sanitization of spaces)
    engine.fullExport("delta consumer")
    val delta2 = engine2.deltaExport("delta consumer")
    println(s"delta (tagged):  $delta2")
    if (delta2.rowsExported > 0) {
      println("delta csv:")
      scala.io.Source.fromFile(s"$root/out/${delta2.outputFilename}")
        .getLines().take(8).foreach(l => println(s"  $l"))
    }

    // streaming formulation: the users changelog dir as a file stream;
    // checkpoint offsets play the consumer watermark. First drain
    // exports everything; a resumed drain after appending one file
    // exports only that file's rows.
    val stream = new graft.streaming.CdcStream(
      spark, s"$root/chlog", s"$root/ckpt", s"$root/stream-out")
    Seq(UserRow(1L, "S One", "s1@example.com", touchAt, touchAt, false),
      UserRow(2L, "S Two", "s2@example.com", touchAt, touchAt, true))
      .toDF().coalesce(1).write.mode("append").parquet(s"$root/chlog")
    stream.deltaExport("stream-consumer").awaitTermination()
    Seq(UserRow(3L, "S Three", "s3@example.com", touchAt,
      Timestamp.valueOf("2026-02-03 00:00:00"), false))
      .toDF().coalesce(1).write.mode("append").parquet(s"$root/chlog")
    stream.deltaExport("stream-consumer").awaitTermination()
    println(s"streaming artifacts in $root/stream-out:")
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/stream-out"))
      .forEach { p =>
        println(s"  $p")
        scala.io.Source.fromFile(p.toFile).getLines()
          .foreach(l => println(s"    $l"))
      }

    println(s"artifacts in $root/out:")
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/out"))
      .forEach(p => println(s"  $p"))

    // ---- maintained-table segment: the lakehouse half of the engine.
    // A keyed MERGE table on the TxLog manifest, a change feed, a
    // replica tracking it, SQL point lookups through the pruning rule,
    // and a live bucket-count resize — each printing the observable a
    // user would check.
    import org.apache.spark.sql.functions.{col, lit}
    val tbl = s"$root/table"
    Compaction.init(
      spark.range(1, 1001).select(col("id"),
        org.apache.spark.sql.functions.concat(lit("v0-"), col("id"))
          .as("payload"),
        lit(0L).as("version"), lit(false).as("deleted")),
      tbl, "id", "version", "deleted", nBuckets = 16)
    val ms = Compaction.merge(spark,
      tbl, Seq((7L, "v1-7", 1L, false), (1001L, "v1-1001", 1L, false),
        (13L, "", 1L, true))
        .toDF("id", "payload", "version", "deleted"), emitFeed = true)
    println(s"merge: touched=${ms.touchedBuckets.size}/16 buckets, " +
      s"rows=${ms.rowsWritten}, feed=${ms.feedRows} events; " +
      s"count(*) from manifest alone = ${Compaction.countRows(spark, tbl)}")
    println(s"changed since watermark 0 (zone-map pruned): " +
      Compaction.readChangedSince(spark, tbl, 0L)
        .select(col("id")).as[Long].collect().sorted.mkString("[", ",", "]"))

    val replica = s"$root/replica"
    Replicator.init(spark, tbl, replica)
    Compaction.merge(spark, tbl,
      Seq((8L, "v2-8", 2L, false)).toDF("id", "payload", "version", "deleted"),
      emitFeed = true)
    val applied = Replicator.sync(spark, tbl, replica)
    println(s"replica: caught up $applied feed batch(es), " +
      s"now ${Compaction.countRows(spark, replica)} rows " +
      s"(source ${Compaction.countRows(spark, tbl)})")

    graft.plans.MergePruning.ensureRegistered(spark)
    Compaction.read(spark, tbl).createOrReplaceTempView("demo_users")
    val sqlHit = spark.sql(
      "SELECT payload FROM demo_users WHERE id = 7").as[String].collect()
    println(s"SQL point lookup (scans 1 of 16 bucket dirs): " +
      s"id=7 -> ${sqlHit.mkString}")

    Compaction.rebucket(spark, tbl, 64)
    println(s"rebucketed 16 -> 64: count still " +
      s"${Compaction.countRows(spark, tbl)}, lookup(7) -> " +
      Compaction.lookup(spark, tbl, 7L)
        .select(col("payload")).as[String].collect().mkString)

    // ---- round 6: merge-on-read (O(changes) scattered writes + lazy
    // compaction) and the SQL DML front door.
    val before = Compaction.countRows(spark, tbl)
    val mor = Compaction.merge(spark, tbl,
      Seq((21L, "mor-21", 3L, false), (22L, "mor-22", 3L, false),
        (1002L, "mor-1002", 3L, false))
        .toDF("id", "payload", "version", "deleted"),
      mergeOnRead = true)
    println(s"merge-on-read: wrote ${mor.rowsWritten} delta rows " +
      s"(no base rewrite), dirty buckets = " +
      s"${Compaction.deltaStats(spark, tbl).size}, folded read " +
      s"count = ${Compaction.countRows(spark, tbl)} (was $before)")
    Compaction.compact(spark, tbl)
    println(s"compact: dirty buckets now " +
      s"${Compaction.deltaStats(spark, tbl).size}, lookup(21) -> " +
      Compaction.lookup(spark, tbl, 21L)
        .select(col("payload")).as[String].collect().mkString)

    graft.plans.GraftTables.register(spark, "demo_tbl", tbl)
    Seq((7L, "sql-7", 9L, false), (2000L, "sql-2000", 9L, false),
      (8L, "", 9L, true))
      .toDF("id", "payload", "version", "deleted")
      .createOrReplaceTempView("demo_changes")
    graft.plans.GraftTables.sql(spark,
      """MERGE INTO demo_tbl USING demo_changes
        |ON demo_tbl.id = demo_changes.id
        |WHEN MATCHED AND demo_changes.deleted THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    graft.plans.GraftTables.sql(spark,
      "UPDATE demo_tbl SET payload = concat(payload, '!') WHERE id = 2000")
    println(s"SQL MERGE+UPDATE: lookup(7) -> " +
      spark.table("demo_tbl").where(col("id") === 7)
        .select(col("payload")).as[String].collect().mkString +
      s", inserted 2000 -> " +
      spark.table("demo_tbl").where(col("id") === 2000)
        .select(col("payload")).as[String].collect().mkString +
      s", deleted 8 present = " +
      spark.table("demo_tbl").where(col("id") === 8).count())

    // ---- round 7: the DSv2 catalog — CREATE/INSERT/SELECT/AS OF and
    // maintenance SQL with zero register() calls.
    spark.conf.set("spark.sql.catalog.demo", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.demo.warehouse", s"$root/warehouse")
    spark.sql("DROP TABLE IF EXISTS demo.users")
    spark.sql("""CREATE TABLE demo.users (
      id BIGINT, payload STRING, version BIGINT, deleted BOOLEAN)
      TBLPROPERTIES ('keys'='id', 'buckets'='8')""")
    spark.sql("INSERT INTO demo.users SELECT id, concat('cat-', id), 0L, false FROM range(100)")
    spark.sql("INSERT INTO demo.users SELECT 5L, 'cat-5b', 1L, false")
    val asOf = spark.sql(
      "SELECT payload FROM demo.users VERSION AS OF 1 WHERE id = 5")
      .as[String].collect().mkString
    val live = spark.sql("SELECT payload FROM demo.users WHERE id = 5")
      .as[String].collect().mkString
    val vacuumed = graft.plans.GraftTables.sql(spark,
      "VACUUM demo.users RETAIN 0 HOURS").collect().head.getInt(1)
    println(s"catalog: count=" +
      spark.sql("SELECT count(*) FROM demo.users").as[Long].head() +
      s", id=5 live=$live asof_v1=$asOf, VACUUM dropped $vacuumed versions")

    // round 8: schema evolution + standard-connector DML + co-located
    // joins, all through plain SQL against the catalog
    spark.sql("ALTER TABLE demo.users ADD COLUMN score DOUBLE")
    spark.sql("ALTER TABLE demo.users RENAME COLUMN payload TO label")
    spark.sql("UPDATE demo.users SET score = 9.5 WHERE id = 5")
    spark.sql("DELETE FROM demo.users WHERE id = 6")
    val altered = spark.sql(
      "SELECT label, score FROM demo.users WHERE id = 5")
      .as[(String, Option[Double])].head()
    val cntPlan = spark.sql("SELECT count(*) FROM demo.users")
    val zeroScan = cntPlan.queryExecution.executedPlan.toString
      .contains("GraftStatsScan")
    spark.sql("DROP TABLE IF EXISTS demo.segments")
    spark.sql("""CREATE TABLE demo.segments (id BIGINT, seg STRING,
      version BIGINT, deleted BOOLEAN)
      TBLPROPERTIES ('keys'='id', 'buckets'='8')""")
    spark.sql("INSERT INTO demo.segments SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END, 0L, false " +
      "FROM range(100)")
    val prevBc = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val spjQ = spark.sql("""SELECT s.seg, count(*) AS n
      FROM demo.users u JOIN demo.segments s ON u.id = s.id
      GROUP BY s.seg ORDER BY s.seg""")
    val spjRows = spjQ.as[(String, Long)].collect().toSeq
    val spjPlan = spjQ.queryExecution.executedPlan.toString
    val joinShuffleFree = {
      val i = spjPlan.indexOf("SortMergeJoin")
      i >= 0 && !spjPlan.substring(i).contains("Exchange hash")
    }
    prevBc match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    println(s"alter+dml: id=5 -> $altered (renamed column reads old " +
      s"bytes, v2 UPDATE wrote score), count(*) zero-scan=$zeroScan, " +
      s"rows=" + spark.sql("SELECT count(*) FROM demo.users")
        .as[Long].head())
    println(s"spj: co-bucketed join shuffle-free=$joinShuffleFree, " +
      s"segments=$spjRows")

    // round 9: the change data feed as a table property + the closed
    // replication loop through nothing but standard API — the source
    // opts in with TBLPROPERTIES('feed'='true'), a widened column
    // lands as a metadata-only ALTER, and readStream.table(src) →
    // writeStream.toTable(dst) drains the changelog into a replica
    spark.sql("DROP TABLE IF EXISTS demo.feed_src")
    spark.sql("DROP TABLE IF EXISTS demo.feed_dst")
    spark.sql("""CREATE TABLE demo.feed_src (id BIGINT, qty INT,
      version BIGINT, deleted BOOLEAN)
      TBLPROPERTIES ('keys'='id', 'buckets'='8', 'feed'='true')""")
    spark.sql("""CREATE TABLE demo.feed_dst (id BIGINT, qty BIGINT,
      version BIGINT, deleted BOOLEAN)
      TBLPROPERTIES ('keys'='id', 'buckets'='8')""")
    spark.sql(
      "INSERT INTO demo.feed_src SELECT id, CAST(id AS INT), 0L, false " +
        "FROM range(60)")
    spark.sql("ALTER TABLE demo.feed_src ALTER COLUMN qty TYPE BIGINT")
    spark.sql("""INSERT INTO demo.feed_src VALUES
      (3, 9000000000, 1, false), (7, 0, 1, true), (60, 42, 1, false)""")
    val ckpt = s"$root/feed-ckpt"
    val q = spark.readStream.table("demo.feed_src").writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("demo.feed_dst")
    q.awaitTermination()
    val srcN = spark.sql("SELECT count(*) FROM demo.feed_src")
      .as[Long].head()
    val dstN = spark.sql("SELECT count(*) FROM demo.feed_dst")
      .as[Long].head()
    val wide = spark.sql(
      "SELECT qty FROM demo.feed_dst WHERE id = 3").as[Long].head()
    println(s"feed: changelog stream replicated $dstN/$srcN rows " +
      s"(tombstone dropped id=7, widened qty(3)=$wide)")

    // round 11: metadata tables — commit history, live files, and the
    // change feed as a BATCH table with batch-dir pruning, from SQL
    val histN = spark.sql("SELECT count(*) FROM demo.feed_src.history")
      .as[Long].head()
    val fileN = spark.sql("SELECT count(*) FROM demo.feed_src.files")
      .as[Long].head()
    val chg = spark.sql("""SELECT _change_type, count(*) AS n
        FROM demo.feed_src.changes WHERE batch >= 1
        GROUP BY _change_type ORDER BY _change_type""")
      .as[(String, Long)].collect().toSeq
    println(s"meta: history=$histN commits, files=$fileN, " +
      s"changes(batch>=1)=${chg.mkString(",")}")

    // round 12: the dashboard aggregates that never touch the data —
    // AVG served from a materialized view's partials (bit-exact, the
    // rewrite asserted on the plan), BI day-cast predicates rewritten
    // to pruned raw ranges, and MIN/MAX of a cluster column answered
    // from the manifest's zone maps with zero file reads
    import org.apache.spark.sql.functions.{avg, count}
    graft.plans.MvRewrite.ensureRegistered(spark)
    spark.sql("DROP TABLE IF EXISTS demo.mvbase")
    spark.sql("""CREATE TABLE demo.mvbase (id BIGINT, grp BIGINT,
      amount DOUBLE, version BIGINT, deleted BOOLEAN)
      TBLPROPERTIES ('keys'='id', 'buckets'='8', 'feed'='true')""")
    spark.sql("""INSERT INTO demo.mvbase
      SELECT id, id % 5, CAST(id AS DOUBLE) / 4, 0L, false
      FROM range(1000)""")
    graft.plans.GraftTables.register(spark, "demo_mv_base",
      s"$root/warehouse/mvbase")
    graft.plans.GraftTables.sql(spark,
      """CREATE MATERIALIZED VIEW demo_amt_mv AS
        SELECT grp, count(*) AS cnt, sum(amount) AS total
        FROM demo_mv_base GROUP BY grp""")
    val avgQ = spark.table("demo_mv_base")
      .groupBy($"grp")
      // the AggView measure is the CAST shape (decimal(18,2)) — avg
      // and count must use it for the partials to serve
      .agg(avg($"amount".cast("decimal(18,2)")).as("avg_amt"),
        count($"amount".cast("decimal(18,2)")).as("n"))
    avgQ.queryExecution.optimizedPlan
    val servedFromView = graft.plans.Mv.readsView(avgQ,
      s"$root/warehouse/mvbase/_mv/demo_amt_mv")
    val avgLive = avgQ.filter($"grp" === 0L)
      .select($"avg_amt".cast("double")).as[Double].head()
    spark.sql("DROP TABLE IF EXISTS demo.clx")
    spark.sql("""CREATE TABLE demo.clx (id BIGINT, price DOUBLE,
      version BIGINT, deleted BOOLEAN)
      TBLPROPERTIES ('keys'='id', 'buckets'='8',
        'cluster_by'='price')""")
    spark.sql("""INSERT INTO demo.clx
      SELECT id, CAST(id AS DOUBLE) * 1.5, 0L, false FROM range(500)""")
    val mm = spark.sql(
      "SELECT min(price) AS mn, max(price) AS mx FROM demo.clx")
    val mmZeroScan = mm.queryExecution.executedPlan.toString
      .contains("GraftStatsScan")
    val (mn, mx) = mm.as[(Double, Double)].head()
    println(f"mv+stats: avg(amount) from view=$servedFromView " +
      f"(grp 0 avg=$avgLive%.2f), cluster min/max=[$mn%.1f, $mx%.1f] " +
      s"zero-scan=$mmZeroScan")

    // round 13: the first bad MERGE has a recovery story — RESTORE
    // re-points the table at the old version in one metadata commit
    // (no data copies; the bad version stays time-travelable), and
    // the feed epoch fences version-ordered consumers
    val rstDir = s"$root/restore-t"
    Compaction.init(
      (1L to 200L).map(i => (i, s"good-$i", 0L, false))
        .toDF("id", "payload", "version", "deleted"),
      rstDir, Seq("id"), "version", "deleted", nBuckets = 8,
      clusterBy = Nil, feed = true)
    Compaction.merge(spark, rstDir,
      (1L to 200L).map(i => (i, "CORRUPTED", 1L, false))
        .toDF("id", "payload", "version", "deleted"),
      retainHistory = true)
    val badCount = Compaction.read(spark, rstDir)
      .filter($"payload" === "CORRUPTED").count()
    graft.plans.GraftTables.register(spark, "demo_restore_t", rstDir)
    graft.plans.GraftTables.sql(spark,
      "RESTORE TABLE demo_restore_t TO VERSION 0")
    val goodAgain = Compaction.read(spark, rstDir)
      .filter($"payload".startsWith("good")).count()
    println(s"restore: bad merge corrupted $badCount rows -> " +
      s"RESTORE TO VERSION 0 brings back $goodAgain/200 good rows, " +
      s"feed epoch=${Compaction.feedEpoch(spark, rstDir)} " +
      s"(version-ordered consumers fenced), bad version still " +
      s"auditable=${Compaction.readAsOf(spark, rstDir, 1)
        .filter($"payload" === "CORRUPTED").count() == 200}")

    // round 14: (1) an append-only MIN/MAX view's full lifecycle —
    // serve from vmin/vmax partials, refuse + durably invalidate on
    // the first retraction, ALTER ... REBUILD re-seeds from the
    // current base; (2) a composed year+month equality tightens to
    // ONE time partition; (3) CREATE OR REPLACE ... AS SELECT swaps
    // the table in one op=replace commit with history intact.
    import org.apache.spark.sql.functions.{min => fmin, max => fmax, lit}
    val mmBase = s"$root/mm-base"
    Compaction.init(
      (1L to 300L).map(i => (i, i % 5, i.toDouble / 2, 0L, false))
        .toDF("id", "grp", "amount", "version", "deleted"),
      mmBase, Seq("id"), "version", "deleted", nBuckets = 8,
      clusterBy = Nil, feed = true)
    graft.plans.GraftTables.register(spark, "demo_mm_base", mmBase)
    graft.plans.GraftTables.sql(spark,
      """CREATE MATERIALIZED VIEW demo_mm_v AS
        SELECT grp, count(*) AS cnt, sum(amount) AS total,
          min(amount) AS vmin, max(amount) AS vmax
        FROM demo_mm_base GROUP BY grp""")
    def mmAgg = {
      val df = spark.table("demo_mm_base").groupBy($"grp")
        .agg(fmin($"amount".cast("decimal(18,2)")).as("mn"),
          fmax($"amount".cast("decimal(18,2)")).as("mx"),
          count($"amount".cast("decimal(18,2)")).as("nn"),
          count(lit(1)).as("n"))
      df.queryExecution.optimizedPlan
      df
    }
    val mmServed = graft.plans.Mv.readsView(mmAgg,
      s"$mmBase/_mv/demo_mm_v")
    // the first retraction (an UPDATE of key 5 — a pre-image event)
    Compaction.merge(spark, mmBase,
      Seq((5L, 0L, 999.0, 1L, false))
        .toDF("id", "grp", "amount", "version", "deleted"),
      retainHistory = true)
    graft.plans.GraftTables.refresh(spark, "demo_mm_base")
    val mmRefused =
      try { graft.plans.GraftTables.sql(spark,
        "REFRESH MATERIALIZED VIEW demo_mm_v"); false }
      catch { case _: Exception => true }
    val mmInvalid = !graft.plans.Mv.readsView(mmAgg,
      s"$mmBase/_mv/demo_mm_v")
    graft.plans.GraftTables.sql(spark,
      "ALTER MATERIALIZED VIEW demo_mm_v REBUILD")
    val mmServedAgain = graft.plans.Mv.readsView(mmAgg,
      s"$mmBase/_mv/demo_mm_v")
    val mmMax = mmAgg.filter($"grp" === 0L)
      .select($"mx".cast("double")).as[Double].head()
    println(s"mv-minmax: served=$mmServed -> retraction " +
      s"refused=$mmRefused invalid=$mmInvalid -> REBUILD " +
      f"served=$mmServedAgain (grp 0 max=$mmMax%.1f reflects the update)")

    // composed calendar conjunction -> ONE _tp dir on the SQL route
    val calDir = s"$root/cal-t"
    Compaction.init(
      (1L to 240L).map { i =>
        (i, java.sql.Timestamp.valueOf(
          f"2024-${1 + (i % 12).toInt}%02d-15 12:00:00"),
          i.toDouble, 0L, false)
      }.toDF("id", "ts", "v", "version", "deleted"),
      calDir, Seq("id"), "version", "deleted", nBuckets = 4,
      clusterBy = Nil, feed = false,
      timePartition = Some("months" -> "ts"))
    graft.plans.TimePredicateRewrite.ensureRegistered(spark)
    graft.plans.MergePruning.ensureRegistered(spark)
    graft.plans.GraftTables.register(spark, "demo_cal_t", calDir)
    val marchQ = spark.sql("""SELECT count(*) AS n FROM demo_cal_t
      WHERE year(ts) = 2024 AND month(ts) = 3""")
    val calTps = marchQ.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources
          .LogicalRelation => lr.relation match {
        case fsr: org.apache.spark.sql.execution.datasources
            .HadoopFsRelation =>
          fsr.location.rootPaths.toSeq.flatMap(p =>
            "_tp=([0-9]+)".r.findFirstMatchIn(p.toString)
              .map(_.group(1).toInt))
        case _ => Nil
      }
    }.flatten.toSet
    println(s"calendar: year=2024 AND month=3 composed to ONE month " +
      s"partition (reads ${calTps.size} _tp value(s)), rows=" +
      marchQ.as[Long].head())

    // atomic RTAS: one op=replace commit, history intact
    spark.sql("DROP TABLE IF EXISTS demo.rt")
    spark.sql("""CREATE TABLE demo.rt (
      id BIGINT, v BIGINT, version BIGINT, deleted BOOLEAN)
      TBLPROPERTIES ('keys'='id', 'buckets'='4')""")
    spark.sql("INSERT INTO demo.rt SELECT id, id, 0L, false FROM range(60)")
    spark.sql("""CREATE OR REPLACE TABLE demo.rt
      TBLPROPERTIES ('keys'='k', 'buckets'='2')
      AS SELECT id AS k, id * 10 AS tens, 0L AS version,
        false AS deleted FROM range(12)""")
    val rtNow = spark.sql("SELECT count(*) AS n FROM demo.rt")
      .as[Long].head()
    val rtOld = spark.sql(
      "SELECT count(*) AS n FROM demo.rt VERSION AS OF 1")
      .as[Long].head()
    println(s"replace: CREATE OR REPLACE swapped schema+keys in one " +
      s"op=replace commit -> now $rtNow rows, pre-replace VERSION AS " +
      s"OF 1 still reads $rtOld rows")
    spark.stop()
  }
}
