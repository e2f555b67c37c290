package graft.catalog

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.{AggView, Scd2}

/** Catalog routing by `table_type`: Scd2 history and AggView dashboard
  * tables under a warehouse are SELECTable by name (read-only — the
  * family's own read plan serves the rows), while every write path
  * (INSERT, DML, DROP of managed data, AS OF) refuses with a clear
  * message.
  */
class ReadOnlyRoutingSpec extends SparkSpec {

  import spark.implicits._

  private lazy val warehouse: String = {
    val w = tmpDir("graft-ro-wh")
    spark.conf.set("spark.sql.catalog.gro",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gro.warehouse", w)
    w
  }

  private def sqlc(q: String) = { warehouse; spark.sql(q) }

  test("Scd2 history is SELECTable by catalog name, with intervals") {
    val dir = s"$warehouse/hist"
    val changes = Seq(
      (1L, "a", 0L, false), (1L, "a2", 2L, false),
      (2L, "b", 0L, false), (2L, "", 1L, true))
      .toDF("id", "name", "ver", "gone")
    Scd2.init(changes, dir, "id", "ver", "gone", 4)

    val viaCatalog = sqlc(
      "SELECT id, name, ver, valid_to, is_current FROM gro.hist")
    assert(viaCatalog.columns.toSeq ==
      Seq("id", "name", "ver", "valid_to", "is_current"))
    val rows = viaCatalog
      .as[(Long, String, Long, Option[Long], Boolean)]
      .collect().toSet
    // same rows the Scd2 API serves
    val api = Scd2.read(spark, dir)
      .select(col("id"), col("name"), col("ver"), col("valid_to"),
        col("is_current"))
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
    assert(rows == api && rows.size == 4)
    // filters and projections push into the family read
    assert(sqlc("SELECT name FROM gro.hist WHERE id = 1 AND is_current")
      .as[String].collect().toSeq == Seq("a2"))

    // writes refuse in every shape (arity-correct INSERT reaches the
    // capability check: the table exposes no write support)
    val e1 = intercept[Exception] {
      sqlc("INSERT INTO gro.hist " +
        "SELECT 3L, 'c', 0L, false, CAST(NULL AS BIGINT), true")
    }
    assert(e1.getMessage.toLowerCase.contains("support") ||
      e1.getMessage.contains("read-only"), e1.getMessage)
    val e2 = intercept[Exception] {
      sqlc("UPDATE gro.hist SET name = 'x' WHERE id = 1")
    }
    assert(e2.getMessage.contains("scd2") ||
      e2.getMessage.contains("does not support UPDATE"), e2.getMessage)
    val e3 = intercept[Exception] { sqlc("DROP TABLE gro.hist") }
    assert(e3.getMessage.contains("read-only"))
    val e4 = intercept[Exception] {
      sqlc("SELECT * FROM gro.hist VERSION AS OF 0")
    }
    assert(e4.getMessage.contains("read-only") ||
      e4.getMessage.contains("merge"))
  }

  test("read-only tables ride the native Batch scan; MoR folds match the API") {
    val dir = s"$warehouse/hist_mor"
    val changes = (0L until 40L).map(i => (i % 10, s"s$i", i, false))
      .toDF("id", "name", "ver", "gone")
    Scd2.init(changes, dir, "id", "ver", "gone", 4)
    // a merge-on-read batch that SPLICES between stored versions
    Scd2.merge(spark, dir,
      Seq((3L, "late", 15L, false), (99L, "new", 0L, false))
        .toDF("id", "name", "ver", "gone"),
      mergeOnRead = true)
    assert(graft.cdc.TxLog.latest(spark, dir).get.deltas.nonEmpty)
    val viaCatalog = sqlc(
      "SELECT id, name, ver, valid_to, is_current FROM gro.hist_mor")
    // the native scan plans (no V1 bridge), and the reader-side
    // interval re-derivation matches the API's window fold exactly
    assert(viaCatalog.queryExecution.executedPlan.toString
      .contains("GraftScan"))
    val got = viaCatalog
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
    val api = Scd2.read(spark, dir)
      .select(col("id"), col("name"), col("ver"), col("valid_to"),
        col("is_current"))
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
    assert(got == api, s"catalog ${got.size} rows vs api ${api.size}")
    assert(got.size == 42) // 40 + spliced late change + new key
    // the splice closed the right interval
    assert(got.exists(r => r._1 == 3L && r._2 == "late" &&
      r._4.contains(23L))) // next stored version of key 3 after 15
    // COUNT(*) on a CLEAN history answers from manifest stats
    graft.cdc.Scd2.compact(spark, dir)
    val cnt = sqlc("SELECT count(*) AS n FROM gro.hist_mor")
    assert(cnt.queryExecution.executedPlan.toString
      .contains("GraftStatsScan"))
    assert(cnt.as[Long].head() == 42L)
  }

  test("AggView dashboard is SELECTable by catalog name") {
    val dir = s"$warehouse/dash"
    val rows = Seq(("a", 10.0), ("a", 5.0), ("b", 2.5))
      .toDF("grp", "amount")
    AggView.init(rows, dir, "grp", "amount", 4)
    val got = sqlc("SELECT grp, cnt, total FROM gro.dash ORDER BY grp")
      .as[(String, Long, BigDecimal)].collect().toSeq
    assert(got.map(_._1) == Seq("a", "b"))
    assert(got.map(_._2) == Seq(2L, 1L))
    assert(got.map(_._3.doubleValue) == Seq(15.0, 2.5))
    // SHOW TABLES lists it alongside merge tables
    assert(sqlc("SHOW TABLES IN gro").collect()
      .map(_.getString(1)).toSet.contains("dash"))

    // a merge-on-read partial batch folds in the reader: sums merge,
    // a fully-retracted key leaves, a new key appears
    AggView.merge(spark, dir,
      Seq(("a", 4.0), ("b", -2.5), ("c", 7.0)).toDF("grp", "amount"),
      batchId = 1L, mergeOnRead = true)
    AggView.merge(spark, dir,
      Seq(("b", 0.0)).toDF("grp", "amount"), // cnt 1, keeps b at cnt 2
      batchId = 2L, mergeOnRead = true)
    assert(graft.cdc.TxLog.latest(spark, dir).get.deltas.nonEmpty)
    val folded = sqlc("SELECT grp, cnt, total FROM gro.dash ORDER BY grp")
    assert(folded.queryExecution.executedPlan.toString
      .contains("GraftScan"))
    val api = AggView.read(spark, dir)
      .select(col("grp"), col("cnt"), col("total"))
      .as[(String, Long, BigDecimal)].collect().toSet
    val rows2 = folded.as[(String, Long, BigDecimal)].collect()
    assert(rows2.toSet == api)
    assert(rows2.map(_._1).toSet == Set("a", "b", "c"))
  }

  test("a min/max view's dirty buckets fold vmin/vmax in catalog reads") {
    val dir = s"$warehouse/dash_mm"
    AggView.init(Seq(("a", 10.0), ("b", 4.0)).toDF("grp", "amount"), dir,
      Seq("grp"), "amount", 4, -1L, minMax = true)
    AggView.merge(spark, dir,
      Seq(("a", 20.0), ("b", 1.0)).toDF("grp", "amount"),
      batchId = 1L, mergeOnRead = true)
    assert(graft.cdc.TxLog.latest(spark, dir).get.deltas.nonEmpty)
    val api = AggView.read(spark, dir).collect().toSet
    def extremes(rows: Set[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[String]("grp"), r.getAs[java.math.BigDecimal]("vmin")
        .doubleValue, r.getAs[java.math.BigDecimal]("vmax").doubleValue))
    assert(extremes(api) == Set(("a", 10.0, 20.0), ("b", 1.0, 4.0)))
    val viaCatalog = sqlc("SELECT * FROM gro.dash_mm")
    assert(viaCatalog.queryExecution.executedPlan.toString
      .contains("GraftScan"))
    assert(viaCatalog.collect().toSet == api)
  }
}
