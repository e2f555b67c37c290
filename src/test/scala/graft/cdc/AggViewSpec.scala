package graft.cdc

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The maintained aggregate view must equal a full recompute after
  * any sequence of delta merges, rewrite only touched buckets, and
  * enforce the batch-id fence (a replayed id is a no-op — the
  * exactly-once guarantee the streaming wrapper relies on).
  */
class AggViewSpec extends SparkSpec {

  import spark.implicits._

  private def mk(rows: Seq[(Long, Double)]) = rows.toDF("k", "v")

  private def state(dir: String): Map[Long, (Long, BigDecimal)] =
    AggView.read(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap

  private def recompute(rows: Seq[(Long, Double)]): Map[Long, (Long, BigDecimal)] =
    rows.groupBy(_._1).map { case (k, vs) =>
      k -> ((vs.size.toLong,
        vs.map(v => BigDecimal(v._2).setScale(2)).sum.setScale(2)))
    }

  test("merged view == full recompute; only touched buckets rewritten") {
    val dir = tmpDir("aggview")
    val b0 = (1L to 40L).map(k => (k, k * 1.5))
    AggView.init(mk(b0), dir, "k", "v", nBuckets = 8)

    val b1 = Seq((5L, 2.25), (5L, 1.00), (100L, 9.99))
    val s1 = AggView.merge(spark, dir, mk(b1), batchId = 0L)
    assert(s1.applied && s1.touchedBuckets.nonEmpty
      && s1.touchedBuckets.size < 8)
    assert(state(dir) == recompute(b0 ++ b1))

    val b2 = Seq((5L, 0.50), (40L, -1.00)) // negative delta = retraction
    assert(AggView.merge(spark, dir, mk(b2), batchId = 1L).applied)
    assert(state(dir) == recompute(b0 ++ b1 ++ b2))
  }

  test("point lookup opens one bucket of the view") {
    val dir = tmpDir("aggview-lookup") + "/v"
    AggView.init(mk((1L to 40L).map(i => (i % 10, i.toDouble))),
      dir, "k", "v", nBuckets = 8)
    val hit = AggView.lookup(spark, dir, 3L)
    val got = hit.select(col("cnt"), col("total").cast("double"))
      .as[(Long, Double)].collect()
    assert(got.toSeq == Seq((4L, 72.0)), s"got ${got.toSeq}")
    val dirs = hit.inputFiles.map(f => { val p = new java.net.URI(f).getPath
      p.substring(0, p.lastIndexOf('/')) }).distinct
    assert(dirs.length == 1, s"view lookup must open one bucket: $dirs")
    assert(AggView.lookup(spark, dir, 9999L).count() == 0L)
  }

  test("batch-id fence: replayed and stale ids are no-ops") {
    val dir = tmpDir("aggfence")
    AggView.init(mk(Seq((1L, 1.0))), dir, "k", "v", nBuckets = 4)
    assert(AggView.merge(spark, dir, mk(Seq((1L, 1.0))), 0L).applied)
    val before = state(dir)
    assert(!AggView.merge(spark, dir, mk(Seq((1L, 1.0))), 0L).applied)
    assert(!AggView.merge(spark, dir, mk(Seq((1L, 99.0))), -5L).applied)
    assert(state(dir) == before)
    assert(AggView.merge(spark, dir, mk(Seq((1L, 1.0))), 1L).applied)
    assert(state(dir)(1L)._1 == 3L)
  }

  test("nncnt partial tracks non-null measures through merges") {
    val dir = tmpDir("aggnncnt")
    val rows = Seq((1L, Some(1.5)), (1L, None), (2L, None))
      .toDF("k", "v")
    AggView.init(rows, dir, "k", "v", nBuckets = 4)
    AggView.merge(spark, dir,
      Seq((1L, Some(2.5)), (2L, Some(4.0)), (2L, None)).toDF("k", "v"),
      batchId = 0L)
    val got = AggView.read(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    // k=1: 3 rows, 2 non-null; k=2: 3 rows, 1 non-null
    assert(got == Map(1L -> ((3L, 2L)), 2L -> ((3L, 1L))), got.toString)
  }

  test("format-1 manifests (pre-nncnt state) are refused loudly") {
    val dir = tmpDir("aggfmt")
    AggView.init(mk(Seq((1L, 1.0))), dir, "k", "v", nBuckets = 2)
    // strip the format marker — the state a pre-r12 build committed
    val s = TxLog.latest(spark, dir).get
    val txn = new TableTxn(spark, dir, s)
    txn.commit(s.buckets,
      s.props -- Seq("agg_format", "txn_id", "base_txn"), op = "merge")
    TxLog.invalidate(dir)
    val e = intercept[IllegalStateException] {
      AggView.read(spark, dir)
    }
    assert(e.getMessage.contains("format 1") &&
      e.getMessage.contains("re-CREATE"), e.getMessage)
    val e2 = intercept[IllegalStateException] {
      AggView.merge(spark, dir, mk(Seq((1L, 2.0))), 0L)
    }
    assert(e2.getMessage.contains("format 1"), e2.getMessage)
  }
}
