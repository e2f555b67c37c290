package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** AggView merge-on-read: scattered aggregate increments land as
  * O(batch) partial-row delta files (base untouched), reads fold by
  * per-key summation (commutative — no sequence column needed), the
  * exactly-once batch fence carries unchanged, and compact() restores
  * the zero-fold read path. Results must equal the copy-on-write twin
  * in every mode, retractions included.
  */
class AggViewMorSpec extends SparkSpec {

  import spark.implicits._

  private def batchDf(rows: Seq[(String, Double)]): DataFrame =
    rows.toDF("k", "v")

  private def state(dir: String): Map[String, (Long, BigDecimal)] =
    AggView.read(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        BigDecimal(r.getDecimal(2))))).toMap

  private def baseFiles(dir: String): Map[String, Long] = {
    val fs = TxLog.fs(spark, dir)
    val s = TxLog.latest(spark, dir).get
    s.buckets.values.flatMap { rel =>
      fs.listStatus(new Path(s"$dir/data/$rel")).toSeq
        .map(st => st.getPath.toString -> st.getLen)
    }.toMap
  }

  test("MoR merges fold to the CoW twin; base files byte-identical") {
    val dir = tmpDir("aggmor") + "/v"
    val cow = tmpDir("aggmor-cow") + "/v"
    val init = batchDf((1 to 40).map(i => (s"k${i % 10}", i.toDouble)))
    AggView.init(init, dir, "k", "v", nBuckets = 4)
    AggView.init(init, cow, "k", "v", nBuckets = 4)
    val before = baseFiles(dir)

    val b1 = batchDf(Seq(("k1", 5.0), ("k3", 7.5), ("knew", 1.0)))
    val b2 = batchDf(Seq(("k1", 2.5), ("knew", 1.0)))
    assert(AggView.merge(spark, dir, b1, batchId = 1,
      mergeOnRead = true).applied)
    assert(AggView.merge(spark, dir, b2, batchId = 2,
      mergeOnRead = true).applied)
    AggView.merge(spark, cow, b1, batchId = 1)
    AggView.merge(spark, cow, b2, batchId = 2)

    assert(baseFiles(dir) == before, "MoR rewrote base files")
    assert(AggView.deltaStats(spark, dir).nonEmpty)
    assert(state(dir) == state(cow))

    // replay fence survives MoR: re-presenting batch 2 is a no-op
    assert(!AggView.merge(spark, dir, b2, batchId = 2,
      mergeOnRead = true).applied)
    assert(state(dir) == state(cow))

    // lookup folds its bucket
    val k1 = AggView.lookup(spark, dir, "k1").collect().head
    assert(k1.getLong(1) == state(cow)("k1")._1)

    // compact folds chains away; state identical, reads fast-path
    AggView.compact(spark, dir)
    assert(AggView.deltaStats(spark, dir).isEmpty)
    assert(state(dir) == state(cow))
  }

  test("feed-driven IVM on-read: retraction to zero drops the key at fold") {
    val dir = tmpDir("aggmor-feed") + "/v"
    AggView.init(batchDf(Seq(("a", 10.0), ("b", 4.0))), dir, "k", "v",
      nBuckets = 4)
    // feed batch: delete both 'a' rows? 'a' has cnt 1 — one delete
    val feed = Seq(("a", 10.0, "delete"), ("c", 3.0, "insert"))
      .toDF("k", "v", "_change_type")
    assert(AggView.applyFeedOnRead(spark, dir, feed, batchId = 1).applied)
    val st = state(dir)
    assert(!st.contains("a"), s"retracted key survived the fold: $st")
    assert(st("c") == ((1L, BigDecimal("3.00"))))
    assert(st("b") == ((1L, BigDecimal("4.00"))))
    // a CoW merge touching the dirty bucket folds its chain in
    val feed2 = Seq(("c", 1.0, "insert")).toDF("k", "v", "_change_type")
    AggView.applyFeed(spark, dir, feed2, batchId = 2)
    assert(state(dir)("c") == ((2L, BigDecimal("4.00"))))
    // every chain that CoW merge touched folded; others may remain
    val dirtyAfter = AggView.deltaStats(spark, dir).map(_._1).toSet
    val cBucket = keyBucket(Seq("c"), 4)
    assert(!dirtyAfter.contains(cBucket))
    // compact clears the rest; state unchanged
    AggView.compact(spark, dir)
    assert(AggView.deltaStats(spark, dir).isEmpty)
    assert(state(dir)("c") == ((2L, BigDecimal("4.00"))))
  }

  test("empty-batch fence advance carries live delta chains") {
    val dir = tmpDir("aggmor-empty") + "/v"
    AggView.init(batchDf(Seq(("a", 1.0))), dir, "k", "v", nBuckets = 4)
    AggView.merge(spark, dir, batchDf(Seq(("a", 2.0))), batchId = 1,
      mergeOnRead = true)
    assert(AggView.deltaStats(spark, dir).nonEmpty)
    // an empty batch advances the fence but must not orphan the chain
    AggView.merge(spark, dir, batchDf(Nil), batchId = 2)
    assert(AggView.readMeta(spark, dir)._4 == 2L)
    assert(AggView.deltaStats(spark, dir).nonEmpty,
      "fence-only commit dropped the delta chain")
    assert(state(dir)("a") == ((2L, BigDecimal("3.00"))))
  }

  test("rebucket folds chains into the new layout") {
    val dir = tmpDir("aggmor-rebucket") + "/v"
    AggView.init(batchDf(Seq(("a", 1.0), ("b", 2.0))), dir, "k", "v",
      nBuckets = 4)
    AggView.merge(spark, dir, batchDf(Seq(("a", 4.0))), batchId = 1,
      mergeOnRead = true)
    AggView.rebucket(spark, dir, 16)
    assert(AggView.deltaStats(spark, dir).isEmpty)
    assert(state(dir)("a") == ((2L, BigDecimal("5.00"))))
    assert(AggView.lookup(spark, dir, "b").collect().head.getLong(1) == 1L)
  }
}
