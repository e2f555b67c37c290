package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Scd2 merge-on-read: a scattered trickle of late history rows must
  * WRITE O(changes) bytes (delta state records folded in at read via
  * an exact re-window) instead of re-windowing and rewriting every
  * touched bucket. Folded reads, current/asOf/lookup on dirty
  * buckets, replay dedup, countRows, compact() and the CoW
  * equivalence all pinned here.
  */
class Scd2MergeOnReadSpec extends SparkSpec {

  import spark.implicits._

  private def changelog(rows: Seq[(Long, String, Long, Boolean)]): DataFrame =
    rows.toDF("id", "state", "version", "deleted")

  private def mkHistory(dir: String, n: Int = 500,
      nBuckets: Int = 8): Unit =
    Scd2.init(
      changelog((1L to n.toLong).flatMap(i =>
        Seq((i, s"v0-$i", 0L, false), (i, s"v2-$i", 2L, false)))),
      dir, "id", "version", "deleted", nBuckets)

  private def history(dir: String): Set[(Long, String, Long, Option[Long], Boolean)] =
    Scd2.read(spark, dir)
      .select($"id", $"state", $"version", $"valid_to", $"is_current")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet

  private def baseFiles(dir: String): Map[String, Long] = {
    val fs = TxLog.fs(spark, dir)
    Scd2.livePaths(spark, dir).values.flatMap { p =>
      fs.listStatus(new Path(p)).toSeq.map(st =>
        st.getPath.toString -> st.getLen)
    }.toMap
  }

  /** One late row per bucket (version 1 splices BETWEEN the stored
    * v0 and v2 intervals — the hard case).
    */
  private def scatteredLate(nBuckets: Int): DataFrame =
    spark.range(1L, 2000L).select(col("id"),
        concat(lit("late-"), col("id")).as("state"),
        lit(1L).as("version"), lit(false).as("deleted"))
      .withColumn("b", Bucketing.bucketOf(col("id"), nBuckets))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("b")).orderBy(col("id"))))
      .filter(col("rn") === 1 && col("id") <= 500).drop("b", "rn")

  test("scattered MoR merge writes O(changes); base byte-identical; fold splices exactly") {
    val dir = tmpDir("scd2mor") + "/t"
    mkHistory(dir)
    val before = baseFiles(dir)
    val late = scatteredLate(8)
    val nLate = late.count()
    assert(nLate >= 4, "need a scattered batch")

    val stats = Scd2.merge(spark, dir, late, mergeOnRead = true)
    assert(stats.rowsWritten == nLate,
      s"delta staged ${stats.rowsWritten} rows for $nLate changes")
    assert(baseFiles(dir) == before, "merge-on-read rewrote base files")
    assert(Scd2.deltaStats(spark, dir).nonEmpty)

    // the CoW twin agrees row-for-row — including the spliced
    // valid_to chain (v0 -> 1, late -> 2) and is_current flags
    val cowDir = tmpDir("scd2mor-cow") + "/t"
    mkHistory(cowDir)
    Scd2.merge(spark, cowDir, late)
    assert(history(dir) == history(cowDir))

    // a spliced key's chain: v0 closes at 1, late closes at 2
    val spliced = late.select($"id").as[Long].head()
    val chain = Scd2.lookup(spark, dir, spliced)
      .select($"version", $"valid_to", $"is_current")
      .as[(Long, Option[Long], Boolean)].collect().toSet
    assert(chain == Set((0L, Some(1L), false), (1L, Some(2L), false),
      (2L, None, true)), s"chain for $spliced: $chain")

    // counts stay exact on dirty buckets (1000 stored + nLate spliced)
    assert(Scd2.countRows(spark, dir) == 1000L + nLate)

    // current/asOf reconcile through the fold
    assert(Scd2.current(spark, dir).count() == 500L)
    val asOf1 = Scd2.asOf(spark, dir, 1L)
      .filter($"id" === spliced).select($"state").as[String].head()
    assert(asOf1 == s"late-$spliced")

    // compact() folds the chains away; reads identical after
    val h = history(dir)
    Scd2.compact(spark, dir)
    assert(Scd2.deltaStats(spark, dir).isEmpty)
    assert(history(dir) == h)
    assert(Scd2.countRows(spark, dir) == 1000L + nLate)
  }

  test("MoR replay dedups (key, version) with latest delta winning") {
    val dir = tmpDir("scd2mor-replay") + "/t"
    Scd2.init(changelog(Seq((1L, "a", 0L, false))), dir,
      "id", "version", "deleted", nBuckets = 4)
    Scd2.merge(spark, dir, changelog(Seq((1L, "b", 1L, false))),
      mergeOnRead = true)
    // replay of version 1 with a corrected payload: the LATER delta
    // wins the (key, version) slot deterministically
    Scd2.merge(spark, dir, changelog(Seq((1L, "b2", 1L, false))),
      mergeOnRead = true)
    val chain = Scd2.lookup(spark, dir, 1L)
      .select($"state", $"version", $"is_current")
      .as[(String, Long, Boolean)].collect().toSet
    assert(chain == Set(("a", 0L, false), ("b2", 1L, true)), chain.toString)
    // and the fold survives compaction identically
    Scd2.compact(spark, dir)
    val after = Scd2.lookup(spark, dir, 1L)
      .select($"state", $"version", $"is_current")
      .as[(String, Long, Boolean)].collect().toSet
    assert(after == chain)
  }

  test("partial compact folds only chains at the threshold") {
    val dir = tmpDir("scd2mor-partial") + "/t"
    Scd2.init(changelog(Seq((1L, "a", 0L, false), (2L, "x", 0L, false))),
      dir, "id", "version", "deleted", nBuckets = 4)
    val b1 = keyBucket(Seq(1L), 4)
    val b2 = keyBucket(Seq(2L), 4)
    assume(b1 != b2)
    // key 1 absorbs two deltas, key 2 one
    Scd2.merge(spark, dir, changelog(Seq((1L, "b", 1L, false))),
      mergeOnRead = true)
    Scd2.merge(spark, dir, changelog(Seq((1L, "c", 2L, false))),
      mergeOnRead = true)
    Scd2.merge(spark, dir, changelog(Seq((2L, "y", 1L, false))),
      mergeOnRead = true)
    Scd2.compact(spark, dir, minDeltas = 2)
    val stats = Scd2.deltaStats(spark, dir)
      .map { case (b, n, _) => b -> n }.toMap
    assert(!stats.contains(b1), s"bucket $b1 should have folded: $stats")
    assert(stats.get(b2).contains(1), s"bucket $b2 chain kept: $stats")
    // history correct regardless of fold state
    assert(Scd2.lookup(spark, dir, 1L).count() == 3)
    assert(Scd2.lookup(spark, dir, 2L).count() == 2)
    assert(Scd2.countRows(spark, dir) == 5L)
  }

  test("delta-only bucket (first write via MoR) reads and compacts") {
    val dir = tmpDir("scd2mor-fresh") + "/t"
    Scd2.init(changelog(Seq((1L, "a", 0L, false))), dir,
      "id", "version", "deleted", nBuckets = 4)
    // a key landing in a bucket with NO base entry
    val other = (2L to 50L).find(k =>
      keyBucket(Seq(k), 4) !=
        keyBucket(Seq(1L), 4)).get
    Scd2.merge(spark, dir, changelog(Seq((other, "n", 0L, false))),
      mergeOnRead = true)
    assert(Scd2.lookup(spark, dir, other).count() == 1)
    assert(Scd2.countRows(spark, dir) == 2L)
    Scd2.compact(spark, dir)
    assert(Scd2.lookup(spark, dir, other).count() == 1)
    assert(Scd2.countRows(spark, dir) == 2L)
  }

  test("CoW merge on a dirty bucket folds its deltas and drops the chain") {
    val dir = tmpDir("scd2mor-cowfold") + "/t"
    Scd2.init(changelog(Seq((1L, "a", 0L, false))), dir,
      "id", "version", "deleted", nBuckets = 4)
    Scd2.merge(spark, dir, changelog(Seq((1L, "b", 1L, false))),
      mergeOnRead = true)
    // a plain CoW merge touching the same bucket folds base + delta
    Scd2.merge(spark, dir, changelog(Seq((1L, "c", 2L, false))))
    assert(Scd2.deltaStats(spark, dir).isEmpty,
      "CoW rewrite must fold and drop the bucket's delta chain")
    val chain = Scd2.lookup(spark, dir, 1L)
      .select($"state", $"version", $"valid_to")
      .as[(String, Long, Option[Long])].collect().toSet
    assert(chain == Set(("a", 0L, Some(1L)), ("b", 1L, Some(2L)),
      ("c", 2L, None)), chain.toString)
  }
}
