package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Composite merge keys across the maintained-table family: real CDC
  * tables key on (tenant_id, id), not a single column. The bucket
  * function hashes the key TUPLE through one xxhash64 (no separator
  * trap: ("a","bc") and ("ab","c") are distinct tuples), and every
  * merge / lookup / window / prune reconciles per tuple.
  */
class CompositeKeySpec extends SparkSpec {

  import spark.implicits._

  private def snapshot: DataFrame =
    (for { t <- Seq("t1", "t2"); i <- 1L to 50L }
      yield (t, i, s"$t-$i-v0", 0L, false))
      .toDF("tenant", "id", "payload", "version", "deleted")

  private def state(dir: String): Set[(String, Long, String)] =
    Compaction.read(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet

  test("Compaction: composite-key merge, lookup, count, changed-since, MoR, compact") {
    val dir = tmpDir("ck-compaction") + "/t"
    Compaction.init(snapshot, dir, Seq("tenant", "id"),
      "version", "deleted", nBuckets = 8)
    assert(Compaction.countRows(spark, dir) == 100L)

    // same id, DIFFERENT tenants: the tuple keeps them distinct
    val batch = Seq(
      ("t1", 7L, "t1-7-v1", 1L, false),
      ("t2", 7L, "t2-7-v1", 1L, false),
      ("t1", 9L, "", 1L, true),             // delete (t1, 9) only
      ("t3", 1L, "t3-1-v1", 1L, false))     // new tenant
      .toDF("tenant", "id", "payload", "version", "deleted")
    Compaction.merge(spark, dir, batch)

    assert(Compaction.countRows(spark, dir) == 100L) // -1 del +1 ins
    assert(Compaction.lookup(spark, dir, Seq("t1", 7L))
      .select("payload").as[String].collect().toSeq == Seq("t1-7-v1"))
    assert(Compaction.lookup(spark, dir, Seq("t2", 9L)).count() == 1,
      "(t2, 9) must survive the (t1, 9) delete")
    assert(Compaction.lookup(spark, dir, Seq("t1", 9L)).count() == 0)
    val many = Compaction.lookupMany(spark, dir,
      Seq(Seq("t1", 7L), Seq("t2", 7L), Seq("t3", 1L)))
    assert(many.count() == 3)
    assert(Compaction.readChangedSince(spark, dir, 0L)
      .select("tenant", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("t1", 7L), ("t2", 7L), ("t3", 1L)))

    // merge-on-read + compact ride the same tuple reconciliation
    Compaction.merge(spark, dir,
      Seq(("t2", 7L, "t2-7-v2", 2L, false))
        .toDF("tenant", "id", "payload", "version", "deleted"),
      mergeOnRead = true)
    assert(Compaction.lookup(spark, dir, Seq("t2", 7L))
      .select("payload").as[String].collect().toSeq == Seq("t2-7-v2"))
    Compaction.compact(spark, dir)
    assert(Compaction.deltaStats(spark, dir).isEmpty)
    assert(Compaction.lookup(spark, dir, Seq("t2", 7L))
      .select("payload").as[String].collect().toSeq == Seq("t2-7-v2"))

    // arity mismatch fails fast instead of silently mis-hashing
    intercept[IllegalArgumentException] {
      Compaction.lookup(spark, dir, "t1").collect()
    }
  }

  test("tuple hashing has no separator trap") {
    val dir = tmpDir("ck-septrap") + "/t"
    Compaction.init(
      Seq(("a", "bc", "x", 0L, false), ("ab", "c", "y", 0L, false))
        .toDF("k1", "k2", "payload", "version", "deleted"),
      dir, Seq("k1", "k2"), "version", "deleted", nBuckets = 4)
    assert(Compaction.lookup(spark, dir, Seq("a", "bc"))
      .select("payload").as[String].collect().toSeq == Seq("x"))
    assert(Compaction.lookup(spark, dir, Seq("ab", "c"))
      .select("payload").as[String].collect().toSeq == Seq("y"))
    // updating one tuple leaves the other alone
    Compaction.merge(spark, dir,
      Seq(("a", "bc", "x2", 1L, false))
        .toDF("k1", "k2", "payload", "version", "deleted"))
    assert(Compaction.lookup(spark, dir, Seq("ab", "c"))
      .select("payload").as[String].collect().toSeq == Seq("y"))
  }

  test("Scd2: composite-key history splices per tuple") {
    val dir = tmpDir("ck-scd2") + "/t"
    Scd2.init(
      Seq(("t1", 1L, "a", 1L, false), ("t2", 1L, "b", 1L, false))
        .toDF("tenant", "id", "payload", "version", "deleted"),
      dir, Seq("tenant", "id"), "version", "deleted", nBuckets = 4)
    Scd2.merge(spark, dir,
      Seq(("t1", 1L, "a2", 3L, false)).toDF(
        "tenant", "id", "payload", "version", "deleted"))
    // late change splices between versions for (t1, 1) only
    Scd2.merge(spark, dir,
      Seq(("t1", 1L, "a1", 2L, false)).toDF(
        "tenant", "id", "payload", "version", "deleted"))
    val h = Scd2.lookup(spark, dir, Seq("t1", 1L))
      .orderBy("version")
      .select("payload", "valid_to", "is_current").collect()
      .map(r => (r.getString(0), Option(r.get(1)), r.getBoolean(2))).toSeq
    assert(h == Seq(("a", Some(2L), false), ("a1", Some(3L), false),
      ("a2", None, true)), s"history mis-spliced: $h")
    // the other tenant's history is untouched and current
    val cur = Scd2.current(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(cur == Set(("t1", 1L, "a2"), ("t2", 1L, "b")))
  }

  test("AggView: composite-key totals and feed IVM") {
    val dir = tmpDir("ck-aggview") + "/v"
    AggView.init(
      Seq(("t1", "click", 1.0), ("t1", "click", 2.0), ("t2", "view", 3.0))
        .toDF("tenant", "kind", "v"),
      dir, Seq("tenant", "kind"), "v", nBuckets = 4, batchId = -1L)
    AggView.merge(spark, dir,
      Seq(("t1", "click", 4.0), ("t2", "click", 5.0))
        .toDF("tenant", "kind", "v"), batchId = 0L)
    val got = AggView.read(spark, dir)
      .select($"tenant", $"kind", $"cnt", $"total".cast("double"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set(("t1", "click", 3L, 7.0), ("t2", "view", 1L, 3.0),
      ("t2", "click", 1L, 5.0)), s"wrong state: $got")
    assert(AggView.lookup(spark, dir, Seq("t1", "click")).count() == 1)
  }

  test("Replicator inherits a composite key tuple from the source") {
    val src = tmpDir("ck-repl") + "/src"
    val rep = tmpDir("ck-repl") + "/rep"
    Compaction.init(snapshot, src, Seq("tenant", "id"),
      "version", "deleted", nBuckets = 4)
    Replicator.init(spark, src, rep)
    Compaction.merge(spark, src,
      Seq(("t1", 7L, "t1-7-v1", 1L, false), ("t2", 9L, "", 1L, true))
        .toDF("tenant", "id", "payload", "version", "deleted"),
      emitFeed = true)
    Replicator.sync(spark, src, rep)
    val srcState = state(src)
    val repState = Compaction.read(spark, rep).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(repState == srcState, "replica diverged from composite-key source")
    assert(Compaction.lookup(spark, rep, Seq("t1", 7L))
      .select("payload").as[String].collect().toSeq == Seq("t1-7-v1"))
  }

  test("MergePruning: a full tuple equality conjunction scans one bucket") {
    val dir = tmpDir("ck-prune") + "/t"
    Compaction.init(snapshot, dir, Seq("tenant", "id"),
      "version", "deleted", nBuckets = 8)
    graft.plans.MergePruning.ensureRegistered(spark)
    val paths = Compaction.livePaths(spark, dir).values.toSeq
    spark.read.parquet(paths: _*).createOrReplaceTempView("ck_users")
    val q = spark.sql(
      "SELECT payload FROM ck_users WHERE tenant = 't1' AND id = 7")
    assert(q.as[String].collect().toSeq == Seq("t1-7-v0"))
    val expectBucket = keyBucket(Seq("t1", 7L), 8)
    val opened = q.inputFiles.toSet
    assert(opened.nonEmpty &&
      opened.forall(_.contains(s"/bucket=$expectBucket/")),
      s"tuple-equality SQL opened extra buckets: $opened")
  }
}
