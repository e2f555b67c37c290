package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Merge-on-read: a scattered small merge must WRITE O(changes) bytes
  * — delta files folded in at read — instead of rewriting every
  * touched bucket (copy-on-write's worst case: a 0.1% update spread
  * across all buckets rewrites the whole table). compact() folds the
  * deltas into the base lazily, restoring the zero-reconciliation
  * read path. Sequential-≡-union, feed equivalence, zone maps, counts
  * and crash atomicity must all hold in both modes.
  */
class MergeOnReadSpec extends SparkSpec {

  import spark.implicits._

  private def mkTable(dir: String, n: Int = 1000, nBuckets: Int = 16): Unit =
    Compaction.init(
      spark.range(n.toLong).select(col("id"),
        concat(lit("name-"), col("id")).as("name"),
        lit(0L).as("version"), lit(false).as("deleted")),
      dir, "id", "version", "deleted", nBuckets)

  /** One update per bucket — the maximally-scattered small batch. */
  private def scattered(nBuckets: Int, v: Long): DataFrame =
    spark.range(2000L).select(col("id"),
        concat(lit(s"upd$v-"), col("id")).as("name"),
        lit(v).as("version"), lit(false).as("deleted"))
      .withColumn("b", Bucketing.bucketOf(col("id"), nBuckets))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("b")).orderBy(col("id"))))
      .filter(col("rn") === 1).drop("b", "rn")

  private def state(dir: String): Set[(Long, String, Long)] =
    Compaction.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  private def baseFiles(dir: String): Map[String, Long] = {
    val fs = TxLog.fs(spark, dir)
    Compaction.livePaths(spark, dir).values.flatMap { p =>
      fs.listStatus(new Path(p)).toSeq.map(st =>
        st.getPath.toString -> st.getLen)
    }.toMap
  }

  test("scattered merge-on-read writes O(changes) rows; base files untouched") {
    val dir = tmpDir("mor-scattered") + "/t"
    mkTable(dir)
    val before = baseFiles(dir)
    val changes = scattered(16, 1L)
    val nChanges = changes.count()

    val stats = Compaction.merge(spark, dir, changes, mergeOnRead = true)
    // every bucket touched, yet the write is the batch itself — not
    // the 1000-row table a copy-on-write rewrite would stage
    assert(stats.touchedBuckets.size == 16)
    assert(stats.rowsWritten == nChanges,
      s"delta write staged ${stats.rowsWritten} rows for $nChanges changes")
    // the committed base is byte-identical: same paths, same sizes
    assert(baseFiles(dir) == before, "merge-on-read rewrote base files")

    // the copy-on-write twin of the same batch rewrites every bucket
    val cowDir = tmpDir("mor-scattered-cow") + "/t"
    mkTable(cowDir)
    val cow = Compaction.merge(spark, cowDir, changes)
    assert(cow.rowsWritten == 1000L,
      s"expected the CoW twin to rewrite the full table, wrote ${cow.rowsWritten}")

    // and the two modes agree on the resulting table
    assert(state(dir) == state(cowDir))
    assert(Compaction.countRows(spark, dir) == 1000L)
  }

  test("sequential MoR merges == one CoW merge of the union (upsert+delete+insert)") {
    val dir = tmpDir("mor-seq") + "/t"
    mkTable(dir, n = 500)
    val b1 = Seq((3L, "x3", 1L, false), (700L, "new700", 1L, false),
      (10L, "x10", 1L, false)).toDF("id", "name", "version", "deleted")
    val b2 = Seq((3L, "y3", 2L, false), (10L, "", 2L, true),
      (701L, "new701", 2L, false)).toDF("id", "name", "version", "deleted")
    Compaction.merge(spark, dir, b1, mergeOnRead = true)
    Compaction.merge(spark, dir, b2, mergeOnRead = true)

    val cowDir = tmpDir("mor-seq-cow") + "/t"
    mkTable(cowDir, n = 500)
    Compaction.merge(spark, cowDir, b1)
    Compaction.merge(spark, cowDir, b2)
    assert(state(dir) == state(cowDir))

    // deleted key is gone from read, lookup and count
    assert(Compaction.lookup(spark, dir, 10L).count() == 0)
    assert(Compaction.lookup(spark, dir, 3L)
      .select("name").as[String].collect().toSeq == Seq("y3"))
    assert(Compaction.countRows(spark, dir) == 501L) // 500 - 1 del + 2 ins
    // a later upsert resurrects the deleted key through the tombstone
    Compaction.merge(spark, dir,
      Seq((10L, "back", 3L, false)).toDF("id", "name", "version", "deleted"),
      mergeOnRead = true)
    assert(Compaction.lookup(spark, dir, 10L)
      .select("name").as[String].collect().toSeq == Seq("back"))
  }

  test("compact folds deltas into the base and restores the clean-path read") {
    val dir = tmpDir("mor-compact") + "/t"
    mkTable(dir)
    Compaction.merge(spark, dir, scattered(16, 1L), mergeOnRead = true)
    Compaction.merge(spark, dir, scattered(16, 2L), mergeOnRead = true)
    val beforeCompact = state(dir)
    assert(Compaction.deltaStats(spark, dir).nonEmpty)

    Compaction.compact(spark, dir)
    assert(Compaction.deltaStats(spark, dir).isEmpty,
      "compact left delta entries behind")
    assert(state(dir) == beforeCompact, "compact changed the table state")
    // counts are manifest-only again: exact without any delta fold
    assert(Compaction.countRows(spark, dir) == 1000L)
    // no stale delta generation dirs survive the sweep
    val fs = TxLog.fs(spark, dir)
    val live = Compaction.livePaths(spark, dir).values
      .map(p => new Path(p).getParent.getName).toSet
    val onDisk = fs.listStatus(new Path(s"$dir/data"))
      .map(_.getPath.getName).toSet
    assert(onDisk == live, s"unswept generations: ${onDisk -- live}")
  }

  test("partial compaction folds only buckets past the delta threshold") {
    val dir = tmpDir("mor-partial") + "/t"
    mkTable(dir, n = 200)
    // key 7's bucket absorbs TWO deltas; key 9's bucket only one
    val b7 = keyBucket(Seq(7L), 16)
    val b9 = keyBucket(Seq(9L), 16)
    assert(b7 != b9, "test wants distinct buckets")
    Compaction.merge(spark, dir,
      Seq((7L, "a", 1L, false), (9L, "x", 1L, false))
        .toDF("id", "name", "version", "deleted"), mergeOnRead = true)
    Compaction.merge(spark, dir,
      Seq((7L, "b", 2L, false)).toDF("id", "name", "version", "deleted"),
      mergeOnRead = true)
    val before = state(dir)

    Compaction.compact(spark, dir, minDeltas = 2, retainHistory = false)
    val chains = Compaction.deltaStats(spark, dir)
      .map { case (b, n, _) => b -> n }.toMap
    assert(!chains.contains(b7), "2-delta bucket was not folded")
    assert(chains.get(b9).contains(1),
      s"below-threshold bucket lost its delta chain: $chains")
    assert(state(dir) == before, "partial compaction changed the state")
    // full compact clears the remainder
    Compaction.compact(spark, dir)
    assert(Compaction.deltaStats(spark, dir).isEmpty)
    assert(state(dir) == before)
  }

  test("readChangedSince folds deltas and prunes via the delta zone map") {
    val dir = tmpDir("mor-since") + "/t"
    mkTable(dir)
    // narrow MoR batch: only the buckets of keys 5 and 6 go dirty
    Compaction.merge(spark, dir,
      Seq((5L, "v1-5", 1L, false), (6L, "v1-6", 1L, false))
        .toDF("id", "name", "version", "deleted"),
      mergeOnRead = true)
    val changed = Compaction.readChangedSince(spark, dir, 0L)
    val got = changed.select("id").as[Long].collect().toSet
    assert(got == Set(5L, 6L))
    // file-exact pruning: only the delta-carrying buckets' files open
    // (base maxv=0 fails the >0 probe everywhere; dmaxv=1 passes)
    val dirtyBuckets = Set(5L, 6L).map(k =>
      keyBucket(Seq(k), 16))
    // inputFiles returns file:// URIs — compare on the manifest-
    // relative directory fragment
    val opened = changed.inputFiles.toSet
    val m = TxLog.latest(spark, dir).get
    val allowed = dirtyBuckets.flatMap { b =>
      (m.buckets.get(b).toSeq ++ m.deltas.getOrElse(b, Nil))
        .map(rel => s"/data/$rel/")
    }
    assert(opened.forall(f => allowed.exists(f.contains)),
      s"changed-since opened non-dirty buckets: " +
        opened.filterNot(f => allowed.exists(f.contains)))
  }

  test("MoR feed matches the CoW feed for the same batch") {
    val dir = tmpDir("mor-feed") + "/t"
    val cowDir = tmpDir("mor-feed-cow") + "/t"
    mkTable(dir, n = 100); mkTable(cowDir, n = 100)
    val batch = Seq(
      (7L, "upd7", 1L, false),    // update
      (200L, "ins200", 1L, false), // insert
      (9L, "", 1L, true),          // delete
      (300L, "", 1L, true))        // tombstone for absent key: no effect
      .toDF("id", "name", "version", "deleted")
    val s1 = Compaction.merge(spark, dir, batch,
      emitFeed = true, mergeOnRead = true)
    val s2 = Compaction.merge(spark, cowDir, batch, emitFeed = true)
    assert(s1.feedRows == s2.feedRows)
    def feed(d: String) = Compaction.readFeed(spark, d)
      .select("id", "name", "version", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3))).toSet
    assert(feed(dir) == feed(cowDir))
    // 4 events: update pre+post, insert, delete
    assert(s1.feedRows == 4L)
  }

  test("a CoW merge over a dirty bucket folds and drops its deltas") {
    val dir = tmpDir("mor-cow-fold") + "/t"
    mkTable(dir, n = 100)
    Compaction.merge(spark, dir,
      Seq((7L, "mor7", 1L, false)).toDF("id", "name", "version", "deleted"),
      mergeOnRead = true)
    val dirtyB = keyBucket(Seq(7L), 16)
    assert(Compaction.deltaStats(spark, dir).map(_._1).contains(dirtyB))
    // CoW merge touching the SAME bucket (key 7 again) compacts it
    Compaction.merge(spark, dir,
      Seq((7L, "cow7", 2L, false)).toDF("id", "name", "version", "deleted"))
    assert(!Compaction.deltaStats(spark, dir).map(_._1).contains(dirtyB),
      "CoW merge left folded delta entries on a touched bucket")
    assert(Compaction.lookup(spark, dir, 7L)
      .select("name").as[String].collect().toSeq == Seq("cow7"))
    assert(Compaction.countRows(spark, dir) == 100L)
  }

  test("rebucket and time travel see through deltas") {
    val dir = tmpDir("mor-rebucket") + "/t"
    mkTable(dir, n = 200)
    Compaction.merge(spark, dir,
      Seq((7L, "d7", 1L, false), (300L, "d300", 1L, false))
        .toDF("id", "name", "version", "deleted"),
      mergeOnRead = true, retainHistory = true)
    val live = state(dir)
    // time travel to v0 = pre-merge snapshot
    assert(Compaction.readAsOf(spark, dir, 0L).count() == 200L)
    // rebucket folds deltas into the new layout
    Compaction.rebucket(spark, dir, 32)
    assert(state(dir) == live, "rebucket lost delta data")
    assert(Compaction.deltaStats(spark, dir).isEmpty)
    assert(Compaction.countRows(spark, dir) == 201L)
  }

  test("crash before a MoR commit leaves the table byte-identical") {
    val dir = tmpDir("mor-crash") + "/t"
    mkTable(dir, n = 100)
    val before = state(dir)
    val v0 = TxLog.latestVersion(spark, dir)
    TxLog.beforeCommit = () => throw new RuntimeException("injected crash")
    try {
      intercept[RuntimeException] {
        Compaction.merge(spark, dir,
          Seq((7L, "x", 1L, false)).toDF("id", "name", "version", "deleted"),
          mergeOnRead = true)
      }
    } finally TxLog.beforeCommit = () => ()
    assert(TxLog.latestVersion(spark, dir) == v0)
    assert(state(dir) == before)
    assert(Compaction.deltaStats(spark, dir).isEmpty)
    // replay applies exactly once
    Compaction.merge(spark, dir,
      Seq((7L, "x", 1L, false)).toDF("id", "name", "version", "deleted"),
      mergeOnRead = true)
    assert(Compaction.lookup(spark, dir, 7L)
      .select("name").as[String].collect().toSeq == Seq("x"))
  }
}
