package graft.cdc

import java.util.concurrent.{CountDownLatch, Executors}

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Multi-writer optimistic concurrency on the maintained-table family:
  * two writers race the manifest CAS; the loser's [[TxLog.withOcc]]
  * retry recomputes against the winner's snapshot. Writer-unique
  * staging and generation directories mean neither writer can clobber
  * the other's in-flight data (the pre-OCC shared `.staging` made any
  * second writer destructive), and the grace-aware sweep leaves a live
  * writer's install alone.
  *
  * The final state must equal SOME serial order of the batches — for
  * the batches used here every serial order converges to the same
  * table, so the assertion is exact.
  */
class ConcurrentMergeSpec extends SparkSpec {
  import spark.implicits._

  private def concurrently[A](thunks: (() => A)*): Seq[A] = {
    val pool = Executors.newFixedThreadPool(thunks.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val gate = new CountDownLatch(1)
    val fs = thunks.map(t => Future { gate.await(); t() })
    gate.countDown()
    // generous: two concurrent multi-job merges under external host
    // load have blown a 2-minute bound once (same contention pattern
    // as the round-4 bench anomaly) — the bound exists to fail a
    // deadlock, not a slow machine
    try fs.map(f => Await.result(f, 600.seconds))
    finally pool.shutdown()
  }

  test("Compaction: two racing merges both land; state = serial order") {
    val dir = tmpDir("occ-compaction") + "/t"
    Compaction.init(
      (1L to 40L).map(i => (i, s"v0-$i", 0L, false))
        .toDF("id", "payload", "version", "deleted"),
      dir, "id", "version", "deleted", nBuckets = 8)

    // disjoint key sets (overlapping buckets): every serial order
    // yields the same final table
    val batchA = (1L to 10L).map(i => (i, s"A-$i", 1L, false))
      .toDF("id", "payload", "version", "deleted")
    val batchB = (11L to 20L).map(i => (i, s"B-$i", 1L, false))
      .toDF("id", "payload", "version", "deleted")

    val stats = concurrently(
      () => Compaction.merge(spark, dir, batchA, retainHistory = true),
      () => Compaction.merge(spark, dir, batchB, retainHistory = true))
    assert(stats.forall(_.rowsWritten > 0), s"a merge was lost: $stats")

    // both writers committed: the version advanced twice
    assert(TxLog.latestVersion(spark, dir).contains(2L),
      "each racing merge should have committed exactly one version")
    val got = Compaction.read(spark, dir)
      .select($"id", $"payload").as[(Long, String)].collect().toMap
    (1L to 10L).foreach(i => assert(got(i) == s"A-$i", s"key $i lost A's write"))
    (11L to 20L).foreach(i => assert(got(i) == s"B-$i", s"key $i lost B's write"))
    (21L to 40L).foreach(i => assert(got(i) == s"v0-$i", s"key $i corrupted"))
    assert(got.size == 40)
  }

  test("Compaction: racing merges on the SAME keys converge to max version") {
    val dir = tmpDir("occ-conflict") + "/t"
    Compaction.init(
      (1L to 10L).map(i => (i, s"v0-$i", 0L, false))
        .toDF("id", "payload", "version", "deleted"),
      dir, "id", "version", "deleted", nBuckets = 4)
    val v1 = (1L to 10L).map(i => (i, s"v1-$i", 1L, false))
      .toDF("id", "payload", "version", "deleted")
    val v2 = (1L to 10L).map(i => (i, s"v2-$i", 2L, false))
      .toDF("id", "payload", "version", "deleted")

    concurrently(
      () => Compaction.merge(spark, dir, v1),
      () => Compaction.merge(spark, dir, v2))
    // whichever order the CAS picked, the reconciliation rule (max
    // version wins) makes the outcome order-independent
    val got = Compaction.read(spark, dir)
      .select($"id", $"payload").as[(Long, String)].collect().toMap
    (1L to 10L).foreach(i => assert(got(i) == s"v2-$i",
      s"key $i should hold the max-version write, got ${got(i)}"))
  }

  test("AggView: same batchId raced by two writers applies exactly once") {
    val dir = tmpDir("occ-aggview") + "/v"
    AggView.init(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"),
      dir, "k", "v", nBuckets = 4)
    val batch = Seq((1L, 5.0), (3L, 7.0)).toDF("k", "v")

    val stats = concurrently(
      () => AggView.merge(spark, dir, batch, batchId = 1L),
      () => AggView.merge(spark, dir, batch, batchId = 1L))
    assert(stats.count(_.applied) == 1,
      s"batchId fence must admit exactly one of the racing writers: $stats")

    val got = AggView.read(spark, dir)
      .select($"k", $"total".cast("double")).as[(Long, Double)]
      .collect().toMap
    assert(got(1L) == 15.0, s"key 1 double-counted or lost: $got")
    assert(got(3L) == 7.0, s"key 3 double-counted or lost: $got")
  }

  test("Scd2: racing history merges both splice in") {
    val dir = tmpDir("occ-scd2") + "/t"
    Scd2.init((1L to 20L).map(i => (i, s"v0-$i", 0L, false))
      .toDF("id", "payload", "version", "deleted"),
      dir, "id", "version", "deleted", nBuckets = 4)
    val a = Seq((1L, "v1-1", 1L, false)).toDF("id", "payload", "version", "deleted")
    val b = Seq((2L, "v1-2", 1L, false)).toDF("id", "payload", "version", "deleted")

    concurrently(
      () => Scd2.merge(spark, dir, a),
      () => Scd2.merge(spark, dir, b))
    val hist = Scd2.read(spark, dir)
    assert(hist.count() == 22L, "both history rows must have landed")
    val current = Scd2.current(spark, dir)
      .select($"id", $"payload").as[(Long, String)].collect().toMap
    assert(current(1L) == "v1-1" && current(2L) == "v1-2")
    // the superseded v0 rows are closed, not current
    val closed = hist.filter($"id".isin(1L, 2L) && !$"is_current")
      .select($"valid_to".cast("long")).as[Long].collect()
    assert(closed.toSeq == Seq(1L, 1L))
  }

  test("a rebucket landing under an in-flight merge forces a re-bucketed retry") {
    val dir = tmpDir("occ-rebucket") + "/t"
    Compaction.init((1L to 40L).map(i => (i, s"v0-$i", 0L, false))
      .toDF("id", "payload", "version", "deleted"),
      dir, "id", "version", "deleted", nBuckets = 4)
    // fire a rebucket from INSIDE the merge's commit window: the merge
    // bucketed its changelog under nBuckets=4, the rebucket moves the
    // table to 16, the merge's CAS loses — and an OCC retry alone
    // would write 4-bucket ids into the 16-bucket layout (keys a point
    // lookup could then never find); the detector must restart the
    // whole merge under the new layout instead
    var fired = false
    TxLog.beforeCommit = () => {
      if (!fired) {
        fired = true
        TxLog.beforeCommit = () => ()
        Compaction.rebucket(spark, dir, 16)
      }
    }
    try Compaction.merge(spark, dir,
      Seq((7L, "v1-7", 1L, false)).toDF("id", "payload", "version", "deleted"))
    finally TxLog.beforeCommit = () => ()

    val (_, _, _, nB) = Compaction.readMeta(spark, dir)
    assert(nB == 16, "the rebucket must have won the layout")
    // the merged key is found by the NEW layout's point lookup — the
    // exact read a stale-bucket write would silently break
    assert(Compaction.lookup(spark, dir, 7L)
      .select($"payload").as[String].collect().toSeq == Seq("v1-7"))
    assert(Compaction.read(spark, dir).count() == 40L)
    // every live bucket dir is consistent with its contents' hash
    val live = Compaction.livePaths(spark, dir)
    live.foreach { case (b, p) =>
      val ids = spark.read.parquet(p).select($"id").as[Long].collect()
      ids.foreach { id =>
        val expect = spark.range(1)
          .select(graft.cdc.Bucketing.bucketOf(lit(id), 16)).head().getInt(0)
        assert(expect == b, s"key $id misplaced: dir bucket=$b, hash $expect")
      }
    }
  }

  test("AggView rebucket carries the fence; an in-flight delta merge restarts") {
    val dir = tmpDir("occ-agg-rebucket") + "/v"
    AggView.init((1L to 40L).map(i => (i % 10, i.toDouble)).toDF("k", "v"),
      dir, "k", "v", nBuckets = 2, batchId = 0L)
    // fire the rebucket from inside the delta merge's commit window
    var fired = false
    TxLog.beforeCommit = () => {
      if (!fired) {
        fired = true
        TxLog.beforeCommit = () => ()
        AggView.rebucket(spark, dir, 8)
      }
    }
    try {
      val stats = AggView.merge(spark, dir,
        Seq((3L, 100.0)).toDF("k", "v"), batchId = 1L)
      assert(stats.applied)
    } finally TxLog.beforeCommit = () => ()

    val (_, _, nB, fence) = AggView.readMeta(spark, dir)
    assert(nB == 8, "the rebucket must have won the layout")
    assert(fence == 1L, "the restarted merge must advance the fence")
    // content: keys 1..40 by k=i%10 → k=3 holds 3+13+23+33=72, +100
    val got = AggView.read(spark, dir)
      .filter(col("k") === 3L)
      .select(col("cnt"), col("total").cast("double"))
      .as[(Long, Double)].collect()
    assert(got.toSeq == Seq((5L, 172.0)), s"got $got")
  }

  /** Runs `write` with `rebucket` fired from inside its first commit
    * attempt, so that attempt's CAS loses to a new bucket layout.
    */
  private def underRebucket[A](rebucket: () => Unit)(write: => A): A = {
    var fired = false
    TxLog.beforeCommit = () => {
      if (!fired) {
        fired = true
        TxLog.beforeCommit = () => ()
        rebucket()
      }
    }
    try write
    finally TxLog.beforeCommit = () => ()
  }

  test("Scd2: a rebucket landing under an in-flight merge forces a " +
      "re-bucketed retry") {
    val dir = tmpDir("occ-scd2-rebucket") + "/t"
    Scd2.init((1L to 40L).map(i => (i, s"v0-$i", 0L, false))
      .toDF("id", "payload", "version", "deleted"),
      dir, "id", "version", "deleted", nBuckets = 4)
    underRebucket(() => Scd2.rebucket(spark, dir, 16)) {
      Scd2.merge(spark, dir, Seq((7L, "v1-7", 1L, false))
        .toDF("id", "payload", "version", "deleted"))
    }
    val (_, _, _, nB) = Scd2.readMeta(spark, dir)
    assert(nB == 16, "the rebucket must have won the layout")
    // the spliced history is found by the NEW layout's point lookup
    assert(Scd2.lookup(spark, dir, 7L)
      .select($"payload", $"is_current").as[(String, Boolean)]
      .collect().toSet == Set(("v0-7", false), ("v1-7", true)))
    assert(Scd2.read(spark, dir).count() == 41L)
    Scd2.livePaths(spark, dir).foreach { case (b, p) =>
      spark.read.parquet(p).select($"id").as[Long].collect().foreach { id =>
        assert(keyBucket(Seq(id), 16) == b,
          s"key $id misplaced: dir bucket=$b, hash ${keyBucket(Seq(id), 16)}")
      }
    }
  }

  test("AggView merge-on-read: an in-flight delta append restarts " +
      "re-bucketed") {
    val dir = tmpDir("occ-agg-mor-rebucket") + "/v"
    AggView.init((1L to 40L).map(i => (i % 10, i.toDouble)).toDF("k", "v"),
      dir, "k", "v", nBuckets = 2, batchId = 0L)
    val stats = underRebucket(() => AggView.rebucket(spark, dir, 8)) {
      AggView.merge(spark, dir, Seq((3L, 100.0)).toDF("k", "v"),
        batchId = 1L, mergeOnRead = true)
    }
    assert(stats.applied)
    val (_, _, nB, fence) = AggView.readMeta(spark, dir)
    assert(nB == 8 && fence == 1L)
    // the delta landed under the new layout: its chain is keyed by the
    // 8-bucket hash of the rows it holds
    val snap = TxLog.latest(spark, dir).get
    assert(snap.deltas.nonEmpty, "the restarted merge must stay merge-on-read")
    snap.deltas.foreach { case (b, rels) =>
      rels.foreach { rel =>
        spark.read.parquet(s"$dir/data/$rel").select($"k").as[Long]
          .collect().foreach(k => assert(keyBucket(Seq(k), 8) == b,
            s"delta key $k misplaced: chain bucket=$b"))
      }
    }
    val got = AggView.read(spark, dir).filter(col("k") === 3L)
      .select(col("cnt"), col("total").cast("double"))
      .as[(Long, Double)].collect()
    assert(got.toSeq == Seq((5L, 172.0)), s"got $got")
  }

  test("sweep leaves a younger-than-grace in-flight generation alone") {
    val dir = tmpDir("occ-grace") + "/t"
    Compaction.init(Seq((1L, "x", 0L, false))
      .toDF("id", "payload", "version", "deleted"),
      dir, "id", "version", "deleted", nBuckets = 2)
    val fs = TxLog.fs(spark, dir)
    // simulate another writer's freshly-installed, not-yet-committed
    // generation and staging
    val inflight = new org.apache.hadoop.fs.Path(s"$dir/data/g1-aaaaaaaa")
    val stagingDir = new org.apache.hadoop.fs.Path(s"$dir/.staging-bbbbbbbb")
    fs.mkdirs(inflight)
    fs.mkdirs(stagingDir)
    TxLog.sweep(spark, dir)
    assert(fs.exists(inflight),
      "sweep must not reclaim an in-flight generation within grace")
    assert(fs.exists(stagingDir),
      "sweep must not reclaim an in-flight staging dir within grace")
    val saved = TxLog.orphanGraceMs
    try {
      TxLog.orphanGraceMs = 0L
      TxLog.sweep(spark, dir)
    } finally TxLog.orphanGraceMs = saved
    assert(!fs.exists(inflight) && !fs.exists(stagingDir),
      "grace elapsed: the crashed writer's leftovers must be reclaimed")
  }
}
