package graft.cdc

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** Round-6 hardening of the commit protocol against the three races
  * the round-5 advisory identified:
  *
  *  1. vacuum used to delete old manifests — the commit CAS fence — so
  *     a slow writer could rename its manifest into a vacated slot and
  *     "succeed" while its data is absent from the live lineage.
  *     Vacuum now writes a monotonic tombstone BEFORE deleting, and
  *     commit refuses any version at or below it.
  *  2. the orphan-grace clock used the staging dir's mtime, which the
  *     install rename preserves from the START of the staging write —
  *     a long staging phase made a LIVE writer's just-installed
  *     generation sweep-eligible. Install now re-stamps mtimes to NOW.
  *  3. a post-commit feed-publish failure used to re-enter the OCC
  *     loop (the version moved — by our own commit), re-running the
  *     already-applied merge and dropping the batch's change events.
  *     It now surfaces as the non-retryable PostCommitPublishFailure.
  */
class TxLogFenceSpec extends SparkSpec {

  import spark.implicits._

  private def initUsers(dir: String): Unit =
    Compaction.init(
      Seq((1L, "a", 1L, false), (2L, "b", 1L, false))
        .toDF("id", "name", "v", "del"),
      dir, "id", "v", "del", nBuckets = 4)

  private def upsert(dir: String, id: Long, name: String, v: Long): Unit =
    Compaction.merge(spark, dir,
      Seq((id, name, v, false)).toDF("id", "name", "v", "del"),
      retainHistory = true)

  test("commit into a vacuumed slot is fenced: CommitConflict, lineage intact") {
    val dir = tmpDir("fence-vacuum") + "/t"
    initUsers(dir)                       // v0
    upsert(dir, 1L, "a2", 2L)            // v1
    upsert(dir, 2L, "b2", 2L)            // v2
    Compaction.vacuum(spark, dir, keepFromVersion = 2L)  // drops v0, v1

    // a slow writer that based its work on v0 and lost two commit
    // races now tries to claim the vacated v1 slot — the exact silent
    // lost-update the tombstone fence exists to stop
    val stale = TxLog.latest(spark, dir).get.props
    intercept[TxLog.CommitConflict] {
      TxLog.commit(spark, dir, 1L, stale)
    }
    // no forked history: v1 stays gone, the live lineage is untouched
    assert(TxLog.versionsOnDisk(spark, dir) == Seq(2L))
    val live = Compaction.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(live == Set((1L, "a2"), (2L, "b2")))
    // versions above the fence still commit normally (merge → v3)
    upsert(dir, 3L, "c", 1L)
    assert(TxLog.latestVersion(spark, dir).contains(3L))
  }

  test("vacuum fence survives a second vacuum (monotonic, superseded tombstone dropped)") {
    val dir = tmpDir("fence-monotonic") + "/t"
    initUsers(dir)                       // v0
    (2L to 5L).foreach(v => upsert(dir, 1L, s"a$v", v))  // v1..v4
    Compaction.vacuum(spark, dir, keepFromVersion = 2L)  // drops v0, v1
    assert(TxLog.highestVacuumed(spark, dir) == 1L)
    Compaction.vacuum(spark, dir, keepFromVersion = 4L)  // drops v2, v3
    assert(TxLog.highestVacuumed(spark, dir) == 3L)
    // every vacated slot is fenced, not just the latest vacuum's
    val props = TxLog.latest(spark, dir).get.props
    Seq(0L, 1L, 2L, 3L).foreach { v =>
      intercept[TxLog.CommitConflict] { TxLog.commit(spark, dir, v, props) }
    }
    // only the max tombstone survives as a file (hygiene), fence intact
    val fs = TxLog.fs(spark, dir)
    val tombs = fs.listStatus(new Path(s"$dir/manifest")).map(_.getPath.getName)
      .count(n => n.startsWith("t") && n.endsWith(".vacuumed"))
    assert(tombs == 1, s"expected one surviving tombstone, found $tombs")
  }

  test("install re-stamps mtime: a long-staging writer's install survives the sweep") {
    val dir = tmpDir("fence-mtime") + "/t"
    initUsers(dir)                       // v0
    val fs = TxLog.fs(spark, dir)

    // stage a merge by hand, then BACKDATE the staged data dir to
    // simulate a staging write that started hours ago (the install
    // rename preserves this mtime absent the fix)
    val m = TxLog.latest(spark, dir).get
    val txn = new TableTxn(spark, dir, m)
    Seq((1L, "a9", 9L, false)).toDF("id", "name", "v", "del")
      .withColumn("bucket", Bucketing.bucketOf(org.apache.spark.sql
        .functions.col("id"), 4))
      .write.partitionBy("bucket").parquet(s"${txn.staging}/data")
    val old = System.currentTimeMillis() - 48L * 3600L * 1000L
    fs.setTimes(new Path(s"${txn.staging}/data"), old, -1)

    val staged = fs.listStatus(new Path(s"${txn.staging}/data")).toSeq
      .map(_.getPath.getName).filter(_.startsWith("bucket="))
      .map(_.drop(7).toInt)
    val snap = txn.commit(
      newBuckets = m.buckets ++ staged.map(b => b -> txn.bucketRel(b)).toMap,
      props = m.props.filterNot(_._1.startsWith("bucket.")), op = "merge")
    // a sweep right in the post-install window must NOT reclaim the
    // just-committed generation even though its pre-rename mtime was
    // 48h old (grace default is 12h)
    TxLog.sweep(spark, dir)
    staged.foreach { b =>
      assert(fs.exists(new Path(s"$dir/data/${txn.bucketRel(b)}")),
        s"sweep reclaimed a live just-installed bucket $b")
    }
    assert(snap.version == m.version + 1)
  }

  test("PostCommitPublishFailure escapes withOcc without a retry") {
    val dir = tmpDir("fence-postcommit") + "/t"
    initUsers(dir)                       // v0
    var attempts = 0
    val e = intercept[TxLog.PostCommitPublishFailure] {
      TxLog.withOcc(spark, dir) {
        attempts += 1
        // the body commits (version moves — the condition that used to
        // make ANY failure look retryable), then its publish fails
        val m = TxLog.latest(spark, dir).get
        TxLog.commit(spark, dir, m.version + 1, m.props)
        throw new TxLog.PostCommitPublishFailure(
          "table committed but feed publish failed", null)
      }
    }
    assert(attempts == 1,
      s"withOcc retried an already-committed merge $attempts times")
    assert(e.getMessage.contains("feed publish failed"))
  }
}
