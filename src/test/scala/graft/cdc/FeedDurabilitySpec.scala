package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-10 feed durability semantics (r9 advice items):
  *
  *  - the commit-then-publish crash window is RECOVERABLE: a writer
  *    that dies between its manifest commit and the feed-batch publish
  *    leaves the only copy of the events in its staging dir, and
  *    `repairFeed` / the sweep finish the publish instead of deleting
  *    it — consumers hold at the gap (no silent skip) until then;
  *  - retention expires batches by their durable publish-time marker
  *    (`_pub-<millis>-<fp>`), not directory mtime, and records the
  *    horizon (`_horizon-<n>`) BEFORE deleting anything;
  *  - publish markers fingerprint the schema epoch, so the
  *    evolution-aware read can group batches without per-batch footer
  *    inference.
  */
class FeedDurabilitySpec extends SparkSpec {

  import spark.implicits._

  private def initTable(dir: String): Unit =
    Compaction.init(
      Seq((1L, "v0-1", 0L, false), (2L, "v0-2", 0L, false))
        .toDF("id", "payload", "version", "deleted"),
      dir, key = "id", versionCol = "version", deleteCol = "deleted",
      nBuckets = 4)

  private def mergeOne(dir: String, id: Long, v: Long): Unit =
    Compaction.merge(spark, dir,
      Seq((id, s"v$v-$id", v, false))
        .toDF("id", "payload", "version", "deleted"),
      emitFeed = true, retainHistory = true)

  /** Simulate the crash window: un-publish the LATEST feed batch back
    * into the staging dir of the txn that committed it (the state a
    * kill between the manifest commit and publishFeed leaves behind —
    * the intent marker travelled with the publish, so the rename-back
    * restores the exact staged layout). Returns the batch id.
    */
  private def unpublishLatest(dir: String): Long = {
    val fs = TxLog.fs(spark, dir)
    val snap = TxLog.latest(spark, dir).get
    val txn = snap.prop("feed_txn").get
    val n = snap.prop("feed_batch").get.toLong
    val staged = new Path(s"$dir/.staging-$txn/feed")
    fs.mkdirs(staged.getParent)
    assert(fs.rename(new Path(s"$dir/feed/batch=$n"), staged))
    n
  }

  test("feed retention never expires past a committed-but-unpublished " +
      "batch: the recoverable lost publish stays below the horizon") {
    val dir = tmpDir("fdur-cap")
    initTable(dir)
    mergeOne(dir, 10L, 1L) // batch 0
    mergeOne(dir, 11L, 2L) // batch 1
    val lost = unpublishLatest(dir) // batch 1 back to its staging
    assert(lost == 1L)
    mergeOne(dir, 12L, 3L) // batch 2 (published)
    Thread.sleep(5)
    // everything is "old enough" — but expiry must CAP below the lost
    // batch: stamping the horizon past it would reclassify the
    // recoverable crash as retention and consumers would skip it
    Compaction.maintain(spark, dir, maxFeedAge = java.time.Duration.ZERO)
    val fs = TxLog.fs(spark, dir)
    assert(!fs.exists(new Path(s"$dir/feed/batch=0")),
      "the contiguous prefix below the lost batch must expire")
    assert(fs.exists(new Path(s"$dir/feed/batch=2")),
      "batches above the lost publish must survive")
    assert(Compaction.feedHorizon(spark, dir) == 1L,
      s"horizon must stop below the lost batch, " +
        s"got ${Compaction.feedHorizon(spark, dir)}")
    // the lost publish is still recoverable and consumers resume
    assert(Compaction.repairFeed(spark, dir) == 1)
    assert(fs.exists(new Path(s"$dir/feed/batch=1")))
    // vacuum's feedBefore path obeys the same fence
    val lost2 = { mergeOne(dir, 13L, 4L); unpublishLatest(dir) } // batch 3
    mergeOne(dir, 14L, 5L) // batch 4
    // keepFrom 0: only the FEED retention path is under test (dropping
    // the lost batch's committing manifest would separately disarm the
    // republish, by design)
    Compaction.vacuum(spark, dir, 0L, feedBefore = 100L)
    assert(Compaction.feedHorizon(spark, dir) == lost2,
      "vacuum must cap the horizon below the lost publish too")
    assert(fs.exists(new Path(s"$dir/feed/batch=4")))
    assert(Compaction.repairFeed(spark, dir) == 1)
  }

  test("a committed-but-unpublished batch blocks sync; repairFeed " +
      "finishes the publish and sync converges") {
    val dir = tmpDir("fdur")
    val rep = tmpDir("fdur-rep")
    initTable(dir)
    Replicator.init(spark, dir, rep)
    mergeOne(dir, 10L, 1L) // batch 0
    assert(Replicator.sync(spark, dir, rep) == 0L)
    mergeOne(dir, 11L, 2L) // batch 1
    val n = unpublishLatest(dir)
    assert(n == 1L)
    mergeOne(dir, 12L, 3L) // batch 2 — PUBLISHED, beyond the gap
    // sync must hold BEFORE the gap: applying batch 2 while 1 is
    // missing would diverge silently forever
    assert(Replicator.sync(spark, dir, rep) == 0L)
    assert(Compaction.read(spark, rep).count() == 3L) // 2 init + batch 0
    // repair completes the publish; sync drains to the head
    assert(Compaction.repairFeed(spark, dir) == 1)
    assert(Replicator.sync(spark, dir, rep) == 2L)
    val src = Compaction.read(spark, dir)
      .select($"id", $"payload").as[(Long, String)].collect().toSet
    val got = Compaction.read(spark, rep)
      .select($"id", $"payload").as[(Long, String)].collect().toSet
    assert(got == src)
    // exactly one publish marker survives the republish
    val fs = TxLog.fs(spark, dir)
    val markers = fs.listStatus(new Path(s"$dir/feed/batch=1"))
      .map(_.getPath.getName).filter(TableTxn.PubMarker.matches(_))
    assert(markers.length == 1, markers.toSeq)
  }

  test("the sweep republishes a stale staging's committed feed batch; " +
      "an UNcommitted staged feed is never published") {
    val dir = tmpDir("fdur")
    initTable(dir)
    mergeOne(dir, 10L, 1L) // batch 0
    mergeOne(dir, 11L, 2L) // batch 1
    val n = unpublishLatest(dir)
    // an orphan staging whose commit never landed: same shape, no
    // matching (feed_txn, feed_batch) manifest — must NOT publish
    val fs = TxLog.fs(spark, dir)
    val bogus = new Path(s"$dir/.staging-deadbeef/feed")
    fs.mkdirs(bogus)
    fs.create(new Path(bogus, "_batch-9"), true).close()
    fs.create(new Path(bogus, "part-00000"), true).close()
    val saved = TxLog.orphanGraceMs
    try {
      TxLog.orphanGraceMs = 0L
      TxLog.sweep(spark, dir)
    } finally TxLog.orphanGraceMs = saved
    assert(fs.exists(new Path(s"$dir/feed/batch=$n")),
      "sweep deleted a committed feed batch instead of republishing")
    assert(!fs.exists(new Path(s"$dir/feed/batch=9")),
      "sweep published an uncommitted staged feed")
    assert(!fs.exists(new Path(s"$dir/.staging-deadbeef")))
    // the republished batch reads back whole
    val ids = Compaction.readFeed(spark, dir)
      .filter($"batch" === n).select($"id").as[Long].collect().toSet
    assert(ids == Set(11L))
  }

  test("retention expires by the durable publish marker, not dir " +
      "mtime, and records the horizon before deleting") {
    val dir = tmpDir("fdur")
    initTable(dir)
    mergeOne(dir, 10L, 1L) // batch 0
    mergeOne(dir, 11L, 2L) // batch 1
    val fs = TxLog.fs(spark, dir)
    // batch 0: fresh dir mtime, marker backdated 10 days — marker wins
    val b0 = new Path(s"$dir/feed/batch=0")
    val m0 = fs.listStatus(b0).map(_.getPath)
      .find(p => TableTxn.PubMarker.matches(p.getName)).get
    val old = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    val fp = m0.getName.split("-").last
    assert(fs.rename(m0, new Path(b0, s"_pub-$old-$fp")))
    // batch 1: dir mtime backdated 10 days, marker fresh — marker wins
    val b1 = new Path(s"$dir/feed/batch=1")
    fs.setTimes(b1, old, -1)
    Compaction.maintain(spark, dir,
      maxFeedAge = java.time.Duration.ofDays(1))
    assert(!fs.exists(b0), "marker-expired batch survived")
    assert(fs.exists(b1), "mtime skew expired a younger-than-promised batch")
    // the horizon marker recorded the released prefix
    assert(Compaction.feedHorizon(spark, dir) == 1L)
    // a second retention pass supersedes the marker, leaving one
    fs.setTimes(b1, old, -1) // mtime alone must still not expire it
    val m1 = fs.listStatus(b1).map(_.getPath)
      .find(p => TableTxn.PubMarker.matches(p.getName)).get
    val fp1 = m1.getName.split("-").last
    assert(fs.rename(m1, new Path(b1, s"_pub-$old-$fp1")))
    Compaction.maintain(spark, dir,
      maxFeedAge = java.time.Duration.ofDays(1))
    assert(!fs.exists(b1))
    assert(Compaction.feedHorizon(spark, dir) == 2L)
    val horizons = fs.listStatus(new Path(s"$dir/feed"))
      .map(_.getPath.getName)
      .filter(Compaction.HorizonMarker.matches(_))
    assert(horizons.toSeq == Seq("_horizon-2"))
  }

  test("publish markers fingerprint the schema epoch: constant across " +
      "merges, new after ALTER") {
    val dir = tmpDir("fdur")
    initTable(dir)
    mergeOne(dir, 10L, 1L) // batch 0
    mergeOne(dir, 11L, 2L) // batch 1
    Compaction.alterSchema(spark, dir,
      Seq(Compaction.SchemaChange.AddColumn("note",
        org.apache.spark.sql.types.StringType)))
    mergeOne(dir, 12L, 3L) // batch 2, new epoch
    val fs = TxLog.fs(spark, dir)
    def fpOf(b: Long): String =
      fs.listStatus(new Path(s"$dir/feed/batch=$b"))
        .map(_.getPath.getName)
        .collectFirst { case TableTxn.PubMarker(_, h, _) => h }.get
    assert(fpOf(0) == fpOf(1), "same schema epoch, different fingerprint")
    assert(fpOf(0) != fpOf(2), "ALTER did not change the epoch")
    // the evolution-aware read still projects every epoch correctly
    val got = Compaction.readFeed(spark, dir)
      .filter($"_change_type" === "insert")
      .select($"id", $"payload").as[(Long, String)].collect().toSet
    assert(got == Set((10L, "v1-10"), (11L, "v2-11"), (12L, "v3-12")))
  }

  test("a metadata-only commit after a feed merge claims no feed batch: " +
      "setFeedEnabled(false) drops the feed_batch/feed_txn pair") {
    val dir = tmpDir("fdur-toggle")
    initTable(dir)
    Compaction.setFeedEnabled(spark, dir, enabled = true)
    mergeOne(dir, 10L, 1L) // batch 0
    val merged = TxLog.latest(spark, dir).get
    assert(merged.prop("feed_batch").contains("0"))
    Compaction.setFeedEnabled(spark, dir, enabled = false)
    val toggled = TxLog.latest(spark, dir).get
    assert(toggled.version == merged.version + 1L)
    // the pair republishStagedFeed matches a crashed staging against
    // belongs to the merge's version alone
    assert(toggled.prop("feed_batch").isEmpty &&
      toggled.prop("feed_txn").isEmpty, toggled.props.toString)
    assert(toggled.counter("next_feed_batch") == 1L)
    assert(toggled.prop("op").contains("alter"))
    assert(!Compaction.feedEnabled(spark, dir))
    assert(Compaction.repairFeed(spark, dir) == 0)
  }
}
