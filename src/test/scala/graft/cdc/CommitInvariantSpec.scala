package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StringType

import graft.SparkSpec

/** What every committed manifest carries, whatever wrote it: drives each
  * table family's commit paths and checks, over every version the
  * table ever had (recorded after each step, so versions a later step
  * vacuums are checked too):
  *
  *  - versions are contiguous and every one names its `op`;
  *  - `feed_batch` is present exactly on the version that published
  *    `feed/batch=<n>`: each published batch is claimed by one version,
  *    and no version claims an unpublished or another's batch;
  *  - `next_feed_batch` never decreases (and is `n + 1` on the version
  *    that published batch `n`);
  *  - `feed_epoch` and `lineage_floor` are never dropped and never
  *    move backward once set.
  */
class CommitInvariantSpec extends SparkSpec {

  import spark.implicits._

  /** Every manifest of `dir` seen so far, by version. */
  private final class Versions(dir: String) {
    private val seen =
      scala.collection.mutable.TreeMap.empty[Long, TxLog.Snapshot]
    def step(body: => Any): Unit = {
      body
      TxLog.versionsOnDisk(spark, dir).foreach(v =>
        seen.getOrElseUpdate(v, TxLog.read(spark, dir, v)))
    }
    def all: Seq[TxLog.Snapshot] = seen.values.toSeq
  }

  private def published(dir: String): Set[Long] = {
    val fs = TxLog.fs(spark, dir)
    val root = new Path(s"$dir/feed")
    if (!fs.exists(root)) Set.empty
    else fs.listStatus(root).map(_.getPath.getName)
      .collect { case n if n.startsWith("batch=") => n.drop(6).toLong }.toSet
  }

  private def checkInvariants(dir: String, snaps: Seq[TxLog.Snapshot]): Unit = {
    val versions = snaps.map(_.version)
    assert(versions == (versions.head to versions.last),
      s"$dir: versions not contiguous: $versions")
    snaps.foreach(s => assert(s.prop("op").exists(_.nonEmpty),
      s"$dir v${s.version} records no op: ${s.props}"))

    val claims = snaps.flatMap(s =>
      s.prop("feed_batch").map(b => b.toLong -> s.version))
    val pub = published(dir)
    claims.groupBy(_._1).foreach { case (b, vs) =>
      assert(vs.size == 1,
        s"$dir: feed batch $b claimed by versions ${vs.map(_._2)}")
      assert(pub.contains(b),
        s"$dir: v${vs.head._2} claims unpublished feed batch $b")
    }
    assert(pub == claims.map(_._1).toSet,
      s"$dir: published $pub but claimed ${claims.map(_._1)}")
    snaps.foreach(s => s.prop("feed_batch").foreach(b =>
      assert(s.counter("next_feed_batch") == b.toLong + 1L,
        s"$dir v${s.version}: feed_batch $b with next_feed_batch " +
          s"${s.counter("next_feed_batch")}")))

    snaps.sliding(2).filter(_.size == 2).foreach { case Seq(a, b) =>
      assert(b.counter("next_feed_batch") >= a.counter("next_feed_batch"),
        s"$dir: next_feed_batch fell from v${a.version} to v${b.version}")
      Seq("feed_epoch", "lineage_floor").foreach { k =>
        a.prop(k).foreach { was =>
          assert(b.prop(k).exists(_.toLong >= was.toLong),
            s"$dir: $k $was at v${a.version} dropped or lowered at " +
              s"v${b.version}: ${b.prop(k)}")
        }
      }
    }
  }

  private def ts(day: Int) =
    java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")

  private def rows(ids: Seq[Long], tag: String, ver: Long): DataFrame =
    ids.map(i => (i, s"$tag-$i", ts(1 + (i % 10).toInt), ver, false))
      .toDF("id", "payload", "ts", "version", "deleted")

  test("Compaction commits: CoW/MoR feed merges, compact, rebucket, " +
      "restore, ALTER, setFeedEnabled, retire-partitions, replace") {
    val dir = tmpDir("inv-merge") + "/t"
    val log = new Versions(dir)
    def init(d: String, tag: String): Unit =
      Compaction.init(rows(1L to 40L, tag, 1L), d, Seq("id"), "version",
        "deleted", nBuckets = 4, clusterBy = Nil, feed = true,
        timePartition = Some("days" -> "ts"))
    def merge(ids: Seq[Long], ver: Long, mor: Boolean): Unit =
      Compaction.merge(spark, dir, rows(ids, s"v$ver", ver),
        retainHistory = true, mergeOnRead = mor)

    log.step(init(dir, "v0"))
    log.step(merge(Seq(1L, 2L, 50L), 2L, mor = false))
    log.step(merge(Seq(3L, 51L), 3L, mor = true))
    log.step(Compaction.compact(spark, dir, retainHistory = true))
    log.step(Compaction.rebucket(spark, dir, 8, retainHistory = true))
    log.step(Compaction.restore(spark, dir, 1L))
    // metadata-only commits right after a feed-emitting one must not
    // re-claim its batch
    log.step(Compaction.setFeedEnabled(spark, dir, enabled = false))
    log.step(Compaction.alterSchema(spark, dir,
      Seq(Compaction.SchemaChange.AddColumn("note", StringType))))
    log.step(merge(Seq(4L), 4L, mor = false))
    // nothing below the first cut: a floor-only commit
    log.step(Compaction.dropPartitionsBefore(spark, dir, ts(1)))
    log.step(merge(Seq(5L, 12L), 5L, mor = true))
    // a dirty bucket holding doomed partitions folds, then retires
    log.step(Compaction.dropPartitionsBefore(spark, dir, ts(4)))
    log.step(Compaction.setFeedEnabled(spark, dir, enabled = true))
    log.step(merge(Seq(6L), 6L, mor = true))
    val stage = tmpDir("inv-merge-stage") + "/t"
    init(stage, "r")
    log.step(Compaction.replaceWith(spark, dir, stage, feed = true))
    log.step(merge(Seq(7L), 7L, mor = false))

    val snaps = log.all
    checkInvariants(dir, snaps)
    val ops = snaps.map(_.props("op"))
    Seq("init", "merge", "merge-mor", "compact", "rebucket", "restore",
        "alter", "retire-partitions", "replace").foreach(op =>
      assert(ops.contains(op), s"no $op commit in $ops"))
    val last = snaps.last
    assert(last.prop("feed_epoch").contains("2") &&
      last.prop("lineage_floor").isDefined, last.props.toString)
    // CoW, MoR, restore, feed MoR and replace each published one batch
    assert(published(dir) == (0L to 5L).toSet, published(dir).toString)
  }

  test("Scd2 commits: init, merge, merge-on-read, no-op expire, compact") {
    val dir = tmpDir("inv-scd2") + "/t"
    val log = new Versions(dir)
    def batch(ids: Seq[Long], ver: Long) =
      ids.map(i => (i, s"v$ver-$i", ver, false))
        .toDF("id", "payload", "version", "deleted")
    log.step(Scd2.init(batch(1L to 10L, 1L), dir, "id", "version",
      "deleted", nBuckets = 2))
    log.step(Scd2.merge(spark, dir, batch(Seq(1L), 5L)))
    log.step(Scd2.merge(spark, dir, batch(Seq(2L), 6L), mergeOnRead = true))
    // no interval closed at or before 3: only the floor commits
    log.step(assert(Scd2.expireHistoryBefore(spark, dir, 3L,
      retainHistory = true) == 0L))
    log.step(Scd2.compact(spark, dir, retainHistory = true))
    val snaps = log.all
    checkInvariants(dir, snaps)
    assert(snaps.map(_.props("op")) ==
      Seq("init", "merge", "merge-mor", "expire", "compact"))
  }

  test("AggView commits: init, applyFeed, merge") {
    val dir = tmpDir("inv-agg") + "/t"
    val log = new Versions(dir)
    log.step(AggView.init(Seq((1L, 10.0), (2L, 20.0)).toDF("grp", "amount"),
      dir, "grp", "amount", nBuckets = 2))
    log.step(AggView.applyFeed(spark, dir,
      Seq((1L, 5.0, "insert"), (2L, 20.0, "delete"))
        .toDF("grp", "amount", "_change_type"), batchId = 0L))
    log.step(AggView.merge(spark, dir,
      Seq((3L, 1.0)).toDF("grp", "amount"), batchId = 1L))
    val snaps = log.all
    checkInvariants(dir, snaps)
    assert(snaps.map(_.props("op")) == Seq("init", "applyFeed", "merge"))
  }
}
