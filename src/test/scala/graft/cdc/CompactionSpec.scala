package graft.cdc

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The distributed keyed MERGE (graft.cdc.Compaction): upsert/delete
  * semantics match a from-scratch latest-state recompute (the
  * cdc_compaction query shape and the reference's ON CONFLICT upsert),
  * while the write path provably rewrites ONLY partitions containing
  * changed keys — the property that makes the operator viable against
  * a 100 TB table.
  */
class CompactionSpec extends SparkSpec {

  import spark.implicits._

  private val N_BUCKETS = 8

  private def snapshot(n: Int): DataFrame =
    spark.range(1, n + 1)
      .select(col("id"),
        concat(lit("v0-"), col("id")).as("payload"),
        lit(0L).as("version"),
        lit(false).as("deleted"))

  private def freshTable(n: Int = 100): String = {
    val dir = tmpDir("compaction")
    Compaction.init(snapshot(n), dir, key = "id",
      versionCol = "version", deleteCol = "deleted", nBuckets = N_BUCKETS)
    dir
  }

  /** (path, length, mtime) of every data file of every LIVE bucket,
    * resolved through the manifest (the reader's own path resolution).
    */
  private def fileState(dir: String): Map[String, Seq[(String, Long, Long)]] = {
    import scala.jdk.CollectionConverters._
    Compaction.livePaths(spark, dir).map { case (b, p) =>
      val files = Files.list(Paths.get(p)).iterator().asScala
        .filter(f => !f.getFileName.toString.startsWith("."))
        .map(f => (f.toString, Files.size(f),
          Files.getLastModifiedTime(f).toMillis)).toSeq.sortBy(_._1)
      s"bucket=$b" -> files
    }
  }

  /** From-scratch reconciliation the merge must agree with. */
  private def recompute(snap: DataFrame, changes: DataFrame): Set[(Long, String, Long)] = {
    val w = Window.partitionBy(col("id"))
      .orderBy(col("version").desc, col("_src").desc)
    snap.withColumn("_src", lit(0))
      .unionByName(changes.withColumn("_src", lit(1)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !col("deleted"))
      .select("id", "payload", "version")
      .as[(Long, String, Long)].collect().toSet
  }

  private def readState(dir: String): Set[(Long, String, Long)] =
    Compaction.read(spark, dir).select("id", "payload", "version")
      .as[(Long, String, Long)].collect().toSet

  test("merge == from-scratch recompute (update + insert + delete)") {
    val dir = freshTable(100)
    val changes = Seq(
      (7L, "v1-7", 1L, false),     // update existing key
      (101L, "v1-101", 1L, false), // insert brand-new key
      (13L, "", 1L, true),         // delete existing key
      (999L, "", 1L, true))        // delete of absent key: no-op
      .toDF("id", "payload", "version", "deleted")
    val stats = Compaction.merge(spark, dir, changes)
    assert(readState(dir) == recompute(snapshot(100), changes))
    assert(stats.rowsWritten > 0)
    // upsert visible: new payload for 7, key 13 gone, 101 present
    val m = readState(dir).map(r => r._1 -> r._2).toMap
    assert(m(7L) == "v1-7" && m(101L) == "v1-101" && !m.contains(13L))
  }

  test("changelog beats snapshot at equal version (ON CONFLICT DO UPDATE)") {
    val dir = freshTable(20)
    val changes = Seq((5L, "conflict-wins", 0L, false))
      .toDF("id", "payload", "version", "deleted")
    Compaction.merge(spark, dir, changes)
    assert(readState(dir).map(r => r._1 -> r._2).toMap.apply(5L)
      == "conflict-wins")
  }

  test("untouched partitions are byte-identical after a merge") {
    val dir = freshTable(200)
    val before = fileState(dir)
    assert(before.size == N_BUCKETS, s"expected all buckets populated: $before")
    val changes = Seq((42L, "v1-42", 1L, false))
      .toDF("id", "payload", "version", "deleted")
    val stats = Compaction.merge(spark, dir, changes)
    assert(stats.touchedBuckets.size == 1)
    val touched = stats.touchedBuckets.map(b => s"bucket=$b").toSet
    val after = fileState(dir)
    val untouched = before.keySet -- touched
    assert(untouched.nonEmpty)
    untouched.foreach { b =>
      assert(after(b) == before(b),
        s"untouched $b was rewritten: ${before(b)} -> ${after(b)}")
    }
    touched.foreach(b => assert(after(b) != before(b)))
  }

  test("merge reads only touched buckets' files (path-pruned scan)") {
    val dir = freshTable(200)
    val touched = Seq(3)
    val plan = Compaction.prunedSnapshot(spark, dir, touched)
    // path pruning happens at manifest resolution, before Spark ever
    // lists a directory: the scan's input files must all live under
    // the one touched bucket's directory and nothing else
    val files = plan.inputFiles
    assert(files.nonEmpty)
    assert(files.forall(_.contains("/bucket=3/")),
      s"scan read beyond the touched bucket: ${files.mkString(", ")}")
    val allLive = fileState(dir).values.flatten.size
    assert(files.length < allLive,
      "pruned scan unexpectedly covers the whole table")
  }

  test("point lookup opens exactly one bucket and covers every outcome") {
    val dir = freshTable(200)
    Compaction.merge(spark, dir, Seq(
      (7L, "v1-7", 1L, false),    // update
      (201L, "v1-201", 1L, false), // insert
      (13L, "", 1L, true))         // delete
      .toDF("id", "payload", "version", "deleted"))
    def hit(k: Long): Seq[(Long, String)] =
      Compaction.lookup(spark, dir, k)
        .select("id", "payload").as[(Long, String)].collect().toSeq
    assert(hit(7L) == Seq((7L, "v1-7")))
    assert(hit(201L) == Seq((201L, "v1-201")))
    assert(hit(42L) == Seq((42L, "v0-42"))) // untouched snapshot row
    assert(hit(13L).isEmpty)  // tombstoned
    assert(hit(999L).isEmpty) // never present
    // the scan behind a hit opens ONE bucket's files, nothing else
    val files = Compaction.lookup(spark, dir, 42L).inputFiles
    assert(files.nonEmpty)
    val bucketDirs = files.map(f => f.substring(0, f.lastIndexOf('/'))).toSet
    assert(bucketDirs.size == 1,
      s"lookup read more than one bucket: $bucketDirs")
  }

  test("a fully-deleted bucket's directory is removed, not left stale") {
    // one lonely key: find a bucket holding exactly one id, delete it
    val dir = tmpDir("compaction")
    Compaction.init(
      Seq((1L, "only", 0L, false)).toDF("id", "payload", "version", "deleted"),
      dir, "id", "version", "deleted", nBuckets = N_BUCKETS)
    val bucketDirs0 = fileState(dir).keySet
    assert(bucketDirs0.size == 1)
    val stats = Compaction.merge(spark, dir,
      Seq((1L, "", 1L, true)).toDF("id", "payload", "version", "deleted"))
    assert(stats.emptiedBuckets.nonEmpty)
    assert(fileState(dir).keySet.isEmpty, "stale bucket dir survived")
    assert(Compaction.read(spark, dir).count() == 0L)
  }

  test("manifest row stats stay exact across merges (zero-scan count)") {
    val dir = freshTable(100)
    assert(Compaction.countRows(spark, dir) == 100L)
    Compaction.merge(spark, dir, Seq(
      (7L, "v1-7", 1L, false),    // update: count unchanged
      (101L, "v1-101", 1L, false), // insert: +1
      (13L, "", 1L, true))         // delete: -1
      .toDF("id", "payload", "version", "deleted"))
    assert(Compaction.countRows(spark, dir) == 100L)
    assert(Compaction.countRows(spark, dir) ==
      Compaction.read(spark, dir).count())
    // per-bucket stats sum to the total and cover every live bucket
    val stats = Compaction.bucketStats(spark, dir)
    assert(stats.map(_._2).sum == 100L)
    assert(stats.map(_._1).toSet ==
      Compaction.livePaths(spark, dir).keySet)
  }

  test("readChangedSince prunes to zone-map-passing buckets, file-exactly") {
    val dir = freshTable(100)
    // one narrow batch at version 5: only its keys' buckets get a
    // higher zone-map max
    val batch = Seq((7L, "v5-7", 5L, false), (8L, "v5-8", 5L, false))
      .toDF("id", "payload", "version", "deleted")
    val stats = Compaction.merge(spark, dir, batch, retainHistory = true)
    val live = Compaction.livePaths(spark, dir)
    val touchedDirs = stats.touchedBuckets.map(live).toSet

    val changed = Compaction.readChangedSince(spark, dir, since = 0L)
    // correctness: exactly the narrow batch's rows
    assert(changed.select($"id", $"payload").as[(Long, String)]
      .collect().toSet == Set((7L, "v5-7"), (8L, "v5-8")))
    // pruning: the scan's input files all live in touched buckets'
    // directories — untouched buckets (max version still 0) are
    // never opened
    val opened = changed.inputFiles.toSet
      .map((f: String) => new java.net.URI(f).getPath)
    assert(opened.nonEmpty)
    assert(opened.forall(f => touchedDirs.exists(d => f.startsWith(d))),
      s"scan opened un-pruned files: $opened vs $touchedDirs")
    assert(touchedDirs.size < live.size,
      "precondition: the batch must touch a strict subset of buckets")

    // a watermark at/above the max prunes EVERYTHING (zero files)
    val none = Compaction.readChangedSince(spark, dir, since = 5L)
    assert(none.count() == 0L)
    assert(none.inputFiles.isEmpty,
      "fully-pruned scan must not open any file")

    // semantics == unpruned filter over the full table
    val full = Compaction.read(spark, dir).filter($"version" > 0L)
      .select($"id", $"payload").as[(Long, String)].collect().toSet
    assert(full == Set((7L, "v5-7"), (8L, "v5-8")))
  }

  test("lookupMany == union of lookups, over at most |keys| buckets") {
    val dir = freshTable(100)
    Compaction.merge(spark, dir,
      Seq((7L, "v1-7", 1L, false), (200L, "v1-200", 1L, false))
        .toDF("id", "payload", "version", "deleted"))
    val keys = Seq(7L, 200L, 13L, 999L) // updated, inserted, v0, absent
    val many = Compaction.lookupMany(spark, dir, keys)
    val single = keys.map(k => Compaction.lookup(spark, dir, k))
      .reduce(_.unionByName(_))
    assert(many.select($"id", $"payload").as[(Long, String)].collect().toSet ==
      single.select($"id", $"payload").as[(Long, String)].collect().toSet)
    assert(many.select($"id").as[Long].collect().toSet == Set(7L, 200L, 13L))
    val openedDirs = many.inputFiles
      .map(f => { val p = new java.net.URI(f).getPath
        p.substring(0, p.lastIndexOf('/')) }).toSet
    assert(openedDirs.size <= keys.size,
      s"batch lookup opened ${openedDirs.size} dirs for ${keys.size} keys")
    assert(Compaction.lookupMany(spark, dir, Nil).count() == 0L)
  }

  test("null merge keys form one deterministic key group") {
    // null is a degenerate-but-deterministic key: it hashes to one
    // fixed bucket, upserts/deletes reconcile like any key, and —
    // plain SQL semantics — equality lookups can never address it
    // (read it back with isNull). Pinned so a null-keyed feed can't
    // silently fork rows across buckets.
    val dir = tmpDir("compaction-nullkey")
    Compaction.init(
      Seq((Some(1L), "a", 0L, false), (None, "n0", 0L, false))
        .toDF("id", "payload", "version", "deleted"),
      dir, "id", "version", "deleted", nBuckets = 8)
    Compaction.merge(spark, dir,
      Seq((Option.empty[Long], "n1", 1L, false))
        .toDF("id", "payload", "version", "deleted"))
    val nulls = Compaction.read(spark, dir).filter($"id".isNull)
      .select($"payload").as[String].collect()
    assert(nulls.toSeq == Seq("n1"), "null key must upsert as ONE group")
    assert(Compaction.lookup(spark, dir, null).count() == 0L,
      "equality lookup on null matches nothing (SQL semantics)")
    // a tombstone removes the null group
    Compaction.merge(spark, dir,
      Seq((Option.empty[Long], "", 2L, true))
        .toDF("id", "payload", "version", "deleted"))
    assert(Compaction.read(spark, dir).filter($"id".isNull).count() == 0L)
  }

  test("rebucket preserves state, stats, lookups and feed numbering") {
    val dir = freshTable(100)
    Compaction.merge(spark, dir,
      Seq((7L, "v1-7", 1L, false)).toDF("id", "payload", "version", "deleted"),
      emitFeed = true)
    val before = Compaction.read(spark, dir)
      .select($"id", $"payload").as[(Long, String)].collect().toSet

    Compaction.rebucket(spark, dir, 32)
    val (_, _, _, nB) = Compaction.readMeta(spark, dir)
    assert(nB == 32)
    assert(Compaction.livePaths(spark, dir).keySet
      .forall(b => b >= 0 && b < 32))
    // state byte-equal, manifest stats still exact (zero-scan count)
    assert(Compaction.read(spark, dir)
      .select($"id", $"payload").as[(Long, String)].collect().toSet == before)
    assert(Compaction.countRows(spark, dir) == 100L)

    // point lookup opens one bucket of the NEW layout
    val hit = Compaction.lookup(spark, dir, 7L)
    assert(hit.select($"payload").as[String].collect().toSeq == Seq("v1-7"))
    assert(hit.inputFiles.map(f => new java.net.URI(f).getPath)
      .map(p => p.substring(0, p.lastIndexOf('/'))).distinct.length == 1)

    // zone maps recomputed: the v1 change is still watermark-visible
    assert(Compaction.readChangedSince(spark, dir, 0L)
      .select($"id").as[Long].collect().toSeq == Seq(7L))

    // feed numbering continues, it does not restart at 0
    Compaction.merge(spark, dir,
      Seq((8L, "v2-8", 2L, false)).toDF("id", "payload", "version", "deleted"),
      emitFeed = true)
    val batches = Compaction.readFeed(spark, dir)
      .select($"batch").distinct().as[Long].collect().toSet
    assert(batches == Set(0L, 1L), s"feed numbering broke: $batches")
  }

  test("sequential batches == one batch of the union") {
    val b1 = Seq((3L, "v1-3", 1L, false), (50L, "", 1L, true))
      .toDF("id", "payload", "version", "deleted")
    val b2 = Seq((3L, "v2-3", 2L, false), (51L, "v2-51", 2L, false))
      .toDF("id", "payload", "version", "deleted")

    val seqDir = freshTable(60)
    Compaction.merge(spark, seqDir, b1)
    Compaction.merge(spark, seqDir, b2)

    val oneDir = freshTable(60)
    Compaction.merge(spark, oneDir, b1.unionByName(b2))

    assert(readState(seqDir) == readState(oneDir))
    assert(readState(seqDir) == recompute(snapshot(60), b1.unionByName(b2)))
  }

  test("empty changelog is a no-op") {
    val dir = freshTable(30)
    val before = fileState(dir)
    val stats = Compaction.merge(spark, dir,
      snapshot(0).filter(lit(false)))
    assert(stats.touchedBuckets.isEmpty && stats.rowsWritten == 0L)
    assert(fileState(dir) == before)
  }

  test("readChangedSince leaf-prunes a time-partitioned table by the " +
      "version-leaf zone maps (r14)") {
    // version correlates with the backfill DAY (day d committed at
    // version d): every bucket's [minv, maxv] envelope spans all days,
    // so only the per-(bucket, leaf) vmaxl bounds can skip leaves
    val dir = tmpDir("vleaf-changed") + "/t"
    def ts(day: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    Compaction.init(
      (1L to 100L).map(i =>
        (i, s"p-$i", ts(1 + (i % 5).toInt), 1L + i % 5, false))
        .toDF("id", "payload", "ts", "version", "deleted"),
      dir, Seq("id"), "version", "deleted", nBuckets = 2,
      clusterBy = Nil, feed = false,
      timePartition = Some("days" -> "ts"))
    val changed = Compaction.readChangedSince(spark, dir, 3L)
    // correctness: exactly the version-4 and version-5 rows
    assert(changed.select("id").as[Long].collect().toSet ==
      (1L to 100L).filter(i => i % 5 == 3 || i % 5 == 4).toSet)
    // the scan opened ONLY the day-4 and day-5 leaves (epoch days
    // 19726, 19727) — version <= 3 leaves never became input files
    val days = changed.inputFiles.toSeq.flatMap(f =>
      "_tp=([0-9]+)".r.findFirstMatchIn(f).map(_.group(1).toInt)).toSet
    assert(days == Set(19726, 19727),
      s"changed-since must leaf-prune by vmaxl, opened $days")
    // a merge-on-read bucket folds FULL history: its leaves all stay
    Compaction.merge(spark, dir,
      Seq((1L, "mor", ts(1), 9L, false))
        .toDF("id", "payload", "ts", "version", "deleted"),
      mergeOnRead = true)
    val afterMor = Compaction.readChangedSince(spark, dir, 3L)
    assert(afterMor.filter(col("payload") === "mor").count() == 1L)
  }

  test("re-init with a snapshot missing the delete column fails before " +
      "touching the existing table") {
    val dir = freshTable(20)
    val before = Compaction.read(spark, dir).select("id", "payload")
      .as[(Long, String)].collect().toSet
    val e = intercept[IllegalArgumentException] {
      Compaction.init(snapshot(5).drop("deleted"), dir, key = "id",
        versionCol = "version", deleteCol = "deleted", nBuckets = N_BUCKETS)
    }
    assert(e.getMessage.contains("'deleted'"), e.getMessage)
    assert(Compaction.read(spark, dir).select("id", "payload")
      .as[(Long, String)].collect().toSet == before)
    assert(Compaction.countRows(spark, dir) == 20L)
  }
}
