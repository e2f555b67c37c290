package graft.cdc

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Compaction.restore]]: write-side time travel as ONE metadata-only
  * commit. Pins the r12-verdict contract: restore ≡ the exact state of
  * version n (CoW and MoR lineages), crash atomicity (injected crash
  * before the commit rename leaves the table byte-identical), OCC
  * against a concurrent merge, refusal of vacuumed versions and of
  * restores across a retention floor, and the change-feed semantics —
  * batch numbering stays monotone (one empty reserved batch), the feed
  * epoch bumps, [[Replicator.sync]] refuses loudly until re-init, and
  * REFRESH MATERIALIZED VIEW re-seeds instead of replaying pre-restore
  * events.
  */
class RestoreSpec extends SparkSpec {
  import spark.implicits._

  private def rows(n: Int, tag: String, ver: Long) =
    (1L to n.toLong).map(i => (i, s"$tag-$i", ver, false))
      .toDF("id", "payload", "version", "deleted")

  private def upd(ids: Seq[Long], tag: String, ver: Long,
      deleted: Boolean = false) =
    ids.map(i => (i, s"$tag-$i", ver, deleted))
      .toDF("id", "payload", "version", "deleted")

  private def state(dir: String): Set[(Long, String)] =
    Compaction.read(spark, dir).select("id", "payload")
      .as[(Long, String)].collect().toSet

  test("restore re-points the table at version n: state, schema and " +
      "history; the in-between versions stay time-travelable") {
    val dir = tmpDir("restore-basic") + "/t"
    Compaction.init(rows(20, "v0", 1L), dir, "id", "version", "deleted",
      nBuckets = 4)
    Compaction.merge(spark, dir, upd(Seq(1L, 2L), "v1", 2L),
      retainHistory = true)
    Compaction.merge(spark, dir,
      upd(Seq(3L), "v2", 3L).unionByName(
        upd(Seq(4L), "gone", 3L, deleted = true)),
      retainHistory = true)
    val v2 = state(dir)
    assert(!v2.exists(_._1 == 4L) && v2.exists(_ == (3L, "v2-3")))

    val newV = Compaction.restore(spark, dir, 1L)
    assert(newV == 3L)
    // exact v1 state: the v2 update and the delete are both undone
    val expected = Compaction.readAsOf(spark, dir, 1L)
      .select("id", "payload").as[(Long, String)].collect().toSet
    assert(state(dir) == expected)
    assert(state(dir).exists(_ == (4L, "v0-4")) &&
      state(dir).exists(_ == (3L, "v0-3")) &&
      state(dir).exists(_ == (1L, "v1-1")))
    // manifest-recorded row counts restored too (zero-scan count)
    assert(Compaction.countRows(spark, dir) == 20L)
    // history records the restore; pre-restore head still resolves
    val hist = Compaction.history(spark, dir)
      .select("version", "operation").as[(Long, String)].collect().toMap
    assert(hist(3L) == "restore")
    assert(Compaction.readAsOf(spark, dir, 2L)
      .select("id", "payload").as[(Long, String)].collect().toSet == v2)
    // a mistaken restore is itself restorable
    Compaction.restore(spark, dir, 2L)
    assert(state(dir) == v2)
  }

  test("restore refuses a vacuumed version, a future version, and " +
      "no-ops on the current one") {
    val dir = tmpDir("restore-refuse") + "/t"
    Compaction.init(rows(10, "v0", 1L), dir, "id", "version", "deleted",
      nBuckets = 2)
    // non-retaining merge vacuums v0
    Compaction.merge(spark, dir, upd(Seq(1L), "v1", 2L))
    val cur = Compaction.version(spark, dir)
    val e = intercept[IllegalArgumentException] {
      Compaction.restore(spark, dir, 0L)
    }
    assert(e.getMessage.contains("vacuumed") ||
      e.getMessage.contains("oldest"))
    intercept[IllegalArgumentException] {
      Compaction.restore(spark, dir, cur + 5L)
    }
    assert(Compaction.restore(spark, dir, cur) == cur)
    assert(Compaction.version(spark, dir) == cur)
  }

  test("crash before the commit rename leaves the table untouched; " +
      "a concurrent merge makes the restore OCC-retry over it") {
    val dir = tmpDir("restore-crash") + "/t"
    Compaction.init(rows(12, "v0", 1L), dir, "id", "version", "deleted",
      nBuckets = 2)
    Compaction.merge(spark, dir, upd(Seq(5L), "v1", 2L),
      retainHistory = true)
    val before = state(dir)
    TxLog.beforeCommit = () => throw new RuntimeException("injected crash")
    try intercept[RuntimeException] { Compaction.restore(spark, dir, 0L) }
    finally TxLog.beforeCommit = () => ()
    assert(Compaction.version(spark, dir) == 1L)
    assert(state(dir) == before)

    // OCC race: a rival merge commits the slot the restore targeted;
    // the retry re-resolves and still lands the v0 state on top
    var fired = false
    TxLog.beforeCommit = () => {
      if (!fired) {
        fired = true
        TxLog.beforeCommit = () => ()
        Compaction.merge(spark, dir, upd(Seq(6L), "rival", 3L),
          retainHistory = true)
      }
    }
    try {
      val newV = Compaction.restore(spark, dir, 0L)
      assert(newV == 3L, "the restore must commit AFTER the rival merge")
    } finally TxLog.beforeCommit = () => ()
    assert(state(dir) == (1L to 12L).map(i => (i, s"v0-$i")).toSet)
  }

  test("restore to a merge-on-read version resurrects its delta " +
      "chains (folded read, dirty buckets)") {
    val dir = tmpDir("restore-mor") + "/t"
    Compaction.init(rows(16, "v0", 1L), dir, "id", "version", "deleted",
      nBuckets = 4)
    Compaction.merge(spark, dir, upd(Seq(2L, 9L), "mor", 2L),
      retainHistory = true, mergeOnRead = true)
    val morState = state(dir)
    assert(morState.exists(_ == (2L, "mor-2")))
    // a CoW merge folds the chains away
    Compaction.merge(spark, dir, upd(Seq(2L, 9L), "cow", 3L),
      retainHistory = true)
    assert(state(dir).exists(_ == (2L, "cow-2")))
    Compaction.restore(spark, dir, 1L)
    // the restored manifest carries the delta.* chains; the fold wins
    assert(state(dir) == morState)
    assert(TxLog.latest(spark, dir).get.deltas.nonEmpty,
      "the MoR chains must restore as chains, not as folded state")
  }

  test("the restore epoch is stamped on Scd2/AggView tables too and " +
      "survives their commit funnels (r14)") {
    // SCD2: restore bumps feed_epoch; later funnel commits carry it.
    // (Scd2.merge vacuums prior manifests, so the restorable step is
    // a retained compact: mor-merge -> compact(retain) -> restore.)
    val hist = tmpDir("restore-epoch-scd2") + "/t"
    Scd2.init((1L to 6L).map(i => (i, s"v0-$i", 1L, false))
        .toDF("id", "payload", "version", "deleted"),
      hist, "id", "version", "deleted", nBuckets = 2)
    Scd2.merge(spark, hist,
      Seq((1L, "v1-1", 5L, false))
        .toDF("id", "payload", "version", "deleted"),
      mergeOnRead = true)
    val preCompact = TxLog.latestVersion(spark, hist).get
    Scd2.compact(spark, hist, retainHistory = true)
    assert(Compaction.feedEpoch(spark, hist) == 0L)
    Compaction.restore(spark, hist, preCompact)
    assert(Compaction.feedEpoch(spark, hist) == 1L,
      "restore must stamp the epoch on an scd2 history")
    // every retained commit of either family names its operation
    def ops(d: String): Map[Long, String] = Compaction.history(spark, d)
      .select("version", "operation").as[(Long, String)].collect().toMap
    assert(ops(hist) == Map(1L -> "merge-mor", 2L -> "compact",
      3L -> "restore"), ops(hist).toString)
    Scd2.merge(spark, hist,
      Seq((2L, "v2-2", 7L, false))
        .toDF("id", "payload", "version", "deleted"))
    assert(Compaction.feedEpoch(spark, hist) == 1L,
      "Scd2.merge must carry the restore epoch forward")
    assert(ops(hist).values.toSeq == Seq("merge"), ops(hist).toString)
    Scd2.compact(spark, hist)
    assert(Compaction.feedEpoch(spark, hist) == 1L,
      "Scd2.compact must carry the restore epoch forward")

    // AggView: same fence through the apply funnel (the restorable
    // step is a retained rebucket — applyFeed vacuums)
    val view = tmpDir("restore-epoch-agg") + "/t"
    graft.cdc.AggView.init(
      Seq((1L, 10.0), (2L, 20.0)).toDF("grp", "amount"),
      view, "grp", "amount", nBuckets = 2)
    graft.cdc.AggView.applyFeed(spark, view,
      Seq((1L, 5.0, "insert")).toDF("grp", "amount", "_change_type"),
      batchId = 0L)
    val preRebucket = TxLog.latestVersion(spark, view).get
    graft.cdc.AggView.rebucket(spark, view, 4, retainHistory = true)
    Compaction.restore(spark, view, preRebucket)
    assert(Compaction.feedEpoch(spark, view) == 1L,
      "restore must stamp the epoch on an aggview table")
    assert(ops(view) == Map(1L -> "applyFeed", 2L -> "rebucket",
      3L -> "restore"), ops(view).toString)
    graft.cdc.AggView.applyFeed(spark, view,
      Seq((2L, 3.0, "insert")).toDF("grp", "amount", "_change_type"),
      batchId = 1L)
    assert(Compaction.feedEpoch(spark, view) == 1L,
      "AggView.applyFeed must carry the restore epoch forward")
    assert(ops(view).values.toSeq == Seq("applyFeed"), ops(view).toString)
  }

  test("restore across a RETIRE PARTITIONS floor is refused") {
    val dir = tmpDir("restore-floor") + "/t"
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    Compaction.init(
      (1L to 40L).map(i => (i, s"v0-$i", ts(1 + (i % 10).toInt), 1L, false))
        .toDF("id", "payload", "ts", "version", "deleted"),
      dir, Seq("id"), "version", "deleted", nBuckets = 2,
      clusterBy = Nil, feed = false,
      timePartition = Some("days" -> "ts"))
    Compaction.dropPartitionsBefore(spark, dir, ts(5))
    val e = intercept[IllegalStateException] {
      Compaction.restore(spark, dir, 0L)
    }
    assert(e.getMessage.contains("retention floor"))
  }

  test("restore works on an SCD2 history and refuses across its " +
      "EXPIRE HISTORY floor") {
    val dir = tmpDir("restore-scd2") + "/t"
    Scd2.init((1L to 10L).map(i => (i, s"v0-$i", 1L, false))
        .toDF("id", "payload", "version", "deleted"),
      dir, "id", "version", "deleted", nBuckets = 2)
    Scd2.merge(spark, dir,
      Seq((1L, "v1-1", 5L, false))
        .toDF("id", "payload", "version", "deleted"))
    val preExpire = TxLog.latestVersion(spark, dir).get
    val rowsPreExpire = Scd2.read(spark, dir).count()
    // the floor commits (drops the closed v0 interval of key 1) and
    // keeps history so the pre-expire manifest is still on disk
    val dropped = Scd2.expireHistoryBefore(spark, dir, 5L,
      retainHistory = true)
    assert(dropped > 0L)
    val e = intercept[IllegalStateException] {
      Compaction.restore(spark, dir, preExpire)
    }
    assert(e.getMessage.contains("retention floor"))
    // restoring WITHIN the floor (to the expire commit itself) is the
    // no-op boundary and still answers
    assert(Compaction.restore(spark, dir,
      TxLog.latestVersion(spark, dir).get) ==
      TxLog.latestVersion(spark, dir).get)
    assert(Scd2.read(spark, dir).count() == rowsPreExpire - dropped)
  }

  test("feed semantics: numbering stays monotone through one empty " +
      "reserved batch, the epoch bumps, raw feed reads are unaffected") {
    val dir = tmpDir("restore-feed") + "/t"
    Compaction.init(rows(10, "v0", 1L), dir, Seq("id"), "version",
      "deleted", nBuckets = 2, clusterBy = Nil, feed = true)
    Compaction.merge(spark, dir, upd(Seq(1L), "v1", 2L),
      retainHistory = true)
    Compaction.merge(spark, dir, upd(Seq(2L), "v2", 3L),
      retainHistory = true)
    val feedBefore = Compaction.readFeed(spark, dir).count()
    val headBefore = TxLog.latest(spark, dir).get
      .counter("next_feed_batch")
    assert(Compaction.feedEpoch(spark, dir) == 0L)

    Compaction.restore(spark, dir, 1L)
    assert(Compaction.feedEpoch(spark, dir) == 1L)
    val snap = TxLog.latest(spark, dir).get
    assert(snap.counter("next_feed_batch") == headBefore + 1L,
      "restore must reserve exactly one (empty) feed batch")
    // the reserved batch is published (no crashed-publish gap) and
    // empty: the append-only event log rewinds nothing
    assert(Replicator.publishedThrough(spark, dir, -1L,
      headBefore) == headBefore)
    assert(Compaction.readFeed(spark, dir).count() == feedBefore)
    // feed keeps working: the next merge emits the next batch id
    Compaction.merge(spark, dir, upd(Seq(3L), "v4", 4L),
      retainHistory = true)
    assert(Compaction.readFeed(spark, dir)
      .filter(col("batch") === (headBefore + 1L)).count() > 0L)
  }

  test("a replica refuses to sync across a restore and converges " +
      "after re-init") {
    val dir = tmpDir("restore-replica")
    val src = s"$dir/src"
    val rep = s"$dir/rep"
    Compaction.init(rows(10, "v0", 1L), src, Seq("id"), "version",
      "deleted", nBuckets = 2, clusterBy = Nil, feed = true)
    Compaction.merge(spark, src, upd(Seq(1L), "v1", 2L),
      retainHistory = true)
    Replicator.init(spark, src, rep)
    Compaction.merge(spark, src, upd(Seq(2L), "v2", 3L),
      retainHistory = true)
    Replicator.sync(spark, src, rep)
    assert(state(rep) == state(src))

    Compaction.restore(spark, src, 1L)
    val e = intercept[IllegalStateException] {
      Replicator.sync(spark, src, rep)
    }
    assert(e.getMessage.contains("RESTOREd"))
    // re-init re-seeds from the restored snapshot and re-fences
    Replicator.init(spark, src, rep)
    assert(state(rep) == state(src))
    Compaction.merge(spark, src, upd(Seq(7L), "post", 4L),
      retainHistory = true)
    Replicator.sync(spark, src, rep)
    assert(state(rep) == state(src))
  }

  test("REFRESH MATERIALIZED VIEW re-seeds across a base restore " +
      "instead of replaying pre-restore events") {
    import graft.plans.GraftTables
    val dir = tmpDir("restore-mv")
    val base = s"$dir/base"
    Compaction.init(
      Seq((1L, "a", java.math.BigDecimal.valueOf(10.00), 1L, false),
        (2L, "a", java.math.BigDecimal.valueOf(20.00), 1L, false),
        (3L, "b", java.math.BigDecimal.valueOf(5.00), 1L, false))
        .toDF("id", "grp", "amount", "version", "deleted"),
      base, Seq("id"), "version", "deleted", nBuckets = 2,
      clusterBy = Nil, feed = true)
    GraftTables.register(spark, "restore_mv_base", base)
    GraftTables.sql(spark,
      "CREATE MATERIALIZED VIEW restore_mv AS SELECT grp, " +
        "count(*) AS cnt, sum(amount) AS total FROM restore_mv_base " +
        "GROUP BY grp")
    // a post-create merge, applied incrementally
    Compaction.merge(spark, base,
      Seq((4L, "b", java.math.BigDecimal.valueOf(7.00), 2L, false))
        .toDF("id", "grp", "amount", "version", "deleted"),
      retainHistory = true)
    GraftTables.sql(spark, "REFRESH MATERIALIZED VIEW restore_mv")
    val viewDir = s"$base/_mv/restore_mv"
    def viewTotals: Map[String, Long] =
      AggView.read(spark, viewDir).select("grp", "cnt")
        .as[(String, Long)].collect().toMap
    assert(viewTotals == Map("a" -> 2L, "b" -> 2L))

    // restore the base to v0 (before the merge) and refresh: the view
    // must RE-SEED to the restored state, not keep the merged one
    Compaction.restore(spark, base, 0L)
    GraftTables.sql(spark, "REFRESH MATERIALIZED VIEW restore_mv")
    assert(viewTotals == Map("a" -> 2L, "b" -> 1L))
    // and incremental refresh works again afterwards
    Compaction.merge(spark, base,
      Seq((5L, "a", java.math.BigDecimal.valueOf(1.00), 3L, false))
        .toDF("id", "grp", "amount", "version", "deleted"),
      retainHistory = true)
    GraftTables.sql(spark, "REFRESH MATERIALIZED VIEW restore_mv")
    assert(viewTotals == Map("a" -> 3L, "b" -> 1L))
    GraftTables.sql(spark, "DROP MATERIALIZED VIEW restore_mv")
    GraftTables.unregister(spark, "restore_mv_base")
  }

  test("the RESTORE TABLE verb lowers through GraftTables.sql and " +
      "refreshes the registered view") {
    import graft.plans.GraftTables
    val dir = tmpDir("restore-verb") + "/t"
    Compaction.init(rows(8, "v0", 1L), dir, "id", "version", "deleted",
      nBuckets = 2)
    // registry DML is non-retaining (it would vacuum v0); advance the
    // version with a history-retaining merge instead
    Compaction.merge(spark, dir, upd(Seq(3L), "boom", 2L)
      .withColumn("payload", lit("boom")),
      retainHistory = true)
    GraftTables.register(spark, "restore_verb_t", dir)
    assert(spark.sql(
      "SELECT payload FROM restore_verb_t WHERE id = 3")
      .as[String].head() == "boom")
    val out = GraftTables.sql(spark,
      "RESTORE TABLE restore_verb_t TO VERSION 0")
      .select("restored_to", "new_version").as[(Long, Long)].head()
    assert(out == ((0L, 2L)))
    assert(spark.sql(
      "SELECT payload FROM restore_verb_t WHERE id = 3")
      .as[String].head() == "v0-3")
    // the AS OF spelling parses too
    GraftTables.sql(spark,
      "RESTORE TABLE restore_verb_t TO VERSION AS OF 1")
    assert(spark.sql(
      "SELECT payload FROM restore_verb_t WHERE id = 3")
      .as[String].head() == "boom")
    // TO TIMESTAMP resolves through the same commit-time lookup
    // TIMESTAMP AS OF reads use (session zone); self-consistency:
    // the verb restores exactly the version the resolver names for
    // that instant, and the state matches that version's read
    val tsStr = Compaction.history(spark, dir)
      .filter(col("version") === 1)
      .select(date_format(col("committed_at"),
        "yyyy-MM-dd HH:mm:ss.SSS")).as[String].head()
    val out2 = GraftTables.sql(spark,
      s"RESTORE TABLE restore_verb_t TO TIMESTAMP '$tsStr'")
      .select("restored_to").as[Long].head()
    val expectState = Compaction.readAsOf(spark, dir, out2)
      .select("id", "payload").as[(Long, String)].collect().toSet
    assert(state(dir) == expectState)
    GraftTables.unregister(spark, "restore_verb_t")
  }
}
