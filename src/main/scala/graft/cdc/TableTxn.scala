package graft.cdc

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One writer's attempt to advance a maintained table by one version —
  * the ONLY write protocol of [[Compaction]], [[Scd2]] and [[AggView]]:
  * [[stage]] the new bucket contents, then [[commit]] them (install,
  * manifest CAS, the caller's feed publish, post-commit hygiene). A
  * create opens its transaction with [[TableTxn.create]]. The protocol
  * is safe for CONCURRENT writers:
  *
  *  - the staging directory is writer-unique (`.staging-<txn>`), so
  *    two in-flight merges never overwrite each other's staged data
  *    (the old shared `.staging` made any second writer destructive);
  *  - the installed generation directory is writer-unique
  *    (`g<V>-<txn>`), so two writers racing to the same next version
  *    install side by side and the manifest CAS in [[TxLog.commit]]
  *    picks the winner — the loser's install can never collide with,
  *    or be mistaken for, the winner's;
  *  - on losing the CAS the loser reclaims its own generation and
  *    staging immediately (it provably owns them — no manifest ever
  *    named them) and rethrows [[TxLog.CommitConflict]] for
  *    [[TxLog.withOcc]] to retry against the new snapshot.
  *
  * The staging rule: BEFORE the commit a failed write deletes its own
  * staging (nothing references it and no feed intent is stamped yet —
  * [[stage]] does this itself); AFTER the commit call the staging is
  * kept until the commit's own hygiene step, because a writer that
  * dies between commit and feed publish leaves the only copy of the
  * batch there for the sweep's republish
  * ([[Compaction.republishStagedFeed]]).
  *
  * This is the minimal optimistic-concurrency-control loop an ACID
  * table format runs under multi-writer load; conflict resolution is
  * "recompute against latest" (always correct) rather than bucket-
  * disjointness rebasing (an optimization a real cluster deployment
  * could add on top without changing the commit protocol).
  */
private[cdc] final class TableTxn(spark: SparkSession, dir: String,
    baseVersion: Long) {

  val id: String = java.util.UUID.randomUUID().toString.take(8)
  val newVersion: Long = baseVersion + 1L
  val staging: String = s"$dir/.staging-$id"
  private val genName: String = s"g$newVersion-$id"
  private val fs: FileSystem = TxLog.fs(spark, dir)

  /** Manifest-relative path for a bucket staged by this transaction. */
  def bucketRel(b: Int): String = s"$genName/bucket=$b"

  /** Write `rows` (carrying the internal `bucket` column) as this
    * transaction's staged generation under the table layout —
    * `bucket=<b>` dirs, plus a `_tp=<n>` level derived from `tp`
    * ([[Compaction.tpColumnChecked]]) — sorted inside each task by
    * [[TableTxn.stagedSort]]. The caller supplies the distribution
    * (its own `repartition(bucket)`, or a fold/window that already
    * hash-distributes by bucket). Returns the bucket ids actually
    * staged: a bucket whose rows all vanished stages no partition. A
    * failed write deletes the staging before rethrowing.
    */
  def stage(rows: DataFrame, keys: Seq[String], clusterBy: Seq[String] = Nil,
      tp: Option[(String, String)] = None): Seq[Int] = {
    val (laid, partCols) = tp match {
      case None => (rows, Seq("bucket"))
      case Some((u, c)) => (rows.withColumn("_tp",
        Compaction.tpColumnChecked(u, c)), Seq("bucket", "_tp"))
    }
    try laid
      .sortWithinPartitions(TableTxn.stagedSort(partCols, keys, clusterBy): _*)
      .write.partitionBy(partCols: _*).mode("overwrite")
      .parquet(s"$staging/data")
    catch {
      case scala.util.control.NonFatal(e) =>
        TxLog.hygiene(cleanup())
        throw e
    }
    val p = new Path(s"$staging/data")
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("bucket=") => s.drop(7).toInt }
  }

  /** Publish this transaction as the table's next version: install the
    * staged data (if any) and CAS-commit the manifest, then run the
    * caller's post-commit `publish` (a feed batch rename), then — as
    * hygiene that can no longer fail the committed write — drop the
    * staging and, with `vacuum`, every older manifest.
    */
  def commit(newBuckets: Map[Int, String], props: Map[String, String],
      vacuum: Boolean = false, publish: => Unit = ()): TxLog.Snapshot = {
    val snap = installAndCommit(newBuckets, props)
    publish
    TxLog.hygiene {
      cleanup()
      if (vacuum) TxLog.vacuum(spark, dir, newVersion)
    }
    snap
  }

  /** Move the staged data (if any) under its unique generation name —
    * invisible to readers until the manifest commit that follows —
    * then CAS-commit the manifest. The ONLY mutation of committed
    * state is the commit rename inside [[TxLog.commit]].
    */
  private def installAndCommit(newBuckets: Map[Int, String],
      props: Map[String, String]): TxLog.Snapshot = {
    val stagedData = new Path(s"$staging/data")
    if (fs.exists(stagedData)) {
      fs.mkdirs(new Path(s"$dir/data"))
      val dst = new Path(s"$dir/data/$genName")
      require(fs.rename(stagedData, dst),
        s"install rename failed: $stagedData -> $dst")
      // the rename PRESERVES the staging dir's mtime, which dates from
      // the START of the staging write — a staging phase longer than
      // the orphan grace would make this just-installed (live!)
      // generation immediately sweep-eligible in the install-to-commit
      // window. Re-stamp both the generation and the surviving staging
      // dir (it still holds the un-published feed batch) to NOW so the
      // grace clock measures from install, not from staging start.
      TxLog.hygiene {
        val now = System.currentTimeMillis()
        fs.setTimes(dst, now, -1)
        fs.setTimes(new Path(staging), now, -1)
      }
    }
    try TxLog.commit(spark, dir, newVersion,
      props ++ TxLog.bucketProps(newBuckets))
    catch {
      case e: TxLog.CommitConflict =>
        fs.delete(new Path(s"$dir/data/$genName"), true)
        cleanup()
        throw e
    }
  }

  /** Drop this transaction's staging directory (idempotent). */
  def cleanup(): Unit = fs.delete(new Path(staging), true)
}

private[cdc] object TableTxn {

  /** Open the version-0 transaction of a (re)created table. A create
    * is a FULL table replace: prior manifests, data, feed batches,
    * metadata and history go first — and `_mv` too, or a surviving
    * materialized-view dir would RE-ATTACH (stale) on the next CREATE
    * instead of re-seeding from the new table.
    */
  def create(spark: SparkSession, dir: String): TableTxn = {
    val fs = TxLog.fs(spark, dir)
    Seq("manifest", "data", "feed", ".staging", "meta", "_history", "_mv")
      .foreach(sub => fs.delete(new Path(s"$dir/$sub"), true))
    TxLog.invalidate(dir)
    new TableTxn(spark, dir, baseVersion = -1L)
  }

  /** The staged-write sort (r16): the write's partition columns first —
    * ALL of them, so the V1 write's required ordering (partition
    * columns) is satisfied by this explicit sort and the planner
    * inserts no second sort of its own (time-partitioned layouts
    * previously paid a planner-inserted (bucket, _tp) sort on top of
    * the explicit one) — then the cluster expression (one column =
    * plain sort, two = Z-order: row-group stat locality), then the key
    * columns as the tiebreak (stable file content).
    */
  private def stagedSort(partCols: Seq[String], keys: Seq[String],
      clusterBy: Seq[String]): Seq[Column] = {
    val cluster = clusterBy match {
      case Nil => Nil
      case Seq(c) => Seq(col(c))
      case Seq(x, y) => Seq(graft.sources.ZOrder.mortonCode(col(x), col(y)))
      case _ => Nil
    }
    (partCols.map(col) ++ cluster) ++ keys.map(col)
  }
}
