package graft.cdc

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.storage.StorageLevel

/** One writer's attempt to advance a maintained table by one version —
  * the ONLY write protocol of [[Compaction]], [[Scd2]] and [[AggView]]:
  * open it on the base snapshot (a create opens with
  * [[TableTxn.create]]), [[stage]] the new bucket contents, then
  * [[commit]] them. The commit is also the one place that records what
  * every manifest carries besides the caller's table props:
  *
  *  - the base's `next_feed_batch` counter, `feed_epoch` consumer
  *    fence and `lineage_floor` restore fence ([[TableTxn.Carried]];
  *    caller props override, as RESTORE and REPLACE do);
  *  - the required `op` the commit audit log (`history`) reports;
  *  - with `feed = true`, the change-feed batch: the reserved batch id,
  *    the staged-intent marker crash recovery maps a staging back to
  *    its batch by, the `next_feed_batch`/`feed_batch`/`feed_txn`
  *    triple, and the post-CAS publish of `<staging>/feed`.
  *
  * A metadata-only commit (no staged data) is the same call with the
  * base's own bucket map, its props built by [[TableTxn.tableProps]].
  * Around the transaction, the companion holds what the three kinds
  * share: the merge loop ([[TableTxn.merge]]), the merge-on-read
  * delta append ([[appendDeltas]]) and the rewrite skeleton
  * ([[TableTxn.rewrite]]); each kind supplies only its reconcile step
  * and its props. The protocol is safe for CONCURRENT writers:
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
private[cdc] final class TableTxn private (spark: SparkSession,
    dir: String, base: Option[TxLog.Snapshot]) {

  def this(spark: SparkSession, dir: String, base: TxLog.Snapshot) =
    this(spark, dir, Some(base))

  val id: String = java.util.UUID.randomUUID().toString.take(8)
  val newVersion: Long = base.fold(0L)(_.version + 1L)
  val staging: String = s"$dir/.staging-$id"
  private val genName: String = s"g$newVersion-$id"
  private val fs: FileSystem = TxLog.fs(spark, dir)
  private var reserved: Option[Long] = None

  /** Manifest-relative path for a bucket staged by this transaction. */
  def bucketRel(b: Int): String = s"$genName/bucket=$b"

  /** Whether the base table opted into the change feed or ever emitted
    * a batch — a backward state move (RESTORE, REPLACE) on such a table
    * reserves one empty batch to keep the numbering monotone.
    */
  def feedStarted: Boolean = base.exists(s =>
    s.prop("feed").contains("true") || s.counter("next_feed_batch") > 0L)

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

  /** Stage `rows` (carrying `bucket`, then `dataCols`) as this
    * transaction's merge-on-read delta files, each tagged `_seq` = the
    * committing version, under `m`'s layout. Returns the delta props
    * the commit needs and the rows staged (footer counts): each staged
    * bucket appends its dir to its `delta.<b>` chain
    * ([[Compaction.deltaAppendProps]]); every other bucket's chain
    * carries verbatim, as do all base stats — the base is untouched.
    * The base's leaf-version zone maps (`vminl.`/`vmaxl.`) stay true
    * for the base files too; dropping them would let one append disarm
    * leaf pruning table-wide (leaf consumers skip dirty buckets).
    * Common columns must match `m`'s stored types exactly: a delta
    * file with a drifted physical type would poison every later fold.
    */
  def appendDeltas(m: Compaction.Meta, rows: DataFrame,
      dataCols: Seq[String]): (Map[String, String], Long) = {
    dataCols.foreach { c =>
      m.schema.fields.find(_.name == c).foreach { f =>
        val got = rows.schema(c).dataType
        require(got == f.dataType,
          s"batch column $c: ${got.simpleString} does not match stored " +
            s"${f.dataType.simpleString} (merge-on-read deltas must be " +
            "byte-compatible with the base)")
      }
    }
    val staged = stage(
      rows.select(col("bucket") +: dataCols.map(col): _*)
        .withColumn("_seq", lit(newVersion))
        .repartition(col("bucket")),
      m.keys, m.clusterBy, m.tp)
    val stats = Compaction.stagedStats(spark, staging, staged, m.versionCol)
    (Compaction.carriedStats(m.snap.props, staged.toSet,
      Compaction.DeltaPrefixes) ++
      Compaction.deltaAppendProps(m.snap, staged, stats, bucketRel,
        m.schema(m.versionCol).dataType),
      stats.values.map(_.rows).sum)
  }

  /** Publish this transaction as the table's next version: the base's
    * carried counters and fences, then `props`, then the feed triple
    * (with `feed`) and `op` make the manifest; install the staged data
    * (if any) and CAS-commit it; with `feed`, publish `<staging>/feed`
    * as the reserved batch under the committed schema and `tp_unit`;
    * then — as hygiene that can no longer fail the committed write —
    * drop the staging and, with `vacuum`, every older manifest.
    *
    * The batch publishes only once the table state it describes is
    * committed. A publish failure must NOT re-enter the OCC loop: the
    * version just moved — by this very commit — so a generic retry
    * would re-run an already-applied write and drop the batch's
    * events. [[TableTxn.publishFeed]] retries the rename alone and
    * surfaces the non-retryable [[TxLog.PostCommitPublishFailure]].
    */
  def commit(newBuckets: Map[Int, String], props: Map[String, String],
      op: String, vacuum: Boolean = false,
      feed: Boolean = false): TxLog.Snapshot = {
    val batch = if (feed) Some(reserveFeed()) else None
    val full = base.fold(Map.empty[String, String])(
        _.props.filter { case (k, _) => TableTxn.Carried.contains(k) }) ++
      props ++
      batch.fold(Map.empty[String, String])(n =>
        Map("next_feed_batch" -> (n + 1L).toString,
          "feed_batch" -> n.toString, "feed_txn" -> id)) +
      ("op" -> op)
    val snap = installAndCommit(newBuckets, full)
    batch.foreach(n =>
      TableTxn.publishFeed(fs, staging, dir, n, newVersion, full))
    TxLog.hygiene {
      cleanup()
      if (vacuum) TxLog.vacuum(spark, dir, newVersion)
    }
    snap
  }

  /** Reserve this transaction's change-feed batch id (once; a later
    * call, and `commit(feed = true)`, reuse it) — one past the highest
    * published batch dir (a driver-side listing of ≤ |merges| names),
    * never below the base's committed counter: a vacuum that deleted
    * EVERY feed dir must not restart numbering at 0, or a consumer
    * resuming from "batch >= K" would skip every later batch — and
    * stamp the staged-intent marker `_batch-<n>` into `<staging>/feed`
    * BEFORE the commit, so a writer that dies between its commit and
    * the publish leaves a staging [[Compaction.republishStagedFeed]]
    * can map back to its batch. The marker is best-effort: without it
    * the recovery degrades to "gap detected loudly", never to silence.
    * `commit` reserves by itself; a writer whose own moves precede the
    * commit (REPLACE's adoption) reserves first, so a failing listing
    * leaves nothing to undo.
    */
  def reserveFeed(): Long = reserved.getOrElse {
    val p = new Path(s"$dir/feed")
    val fromDirs = if (!fs.exists(p)) 0L
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("batch=") => s.drop(6).toLong }
      .foldLeft(-1L)(math.max) + 1L
    val n = math.max(fromDirs, base.fold(0L)(_.counter("next_feed_batch")))
    TxLog.hygiene {
      val d = new Path(s"$staging/feed")
      fs.mkdirs(d)
      fs.create(new Path(d, s"_batch-$n"), true).close()
    }
    reserved = Some(n)
    n
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

  /** Props every commit carries from its base unless the caller's own
    * props restate them: the feed batch counter (numbering never
    * restarts), the restore/replace-bumped feed epoch (dropping it
    * would silently re-arm epoch-fenced consumers) and the replace
    * lineage floor (a durable restore fence).
    */
  private val Carried = Set("next_feed_batch", "feed_epoch", "lineage_floor")

  /** Props that describe one commit, never the table. */
  private val PerCommit = Set("txn_id", "base_txn", "op", "feed_batch",
    "feed_txn", "restored_from", "replaced_from")

  /** `snap`'s table props for a commit that restates them wholesale (a
    * metadata-only commit, or RESTORE/REPLACE adopting another
    * snapshot's state): everything but the per-commit keys, the bucket
    * map (the commit's `newBuckets` restates it) and the [[Carried]]
    * keys (the commit takes them from its own base).
    */
  def tableProps(snap: TxLog.Snapshot): Map[String, String] =
    snap.props.filter { case (k, _) => !k.startsWith("bucket.") &&
      !PerCommit.contains(k) && !Carried.contains(k) }

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
    new TableTxn(spark, dir, None)
  }

  /** Thrown inside [[merge]] when a concurrent rebucket committed
    * between bucketing the batch and the attempt's own commit: the
    * cached bucket ids are computed under the OLD layout and writing
    * them would misplace keys in the new one, so the whole merge must
    * re-bucket — an OCC retry alone cannot fix it.
    */
  private final class RebucketedDuringWrite extends RuntimeException(
    "bucket count changed under an in-flight merge")

  /** The merge loop of every maintained-table kind: bucket `batch`
    * under the layout `resolve` returns and cache it ONCE, collect the
    * touched buckets (a distinct over the bucket-id domain — a
    * metadata-sized collect whatever the batch size), then run OCC
    * attempts. Each attempt re-resolves the manifest, fences on the
    * bucket count it bucketed with, sweeps crashed writers' leftovers
    * (grace-aware: a LIVE concurrent writer's staging and in-flight
    * generation survive) and hands `attempt` the snapshot, a
    * transaction opened on it, the bucketed batch and the touched
    * buckets. A rebucket landing under the merge restarts it here,
    * re-bucketed (at most three times). `resolve` also carries the
    * caller's own fences: it runs before the batch is materialized and
    * again in every attempt. A batch touching no bucket returns
    * `ifEmpty` when given, without a commit.
    */
  def merge[R](spark: SparkSession, dir: String, batch: DataFrame,
      resolve: () => TxLog.Snapshot, ifEmpty: Option[R])(
      attempt: (TxLog.Snapshot, TableTxn, DataFrame, Seq[Int]) => R): R = {
    var restarts = 0
    while (true) {
      try return mergeBucketed(spark, dir, batch, resolve, ifEmpty, attempt)
      catch { case _: RebucketedDuringWrite if restarts < 3 => restarts += 1 }
    }
    sys.error("unreachable")
  }

  private def mergeBucketed[R](spark: SparkSession, dir: String,
      batch: DataFrame, resolve: () => TxLog.Snapshot, ifEmpty: Option[R],
      attempt: (TxLog.Snapshot, TableTxn, DataFrame, Seq[Int]) => R): R = {
    val base = resolve()
    val nBuckets = base.props("n_buckets").toInt
    val bucketed = batch
      .withColumn("bucket", Bucketing.bucketOf(
        Bucketing.decodeKeys(base.props("key")).map(col), nBuckets))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = bucketed.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      ifEmpty.filter(_ => touched.isEmpty).getOrElse(
        TxLog.withOcc(spark, dir) {
          val snap = resolve()
          if (snap.props("n_buckets").toInt != nBuckets)
            throw new RebucketedDuringWrite
          Compaction.prof("merge.sweep") { TxLog.sweep(spark, dir) }
          attempt(snap, new TableTxn(spark, dir, snap), bucketed, touched)
        })
    } finally bucketed.unpersist()
  }

  /** A rewrite of some or all buckets of `base`: `rows` (carrying
    * `bucket`, distributed by it) are the rewritten buckets' new
    * contents, staged under `clusterBy`/`tp`; `keep` are the base
    * buckets the commit keeps; `props` builds the commit's props from
    * the transaction and the buckets it staged.
    */
  private[cdc] final case class Rewrite(base: TxLog.Snapshot,
      keep: Map[Int, String], rows: DataFrame,
      props: (TableTxn, Seq[Int]) => Map[String, String],
      clusterBy: Seq[String] = Nil, tp: Option[(String, String)] = None)

  /** The rewrite skeleton of compaction, rebucket and repartition:
    * under OCC, `plan` resolves the manifest and returns the rewrite,
    * or None when there is nothing to do (no sweep, no commit); the
    * rewrite then sweeps, stages its rows and commits them as `op` —
    * dropping every older manifest unless `retainHistory`.
    */
  def rewrite(spark: SparkSession, dir: String, op: String,
      retainHistory: Boolean)(plan: => Option[Rewrite]): Unit =
    TxLog.withOcc(spark, dir) {
      plan.foreach { r =>
        TxLog.sweep(spark, dir)
        val txn = new TableTxn(spark, dir, r.base)
        val staged = txn.stage(r.rows,
          Bucketing.decodeKeys(r.base.props("key")), r.clusterBy, r.tp)
        txn.commit(r.keep ++ staged.map(b => b -> txn.bucketRel(b)),
          r.props(txn, staged), op, vacuum = !retainHistory)
      }
    }

  /** Staged-intent marker `_batch-<n>`, written into `<staging>/feed`
    * BEFORE the commit that reserves batch `n` ([[TableTxn.reserveFeed]]):
    * a writer that dies between its commit and the feed publish leaves
    * the only copy of the batch's change events in its staging dir, and
    * this marker is how [[Compaction.republishStagedFeed]] maps that
    * staging back to its batch id.
    */
  private[cdc] val IntentMarker = "^_batch-([0-9]+)$".r

  /** Zero-byte publish marker inside every published batch dir,
    * filename-encoded so no reader ever opens it:
    * `_pub-<millis>-<schemaFingerprint>[-tp<unit>]`. The millis are the
    * durable retention clock ([[Compaction.maintain]]'s `maxFeedAge` —
    * object-store directory mtimes are synthetic and clock-skewed); the
    * fingerprint identifies the table-schema EPOCH the batch was written
    * under, so the evolution-aware [[Compaction.readFeed]] does one
    * footer inference per epoch instead of one per batch. The optional
    * `-tp<unit>` suffix records the TIME-PARTITION transform the batch's
    * `_tp=` dirs were written under: a time-bounded stream consumer
    * prunes a batch's partition dirs only when the recorded unit matches
    * the unit its bounds were computed in (a partition-spec evolution
    * between the two would silently change the dirs' meaning).
    */
  private[cdc] val PubMarker =
    "^_pub-([0-9]+)-([0-9a-f]+)(-tp[a-z]+)?$".r

  private def schemaFingerprint(schemaJson: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(schemaJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString

  /** Publish `<staging>/feed` as `feed/batch=<n>` for the committed
    * `version` whose manifest `props` name the batch's schema
    * (`schema_json`) and time-partition unit (`tp_unit`), with a
    * bounded local retry — the post-commit half of [[TableTxn.commit]]
    * and of a crashed writer's republish
    * ([[Compaction.republishStagedFeed]]).
    */
  private[cdc] def publishFeed(fs: FileSystem, staging: String, dir: String,
      n: Long, version: Long, props: Map[String, String]): Unit = {
    val src = new Path(s"$staging/feed")
    val dst = new Path(s"$dir/feed/batch=$n")
    // durable publish metadata rides the rename (see [[PubMarker]]);
    // best-effort — a marker-less batch
    // falls back to dir mtime (retention) and its own footer pass
    // (evolution read). A REpublish drops the crashed attempt's marker
    // first so exactly one survives.
    TxLog.hygiene {
      fs.listStatus(src).foreach { st =>
        if (PubMarker.matches(st.getPath.getName))
          fs.delete(st.getPath, false)
      }
      fs.create(new Path(src, s"_pub-${System.currentTimeMillis()}-" +
        schemaFingerprint(props.getOrElse("schema_json", "{}")) +
        props.get("tp_unit").map(u => s"-tp$u").getOrElse("")), true).close()
    }
    var lastErr: Throwable = null
    val published = (1 to 3).exists { _ =>
      try {
        fs.mkdirs(new Path(s"$dir/feed"))
        // batch ids are writer-unique post-commit (the committed
        // counter reserved n), so dst existing means OUR earlier
        // attempt succeeded but reported failure
        fs.rename(src, dst) || fs.exists(dst)
      } catch {
        case scala.util.control.NonFatal(e) => lastErr = e; false
      }
    }
    if (!published)
      throw new TxLog.PostCommitPublishFailure(
        s"table committed at v$version but feed batch $n failed to publish",
        lastErr)
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
