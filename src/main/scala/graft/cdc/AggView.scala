package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate view — the third member of the
  * maintained-table family (latest state = [[Compaction]], history =
  * [[Scd2]], aggregates = this): a per-key (count, sum, non-null
  * count) table that absorbs delta batches WITHOUT rescanning
  * history, with the same hash-bucketed layout and path-pruned
  * rewrites. The `nncnt` partial (state format 2, r12) is the
  * measure's per-key NON-NULL count: it derives `count(v)` and, with
  * `total`, the exact decimal `avg(v)` in [[graft.plans.MvRewrite]].
  *
  * Count and sum are the canonical ALGEBRAIC aggregates: a batch
  * collapses to per-key partials (map-side combined), and merging is
  * pointwise addition on the <= one-row-per-key state — avg/rate
  * derive downstream. Deltas are additive; model an update as a
  * retraction pair (negative delta) if the source emits them.
  *
  * Exactly-once: merges are NOT idempotent (addition), so the manifest
  * records the last applied `batchId` and [[merge]] refuses ids
  * <= it. foreachBatch's dominant failure mode — the batch completed
  * but the checkpoint didn't commit, so the SAME id is re-presented —
  * becomes a no-op. The fence and the data commit are ONE atomic
  * manifest rename (see [[TxLog]]): a crash between the bucket write
  * and the commit leaves both the data and the fence at the previous
  * batch, so the replay applies exactly once — the double-count window
  * the previous separate data/meta writes had is closed (verified by
  * the crash-injection AtomicCommitSpec).
  */
object AggView {

  final case class MergeStats(applied: Boolean, touchedBuckets: Seq[Int])

  private def bucketOf(keys: Seq[org.apache.spark.sql.Column], nBuckets: Int) =
    Bucketing.bucketOf(keys, nBuckets)

  private def keysOf(s: TxLog.Snapshot): Seq[String] =
    Bucketing.decodeKeys(s.props("key"))

  // totals pinned to DECIMAL(28,2): sum() widens decimal precision per
  // aggregation, and a per-merge widening would drift the stored
  // schema across buckets
  private def partials(df: DataFrame, keys: Seq[String],
      valueCol: String, minMax: Boolean = false) = {
    val base = Seq(count(lit(1)).as("cnt"),
        sum(col(valueCol).cast("decimal(18,2)"))
          .cast("decimal(28,2)").as("total"),
        // per-group NON-NULL measure count (state format 2, r12):
        // derives count(v) and, with total, exact decimal avg(v).
        // Counts the CAST measure — the declared decimal(18,2) shape
        // the rewrite matches — so null-ness agrees with the base
        // aggregation even when a cast overflow nulls a value
        count(col(valueCol).cast("decimal(18,2)")).as("nncnt")) ++
      // append-only min/max partials (r13): sound ONLY while the feed
      // never retracts — applyFeed fences on the first non-insert
      // event and invalidates the view loudly
      (if (minMax)
        Seq(min(col(valueCol).cast("decimal(18,2)")).as("vmin"),
          max(col(valueCol).cast("decimal(18,2)")).as("vmax"))
      else Nil)
    df.groupBy(keys.map(col): _*).agg(base.head, base.tail: _*)
  }

  private def coreProps(keys: Seq[String], valueCol: String, nBuckets: Int,
      lastBatchId: Long, schemaJson: String,
      minMax: Boolean = false): Map[String, String] = (if (minMax)
      Map("agg_minmax" -> "true") else Map.empty[String, String]) ++ Map(
    "table_type" -> "aggview",
    // state format 2 = per-key (cnt, total, nncnt); bumped in r12 when
    // the non-null count partial was added. snap() refuses format-1
    // manifests loudly — the partials cannot be conjured retroactively
    "agg_format" -> "2",
    "key" -> Bucketing.encodeKeys(keys), "value_col" -> valueCol,
    "n_buckets" -> nBuckets.toString,
    "last_batch_id" -> lastBatchId.toString,
    "schema_json" -> schemaJson)

  def init(df: DataFrame, dir: String, key: String, valueCol: String,
      nBuckets: Int = 256, batchId: Long = -1L): Unit =
    init(df, dir, Seq(key), valueCol, nBuckets, batchId)

  /** Composite-key form (e.g. per `(tenant_id, event_type)` totals):
    * one aggregate row per key TUPLE; see [[Compaction.init]].
    */
  def init(df: DataFrame, dir: String, keys: Seq[String], valueCol: String,
      nBuckets: Int, batchId: Long): Unit =
    init(df, dir, keys, valueCol, nBuckets, batchId, minMax = false)

  /** `minMax = true` additionally stores per-key `vmin`/`vmax`
    * partials of the measure (r13) — APPEND-ONLY views: min/max are
    * not retraction-safe (a deleted extreme needs a recount), so
    * [[applyFeed]] refuses the first non-insert feed event by
    * committing an `invalid` marker instead of ever serving (or
    * silently keeping) a wrong extreme.
    */
  def init(df: DataFrame, dir: String, keys: Seq[String], valueCol: String,
      nBuckets: Int, batchId: Long, minMax: Boolean): Unit = {
    val spark = df.sparkSession
    require(nBuckets > 0)
    Bucketing.encodeKeys(keys)
    // the state columns are generated here; a key by these names
    // would be silently clobbered
    keys.foreach(key =>
      require(!Set("cnt", "total", "nncnt", "vmin", "vmax", "bucket")
          .contains(key.toLowerCase),
        s"key column '$key' collides with the view's state columns"))
    val txn = TableTxn.create(spark, dir)
    val state = partials(df, keys, valueCol, minMax)
      .withColumn("bucket", bucketOf(keys.map(col), nBuckets))
    val staged = txn.stage(state.repartition(col("bucket")), keys)
    txn.commit(
      staged.map(b => b -> txn.bucketRel(b)).toMap,
      coreProps(keys, valueCol, nBuckets, batchId,
        state.drop("bucket").schema.json, minMax),
      op = "init")
  }

  private def snap(spark: SparkSession, dir: String): TxLog.Snapshot = {
    val s = Compaction.latestSnap(spark, dir)
    // format fence (r12): a view whose state predates the nncnt
    // partial cannot serve it, and silently reading/merging would
    // corrupt the stored schema — refuse loudly, naming the upgrade
    if (!s.props.get("agg_format").contains("2"))
      throw new IllegalStateException(s"aggview at $dir uses state " +
        "format 1 (pre-nncnt); its partials cannot be upgraded in " +
        "place — DROP and re-CREATE (or re-init) the view to rebuild " +
        "it under format 2")
    s
  }

  def readMeta(spark: SparkSession, dir: String): (String, String, Int, Long) = {
    val s = snap(spark, dir)
    (s.props("key"), s.props("value_col"), s.props("n_buckets").toInt,
      s.props("last_batch_id").toLong)
  }

  private def schemaOf(s: TxLog.Snapshot) =
    org.apache.spark.sql.types.DataType.fromJson(s.props("schema_json"))
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  private def readPaths(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      paths: Seq[String]): DataFrame =
    // explicit schema: a fully-retracted view has no footers left to
    // infer from, and reads must stay well-defined with zero live paths
    if (paths.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(paths: _*)

  private def hasMinMax(s: TxLog.Snapshot): Boolean =
    s.props.get("agg_minmax").contains("true")

  /** Whether the committed view stores append-only min/max partials
    * (`vmin`/`vmax`) — the registration layer exposes them to the
    * rewrite only when it does.
    */
  def minMaxEnabled(spark: SparkSession, dir: String): Boolean =
    TxLog.latest(spark, dir).exists(hasMinMax)

  private def stateCols(minMax: Boolean): Seq[String] =
    Seq("cnt", "total", "nncnt") ++
      (if (minMax) Seq("vmin", "vmax") else Nil)

  private def foldAggs(minMax: Boolean) =
    Seq(sum(col("cnt")).as("cnt"),
      sum(col("total")).cast("decimal(28,2)").as("total"),
      sum(col("nncnt")).as("nncnt")) ++
    // min-of-mins / max-of-maxes: exact for append-only state (the
    // only state a minMax view ever holds — see applyFeed's fence)
    (if (minMax) Seq(min(col("vmin")).as("vmin"),
      max(col("vmax")).as("vmax")) else Nil)

  /** Sum partial rows down to one row per key; a key whose merged
    * count is zero (fully retracted across base + deltas) leaves the
    * view. This IS merge-on-read for aggregates: partials are
    * commutative, so delta files need no sequence column and any
    * subset folds to the same answer.
    */
  private def foldPartials(df: DataFrame, keys: Seq[String]): DataFrame = {
    val minMax = df.columns.exists(_.equalsIgnoreCase("vmin"))
    val aggs = foldAggs(minMax)
    df.groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("cnt") =!= 0)
      .select((keys ++ stateCols(minMax)).map(col): _*)
  }

  /** The live view: clean buckets ride the plain scan (no shuffle);
    * buckets carrying unfolded delta files fold base + deltas by
    * per-key summation.
    */
  private def storedData(spark: SparkSession, dir: String,
      s: TxLog.Snapshot): DataFrame = {
    val schema = schemaOf(s)
    val keys = keysOf(s)
    val dirty = s.deltas.keySet
    val clean = readPaths(spark, schema,
      (s.buckets -- dirty).values.map(rel => s"$dir/data/$rel").toSeq)
    if (dirty.isEmpty) clean
    else {
      val dirtyRels = dirty.toSeq.flatMap(b => s.buckets.get(b)) ++
        dirty.toSeq.flatMap(b => s.deltas.getOrElse(b, Nil))
      val folded = foldPartials(
        readPaths(spark, schema,
          dirtyRels.map(rel => s"$dir/data/$rel")), keys)
      clean.unionByName(folded)
    }
  }

  def read(spark: SparkSession, dir: String): DataFrame =
    storedData(spark, dir, snap(spark, dir))

  /** One key's aggregate row (the dashboard point read) from the
    * single bucket directory that can hold it — O(1 bucket) on a view
    * of any size. The read is EAGER and runs no Spark job, exactly as
    * [[Compaction.lookup]]: the pinned bucket's base and delta
    * partials are read and summed on the calling thread before this
    * returns, so the frame holds the snapshot resolved at `lookup()`
    * time and its `inputFiles` name the files read.
    */
  def lookup(spark: SparkSession, dir: String, keyValue: Any): DataFrame = {
    val s = snap(spark, dir)
    graft.catalog.GraftPointRead.read(spark, dir, s, schemaOf(s),
      Seq(keyValue))
  }

  /** Resize the view's bucket count in ONE committed full rewrite —
    * same contract as [[Compaction.rebucket]]: the batch-id fence and
    * version lineage carry, readers never see an intermediate state,
    * racing writers conflict-retry, and a delta merge in flight under
    * the old layout detects the change and restarts re-bucketed.
    */
  def rebucket(spark: SparkSession, dir: String, newNBuckets: Int,
      retainHistory: Boolean = false): Unit = {
    require(newNBuckets > 0, "nBuckets must be positive")
    TableTxn.rewrite(spark, dir, "rebucket", retainHistory) {
      val s = snap(spark, dir)
      val keys = keysOf(s)
      Option.when(s.props("n_buckets").toInt != newNBuckets)(
        TableTxn.Rewrite(s, Map.empty, storedData(spark, dir, s)
            .withColumn("bucket", bucketOf(keys.map(col), newNBuckets))
            .repartition(col("bucket")),
          (_, _) => coreProps(keys, s.props("value_col"),
            newNBuckets, s.props("last_batch_id").toLong,
            s.props("schema_json"), hasMinMax(s))))
    }
  }

  /** Fold one delta batch in. Returns applied=false (and touches
    * nothing) when `batchId` was already applied — the exactly-once
    * fence for at-least-once callers. Pass monotonically increasing
    * ids (foreachBatch's id works as-is).
    */
  def merge(spark: SparkSession, dir: String, batch: DataFrame,
      batchId: Long, mergeOnRead: Boolean = false): MergeStats = {
    val s = snap(spark, dir)
    if (batchId <= s.props("last_batch_id").toLong)
      return MergeStats(applied = false, Nil)
    mergeDeltas(spark, dir,
      partials(batch, keysOf(s), s.props("value_col"), hasMinMax(s)),
      batchId, canRetract = false, mergeOnRead)
  }

  /** Incremental view maintenance over a [[Compaction]] change data
    * feed: each feed event becomes a SIGNED delta — `insert` and
    * `update_postimage` add the row (+1, +value), `delete` and
    * `update_preimage` retract it (−1, −value) — so after applying
    * every feed batch the view equals a from-scratch aggregation of
    * the live table. This is the classic retraction-pair IVM plan the
    * object doc promises: the maintained table emits its own deltas,
    * and downstream aggregates never rescan it. `feed` must carry the
    * view's key and value columns plus `_change_type`; a key whose
    * merged count reaches zero leaves the view (and a bucket emptied
    * that way leaves the manifest's bucket map, same rule as
    * Compaction).
    */
  def applyFeed(spark: SparkSession, dir: String, feed: DataFrame,
      batchId: Long): MergeStats =
    applyFeedImpl(spark, dir, feed, batchId, mergeOnRead = false)

  /** The retraction fence for min/max views (r13): min/max partials
    * are not retraction-safe (a deleted extreme needs a recount), so
    * a view that stores them accepts ONLY insert events. The first
    * non-insert event commits a durable `invalid` marker (the batch
    * fence stays put, so the rewrite's freshness check keeps serving
    * the BASE — never a stale extreme) and fails loudly; the remedy
    * is DROP and re-CREATE (or re-create without min/max).
    */
  private def applyFeedImpl(spark: SparkSession, dir: String,
      feed: DataFrame, batchId: Long,
      mergeOnRead: Boolean): MergeStats = {
    val s = snap(spark, dir)
    s.props.get("invalid").foreach(reason =>
      throw new IllegalStateException(
        s"aggview at $dir is invalidated ($reason) — DROP and " +
          "re-CREATE it (or re-create it without min/max partials)"))
    if (batchId <= s.props("last_batch_id").toLong)
      return MergeStats(applied = false, Nil)
    val (keys, valueCol) = (keysOf(s), s.props("value_col"))
    val minMax = hasMinMax(s)
    if (minMax &&
        !feed.filter(col("_change_type") =!= "insert").isEmpty) {
      val reason = s"feed batch $batchId carries non-insert " +
        "(retraction) events; append-only min/max partials cannot " +
        "absorb a retraction"
      try new TableTxn(spark, dir, s).commit(s.buckets,
        TableTxn.tableProps(s) + ("invalid" -> reason), op = "invalidate")
      catch { case _: TxLog.CommitConflict => () } // racer advanced us
      throw new IllegalStateException(
        s"aggview at $dir invalidated: $reason — DROP and re-CREATE " +
          "it (or re-create it without min/max partials)")
    }
    val sign = when(
        col("_change_type").isin("insert", "update_postimage"), 1L)
      .when(col("_change_type").isin("delete", "update_preimage"), -1L)
      .otherwise(0L)
    val aggs = Seq(sum(sign).as("cnt"),
        sum(col(valueCol).cast("decimal(18,2)") * sign)
          .cast("decimal(28,2)").as("total"),
        sum(when(col(valueCol).cast("decimal(18,2)").isNotNull, sign)
          .otherwise(0L)).as("nncnt")) ++
      // a minMax batch is insert-only past the fence above, so the
      // batch extremes ARE the delta partials
      (if (minMax)
        Seq(min(col(valueCol).cast("decimal(18,2)")).as("vmin"),
          max(col(valueCol).cast("decimal(18,2)")).as("vmax"))
      else Nil)
    val signed = feed.groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      // an update whose value did not move is an all-zero delta:
      // folding it in would rewrite the key's bucket to state it
      // already holds (nncnt checked too — a null→non-null flip of
      // the same total must still land). A minMax batch is insert-
      // only: every group carries cnt > 0 and always lands.
      .filter(col("cnt") =!= 0 || coalesce(col("total"), lit(0)) =!= 0 ||
        col("nncnt") =!= 0)
    mergeDeltas(spark, dir, signed, batchId, canRetract = true,
      mergeOnRead)
  }

  /** Feed-driven IVM with O(batch) delta writes: the signed partials
    * land as per-bucket delta files instead of rewriting every
    * touched bucket — the scattered-update fast path for a view whose
    * feed touches most groups every batch. Reads fold by summation;
    * [[compact]] restores the zero-fold path.
    */
  def applyFeedOnRead(spark: SparkSession, dir: String, feed: DataFrame,
      batchId: Long): MergeStats =
    applyFeedImpl(spark, dir, feed, batchId, mergeOnRead = true)


  /** Fold delta chains of length ≥ `minDeltas` back into their
    * buckets' base (one committed rewrite of just those buckets) —
    * the batch fence carries unchanged; same incremental contract as
    * [[Compaction.compact]].
    */
  def compact(spark: SparkSession, dir: String, minDeltas: Int = 1,
      retainHistory: Boolean = false): Unit =
    TableTxn.rewrite(spark, dir, "compact", retainHistory) {
      val s = snap(spark, dir)
      val dirty = s.deltas.collect {
        case (b, rels) if rels.size >= minDeltas => b
      }.toSet
      val (keys, valueCol, nBuckets) =
        (keysOf(s), s.props("value_col"), s.props("n_buckets").toInt)
      val rels = dirty.toSeq.flatMap(b => s.buckets.get(b)) ++
        dirty.toSeq.flatMap(b => s.deltas.getOrElse(b, Nil))
      Option.when(dirty.nonEmpty)(TableTxn.Rewrite(s, s.buckets -- dirty,
        foldPartials(readPaths(spark, schemaOf(s),
            rels.map(rel => s"$dir/data/$rel")), keys)
          .withColumn("bucket", bucketOf(keys.map(col), nBuckets))
          .repartition(col("bucket")),
        (_, _) => coreProps(keys, valueCol, nBuckets,
          s.props("last_batch_id").toLong, s.props("schema_json"),
          hasMinMax(s)) ++ carriedChains(s, dirty)))
    }

  /** Delta chains of buckets a commit does NOT rewrite/restage carry
    * verbatim; a CoW rewrite folds its buckets' chains in and drops
    * them, a MoR write appends to them.
    */
  private def carriedChains(s: TxLog.Snapshot,
      restaged: Set[Int]): Map[String, String] =
    Compaction.carriedStats(s.props, restaged, Compaction.DeltaPrefixes)

  /** Per-bucket merge-on-read pressure: (bucket, chain length). */
  def deltaStats(spark: SparkSession, dir: String): Seq[(Int, Int)] = {
    val s = snap(spark, dir)
    s.deltas.toSeq.sortBy(_._1).map { case (b, rels) => (b, rels.size) }
  }

  private def mergeDeltas(spark: SparkSession, dir: String,
      deltaPartials: DataFrame,
      batchId: Long, canRetract: Boolean,
      mergeOnRead: Boolean): MergeStats =
    // each OCC attempt re-resolves the snapshot AND the fence — a
    // concurrent writer may have applied this very batchId, in which
    // case the retry degrades to the exactly-once no-op
    TableTxn.merge(spark, dir, deltaPartials, () => snap(spark, dir),
      ifEmpty = None) { (s, txn, delta, touched) =>
      if (batchId <= s.props("last_batch_id").toLong)
        MergeStats(applied = false, Nil)
      else mergeDeltasOnce(spark, dir, s, txn, delta, touched, batchId,
        canRetract, mergeOnRead)
    }

  private def mergeDeltasOnce(spark: SparkSession, dir: String,
      s: TxLog.Snapshot, txn: TableTxn, delta: DataFrame, touched: Seq[Int],
      batchId: Long, canRetract: Boolean,
      mergeOnRead: Boolean): MergeStats = {
    val (keys, valueCol, nBuckets) =
      (keysOf(s), s.props("value_col"), s.props("n_buckets").toInt)
    var newBuckets = s.buckets
    val touchedSet = touched.toSet
    var extraProps: Map[String, String] = carriedChains(s,
      if (mergeOnRead) Set.empty else touchedSet)
    if (touched.nonEmpty && mergeOnRead) {
      // O(batch): stage the delta partials themselves; base entries
      // (and prior chains) carry verbatim, reads fold by summation
      val staged = txn.stage(delta.repartition(col("bucket")), keys)
      extraProps = carriedChains(s, staged.toSet) ++ staged.map { b =>
        val rels = s.deltas.getOrElse(b, Nil) :+ txn.bucketRel(b)
        s"delta.$b" -> rels.mkString(",")
      }
    } else if (touched.nonEmpty) {
      // fold the touched buckets' base AND any delta chains in: a CoW
      // rewrite leaves its buckets clean
      val touchedRels = s.buckets.view.filterKeys(touchedSet).values.toSeq ++
        touched.flatMap(b => s.deltas.getOrElse(b, Nil))
      val schema = schemaOf(s)
      val stored = readPaths(spark, schema,
        touchedRels.map(rel => s"$dir/data/$rel"))
      val minMax = hasMinMax(s)
      val aggs = foldAggs(minMax)
      val merged = stored
        .withColumn("bucket", bucketOf(keys.map(col), nBuckets))
        .unionByName(delta)
        .groupBy(col("bucket") +: keys.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
        // a fully-retracted key (merged count 0) leaves the view;
        // additive-only deltas can't reach 0 UNLESS a folded delta
        // chain carried retractions — filter whenever either applies
        .filter(!lit(canRetract || touched.exists(s.deltas.contains)) ||
          col("cnt") =!= 0)
        .select((keys ++ stateCols(minMax) :+ "bucket").map(col): _*)
      // a retraction can empty a touched bucket entirely: it staged no
      // partition and simply leaves the bucket map — no stale
      // directory can resurrect its rows because readers only ever
      // resolve manifest-listed paths
      val staged = txn.stage(merged.repartition(col("bucket")), keys)
      newBuckets = (s.buckets -- touched) ++
        staged.map(b => b -> txn.bucketRel(b))
    }
    // ONE commit publishes the new bucket contents AND the advanced
    // fence — the atomic data+meta write (a no-data batch still
    // commits a manifest: the fence must advance exactly-once too)
    txn.commit(newBuckets,
      coreProps(keys, valueCol, nBuckets, batchId,
        s.props("schema_json"), hasMinMax(s)) ++ extraProps,
      op = if (canRetract) "applyFeed"
        else if (mergeOnRead) "merge-mor" else "merge",
      vacuum = true)
    MergeStats(applied = true, touched)
  }
}
