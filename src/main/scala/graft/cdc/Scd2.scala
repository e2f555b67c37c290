package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Maintained SCD type-2 history: the history-preserving twin of
  * [[Compaction]]. Where Compaction keeps only each key's LATEST state,
  * Scd2 keeps every version as a validity interval — `valid_from` (the
  * row's own version column), `valid_to` (the next change's version,
  * null while open) and `is_current` — and maintains the table
  * incrementally with path-pruned rewrites.
  *
  * The scaled analog of consuming the reference's `updated_at`
  * changelog (/root/reference/app/services/export.py:21-23) into an
  * auditable history instead of a mutable snapshot.
  *
  * Layout (same manifest protocol as Compaction, see [[TxLog]]):
  * immutable `dir/data/g<V>/bucket=B` parquet directories hash-bucketed
  * on the key, published by a versioned manifest whose single rename is
  * the commit point — a crashed merge leaves the previous version
  * byte-identical, never a torn bucket mix.
  *
  * Merge semantics:
  *  - a batch touches only the buckets containing its keys; untouched
  *    bucket directories are never read, listed, or rewritten;
  *  - within a touched bucket, only CHANGED keys re-window — their full
  *    history (stored state records ∪ batch changes) is re-derived, so
  *    a late change that lands between two closed intervals splices in
  *    EXACTLY (no stale `valid_to` survives); unchanged keys' rows pass
  *    through untouched;
  *  - `(key, version)` identifies a change: replaying a batch
  *    deduplicates against stored rows, so at-least-once delivery
  *    converges to the same table;
  *  - tombstones (`deleteCol` true) are kept as history rows — they
  *    close their predecessor's interval, never become `is_current`,
  *    and a later non-tombstone version resurrects the key.
  *
  * History never shrinks, so merges cannot empty a bucket (no
  * emptied-bucket accounting needed, unlike Compaction).
  */
object Scd2 {

  import Compaction.{Meta, loadMeta}

  /** Outcome of one merge batch, for observability and specs. */
  final case class MergeStats(touchedBuckets: Seq[Int], rowsWritten: Long)

  private def bucketOf(keys: Seq[org.apache.spark.sql.Column], nBuckets: Int) =
    Bucketing.bucketOf(keys, nBuckets)

  /** Generated interval columns: user data by these names would be
    * silently clobbered — init AND merge both fail fast (a merge batch
    * carrying them used to be silently rewritten).
    */
  private def requireNoGenerated(cols: Seq[String], what: String): Unit = {
    Compaction.requireNoReserved(cols, what)
    require(!cols.map(_.toLowerCase)
        .exists(Set("valid_to", "is_current")),
      s"$what collides with generated columns valid_to/is_current")
  }

  /** History rows from a bag of state records: per-key lead window over
    * the version order. Tombstone ties are impossible once `(key,
    * version)` is deduplicated, so the order is total.
    *
    * `byBucket = true` (r16, guide §2.4): the caller has already
    * hash-distributed `states` by its `bucket` column, and both the
    * dedup and the lead window group by (bucket ++ keys ...) instead —
    * identical groups (bucket is a pure function of the key tuple),
    * but ClusteredDistribution(bucket, ...) is satisfied by the bucket
    * exchange, so neither operator shuffles and the staged write
    * downstream rides the same single exchange.
    */
  private def window(states: DataFrame, keys: Seq[String], versionCol: String,
      deleteCol: String, byBucket: Boolean = false): DataFrame = {
    val groupKeys = if (byBucket) "bucket" +: keys else keys
    val w = Window.partitionBy(groupKeys.map(col): _*)
      .orderBy(col(versionCol))
    states
      .dropDuplicates(groupKeys :+ versionCol)
      .withColumn("valid_to", lead(col(versionCol), 1).over(w))
      // null delete flag = LIVE (Compaction.isDeleted convention);
      // a bare !col would write NULL into is_current for such rows
      // while the catalog reader's foldScd2 computes true
      .withColumn("is_current",
        col("valid_to").isNull && !Compaction.isDeleted(deleteCol))
  }

  /** Build the history table from a full changelog (any number of
    * versions per key). `df` must carry `key`, `versionCol` (unique per
    * key — the change identity) and boolean `deleteCol`.
    */
  def init(df: DataFrame, dir: String, key: String,
      versionCol: String, deleteCol: String,
      nBuckets: Int = 256): Unit =
    init(df, dir, Seq(key), versionCol, deleteCol, nBuckets)

  /** Composite-key form (e.g. `(tenant_id, id)`): history intervals
    * are maintained per key TUPLE; see [[Compaction.init]].
    */
  def init(df: DataFrame, dir: String, keys: Seq[String],
      versionCol: String, deleteCol: String,
      nBuckets: Int): Unit = {
    val spark = df.sparkSession
    require(nBuckets > 0, "nBuckets must be positive")
    requireNoGenerated(df.columns.toSeq, "changelog schema")
    Bucketing.encodeKeys(keys)
    keys.foreach(k => require(df.columns.contains(k),
      s"key column '$k' missing from the changelog schema"))
    val txn = TableTxn.create(spark, dir)
    // one exchange end to end (r16): distribute by bucket up front;
    // the dedup + lead window then group by (bucket, key, ...) with
    // no shuffle of their own, and the staged write rides the same
    // distribution (previously: dedup exchange + window exchange +
    // repartition(bucket) = three full-history shuffles)
    val staged = txn.stage(
      window(df.withColumn("bucket", bucketOf(keys.map(col), nBuckets))
          .repartition(col("bucket")),
        keys, versionCol, deleteCol, byBucket = true),
      keys)
    txn.commit(
      staged.map(b => b -> txn.bucketRel(b)).toMap,
      coreProps(keys, versionCol, deleteCol, nBuckets,
        window(df.limit(0), keys, versionCol, deleteCol).schema.json) ++
        Compaction.rowProps(Compaction.stagedStats(
          spark, txn.staging, staged, versionCol)),
      op = "init")
  }

  private def coreProps(keys: Seq[String], versionCol: String,
      deleteCol: String,
      nBuckets: Int, schemaJson: String): Map[String, String] = Map(
    "table_type" -> "scd2",
    "key" -> Bucketing.encodeKeys(keys), "version_col" -> versionCol,
    "delete_col" -> deleteCol, "n_buckets" -> nBuckets.toString,
    "schema_json" -> schemaJson)

  /** The committed history-retention floor ([[expireHistoryBefore]]),
    * carried through every later rewrite — a merge/compact/rebucket
    * that dropped it would silently re-arm `asOf` below the floor.
    */
  private def floorProp(snap: TxLog.Snapshot): Map[String, String] =
    snap.prop("expired_before").map("expired_before" -> _).toMap

  /** `aStr <= b` under the version column's type (`aStr` a stringified
    * manifest stat, `b` a raw bound). `onFailedCompare` is what a
    * failed cast/compare answers, and the safe direction DIFFERS per
    * call site (r11 advice): candidate-bucket selection must ADMIT the
    * bucket (`true` — over-scanning is safe, skipping is not), while
    * the asOf fence must REFUSE the read and the monotone-floor check
    * must RUN retention (`false` — an un-comparable bound silently
    * no-opping retention, or admitting a read below the expired floor,
    * are both wrong-direction defaults).
    */
  private def typedLe(aStr: String, b: Any,
      dt: org.apache.spark.sql.types.DataType,
      onFailedCompare: Boolean): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, LessThanOrEqual, Literal}
    import org.apache.spark.sql.types.StringType
    val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    val la = Cast(Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(aStr), StringType),
      dt, tz)
    LessThanOrEqual(la, Cast(Literal(b), dt, tz)).eval() match {
      case x: java.lang.Boolean => x
      case _ => onFailedCompare
    }
  }

  private def readBuckets(spark: SparkSession, dir: String, m: Meta,
      rels: Iterable[String]): DataFrame = {
    val paths = rels.map(rel => s"$dir/data/$rel").toSeq
    val noBucket = if (paths.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
    else spark.read.schema(m.schema).parquet(paths: _*)
    noBucket.withColumn("bucket", bucketOf(m.keyCols, m.nBuckets))
  }

  /** Drop the rows the committed retention floor has retired — the
    * EXACT predicate [[expireHistoryBefore]] deletes with: fully-
    * superseded history (`valid_to <= floor`) and tombstones at
    * `version <= floor`. Applied to every RE-WINDOWED output (the
    * copy-on-write merge's rebuilt keys, the merge-on-read fold, and
    * through the fold: compact), so a replayed pre-floor batch cannot
    * resurrect below-floor history (r11 verdict item 4) — while a
    * late row whose successor sits ABOVE the floor still splices in,
    * exactly as expire would have kept it. No-op without a floor.
    */
  private def dropExpired(df: DataFrame, m: Meta): DataFrame =
    m.snap.prop("expired_before") match {
      case None => df
      case Some(f) =>
        val cut = lit(f).cast(m.schema(m.versionCol).dataType)
        df.filter(!((col("valid_to").isNotNull &&
          col("valid_to") <= cut) ||
          (Compaction.isDeleted(m.deleteCol) &&
            col(m.versionCol) <= cut)))
    }

  /** Fold DIRTY buckets' base + delta files into live history — the
    * read half of Scd2 merge-on-read. One scan over base dirs (full
    * interval rows, `_seq` null) and delta dirs (state records,
    * interval columns null, `_seq` = committing version) under one
    * widened schema; then (1) deduplicate `(key, version)` replays —
    * `_seq` descending nulls-last, so the LATEST delta beats earlier
    * ones and any delta beats the base — collapse to state records,
    * and (2) re-derive the intervals with the same [[window]] every
    * other path uses. A late change splices exactly: the window is
    * the definition, not an incremental patch. Cost: the window
    * shuffle touches only the dirty buckets' rows.
    */
  private def foldBuckets(spark: SparkSession, dir: String, m: Meta,
      ids: Iterable[Int], bucketed: Boolean = false): DataFrame = {
    val idSeq = ids.toSeq
    val rels = idSeq.flatMap(b => m.buckets.get(b)) ++
      idSeq.flatMap(b => m.deltas.getOrElse(b, Nil))
    val withSeq = org.apache.spark.sql.types.StructType(
      m.schema.fields :+ org.apache.spark.sql.types.StructField(
        "_seq", org.apache.spark.sql.types.LongType, nullable = true))
    val paths = rels.map(rel => s"$dir/data/$rel")
    val raw = if (paths.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], withSeq)
    else spark.read.schema(withSeq).parquet(paths: _*)
    // `bucketed` (r16): the fold establishes the bucket distribution
    // up front and every grouped step — replay dedup, lead window —
    // rides it (identical groups; bucket is a function of the keys),
    // so compact's staged write needs no second exchange. Plain reads
    // keep the key-partitioned shape (wider than nBuckets when few
    // buckets are dirty, and their consumers need no distribution).
    val (src, dedupKeys) =
      if (bucketed) (raw.withColumn("bucket",
          bucketOf(m.keyCols, m.nBuckets)).repartition(col("bucket")),
        col("bucket") +: m.keyCols)
      else (raw, m.keyCols)
    val dedupW = Window.partitionBy((dedupKeys :+ col(m.versionCol)): _*)
      .orderBy(col("_seq").desc_nulls_last)
    val states = src
      .withColumn("_rn", row_number().over(dedupW))
      .filter(col("_rn") === 1)
      .drop("_rn", "_seq", "valid_to", "is_current")
    val folded = dropExpired(
      window(states, m.keys, m.versionCol, m.deleteCol,
        byBucket = bucketed), m)
    if (bucketed) folded
    else folded.withColumn("bucket", bucketOf(m.keyCols, m.nBuckets))
  }

  /** The live history of `ids`: clean buckets ride the plain pruned
    * scan (no window, no shuffle), dirty buckets fold base + deltas.
    * A fully-compacted table takes the fast path everywhere.
    */
  private def liveView(spark: SparkSession, dir: String, m: Meta,
      ids: Set[Int]): DataFrame = {
    val dirty = ids.intersect(m.dirty)
    val clean = readBuckets(spark, dir, m,
      (ids -- dirty).toSeq.flatMap(m.buckets.get))
    if (dirty.isEmpty) clean
    else clean.unionByName(foldBuckets(spark, dir, m, dirty))
  }

  private def storedData(spark: SparkSession, dir: String,
      m: Meta): DataFrame =
    liveView(spark, dir, m, m.liveIds)

  /** Absolute live bucket directories (for specs and path accounting). */
  private[graft] def livePaths(spark: SparkSession, dir: String): Map[Int, String] =
    Compaction.livePaths(spark, dir)

  /** The (key, versionCol, deleteCol, nBuckets) the table runs with. */
  def readMeta(spark: SparkSession, dir: String): (String, String, String, Int) =
    Compaction.readMeta(spark, dir)

  /** One key's FULL history (all its validity intervals, tombstones
    * included) from the single bucket directory that can hold it —
    * the audit query "show me everything this key ever was", O(1
    * bucket) on a history of any size. The read is EAGER and runs no
    * Spark job, exactly as [[Compaction.lookup]]: the pinned bucket is
    * read and folded (the interval re-window and the retention floor
    * included) on the calling thread before this returns, so the
    * frame holds the snapshot resolved at `lookup()` time and its
    * `inputFiles` name the files read.
    */
  def lookup(spark: SparkSession, dir: String, keyValue: Any): DataFrame = {
    val m = loadMeta(spark, dir)
    graft.catalog.GraftPointRead.read(spark, dir, m.snap, m.schema,
      Seq(keyValue))
  }

  /** The pruned slice a merge of `touched` buckets reads — factored out
    * so Scd2Spec can assert the scan opens only touched buckets' files.
    */
  private[graft] def prunedHistory(spark: SparkSession, dir: String,
      touched: Seq[Int]): DataFrame =
    prunedHistory(spark, dir, touched, loadMeta(spark, dir))

  private def prunedHistory(spark: SparkSession, dir: String,
      touched: Seq[Int], m: Meta): DataFrame =
    liveView(spark, dir, m, touched.toSet.intersect(m.liveIds))

  /** Resize the history table's bucket count in ONE committed full
    * rewrite — same contract as [[Compaction.rebucket]]: the version
    * lineage continues, stats and zone maps recompute in the staged
    * footer pass, readers never see an intermediate state, racing
    * writers conflict-retry, and a merge in flight under the old
    * layout detects the change and restarts re-bucketed.
    */
  def rebucket(spark: SparkSession, dir: String, newNBuckets: Int,
      retainHistory: Boolean = false): Unit = {
    require(newNBuckets > 0, "nBuckets must be positive")
    TableTxn.rewrite(spark, dir, "rebucket", retainHistory) {
      val m = loadMeta(spark, dir)
      Option.when(m.nBuckets != newNBuckets)(TableTxn.Rewrite(m.snap,
        Map.empty, storedData(spark, dir, m).drop("bucket")
          .withColumn("bucket", bucketOf(m.keyCols, newNBuckets))
          .repartition(col("bucket")),
        (txn, staged) =>
          coreProps(m.keys, m.versionCol, m.deleteCol, newNBuckets,
            m.schema.json) ++ floorProp(m.snap) ++
          Compaction.rowProps(Compaction.stagedStats(
            spark, txn.staging, staged, m.versionCol))))
    }
  }

  /** Full history with intervals (no internal bucket column). */
  def read(spark: SparkSession, dir: String): DataFrame =
    storedData(spark, dir, loadMeta(spark, dir)).drop("bucket")

  /** Exact history row count from the manifest alone (zero file
    * opens) — every commit records per-bucket counts; buckets from a
    * pre-stats manifest fall back to a path-pruned count.
    */
  def countRows(spark: SparkSession, dir: String): Long = {
    val m = loadMeta(spark, dir)
    val counted = m.snap.props.collect {
      case (k, v) if k.startsWith("rows.") =>
        k.drop("rows.".length).toInt -> v.toLong
    }.toMap
    // a dirty bucket needs the fold (a delta row may be a replayed
    // (key, version) — no metadata can know without reading)
    val clean = m.buckets.keySet -- m.dirty
    val missing = clean -- counted.keySet
    val rest = if (missing.isEmpty) 0L
      else readBuckets(spark, dir, m,
        m.buckets.view.filterKeys(missing.contains).values).count()
    val dirtyRows = if (m.dirty.isEmpty) 0L
      else foldBuckets(spark, dir, m, m.dirty).count()
    counted.view.filterKeys(clean.contains).values.sum + rest + dirtyRows
  }

  /** Live state: open, non-tombstone versions only. */
  def current(spark: SparkSession, dir: String): DataFrame = {
    val m = loadMeta(spark, dir)
    storedData(spark, dir, m).drop("bucket").filter(col("is_current"))
      .drop("valid_to", "is_current").drop(m.deleteCol)
  }

  /** Time travel: the state as of version `v` — rows whose interval
    * covers `v` (`valid_from <= v < valid_to`, open intervals
    * unbounded), tombstones excluded.
    */
  def asOf(spark: SparkSession, dir: String, v: Any): DataFrame = {
    val m = loadMeta(spark, dir)
    // below the committed retention floor the history is GONE —
    // answering would silently reconstruct a partial state
    m.snap.prop("expired_before").foreach { floor =>
      // onFailedCompare=false: an un-comparable asOf bound REFUSES —
      // admitting it would read below the expired floor
      require(typedLe(floor, v, m.schema(m.versionCol).dataType,
          onFailedCompare = false),
        s"asOf($v) predates the expired-history floor $floor " +
          s"(expireHistoryBefore ran); rows superseded before it were " +
          "retired and the state cannot be reconstructed")
    }
    val (versionCol, deleteCol) = (m.versionCol, m.deleteCol)
    storedData(spark, dir, m).drop("bucket")
      .filter(col(versionCol) <= lit(v) &&
        (col("valid_to").isNull || col("valid_to") > lit(v)) &&
        !Compaction.isDeleted(deleteCol))
      .drop("valid_to", "is_current")
  }

  /** Apply one change batch (state records carrying the same key /
    * version / delete columns and payload schema as `init`'s input).
    */
  def merge(spark: SparkSession, dir: String, changes0: DataFrame,
      mergeOnRead: Boolean = false): MergeStats = {
    requireNoGenerated(changes0.columns.toSeq, "merge batch schema")
    TableTxn.merge(spark, dir, changes0,
      () => Compaction.latestSnap(spark, dir),
      ifEmpty = Some(MergeStats(Nil, 0L))) { (snap, txn, changes, touched) =>
      val m = Compaction.metaOf(snap)
      if (mergeOnRead) morMerge(m, txn, changes, touched)
      else cowMerge(spark, dir, m, txn, changes, touched)
    }
  }

  private def cowMerge(spark: SparkSession, dir: String, m: Meta,
      txn: TableTxn, changes: DataFrame, touched: Seq[Int]): MergeStats = {
    val (keys, versionCol, deleteCol, nBuckets) =
      (m.keys, m.versionCol, m.deleteCol, m.nBuckets)
    val hist = prunedHistory(spark, dir, touched, m)
    val changedKeys = changes.select(m.keyCols: _*).distinct()
    // unchanged keys: rows pass through byte-equivalent; changed keys:
    // stored rows collapse back to state records and re-window together
    // with the batch (exact late-data splicing, see object doc).
    // allowMissingColumns = schema evolution: a batch that adds a
    // column null-extends stored history (manifest widens below); a
    // batch missing a stored column null-fills its own rows.
    val untouchedRows = hist.join(changedKeys, keys, "left_anti")
    val stateCols = hist.columns
      .filterNot(c => c == "valid_to" || c == "is_current").map(col)
    // one exchange for the re-windowed keys (r16): the rewound union
    // is hash-distributed by bucket once, the dedup + lead window ride
    // it group-identically over (bucket, keys, ...), and the staged
    // write keeps the distribution. Untouched rows never shuffle at
    // all any more: they stream scan -> write (their scan tasks are
    // bucket-dir-aligned), where previously the whole union paid a
    // repartition(bucket) exchange. A touched bucket's dir may now
    // hold a second part file (untouched-branch task + rebuilt-branch
    // task); the manifest references directories, so readers, stats
    // and pruning are unaffected.
    val rewound = hist.join(changedKeys, keys, "left_semi")
      .select(stateCols: _*)
      .unionByName(changes, allowMissingColumns = true)
      .repartition(col("bucket"))
    // the retention fence re-applies to the re-windowed keys: a
    // replayed pre-floor batch's rows die here instead of landing as
    // below-floor history on disk
    val rebuilt = dropExpired(
      window(rewound, keys, versionCol, deleteCol, byBucket = true), m)
    val out = untouchedRows.unionByName(rebuilt, allowMissingColumns = true)

    // stage the touched buckets' full new contents; the committed
    // pre-image directories stay live (and readable by this very plan)
    // until a LATER merge's sweep reclaims them — the read-while-
    // rewriting hazard the old in-place dynamic overwrite had is gone
    val staged = txn.stage(out, keys)
    val newBuckets = (m.buckets -- touched) ++
      staged.map(b => b -> txn.bucketRel(b))
    // widen the manifest schema when the batch introduced columns
    val schemaJson = Compaction.widenedSchemaJson(out, m.schema)
    // per-bucket stats (rows + valid_from zone maps, the same footer
    // pass Compaction uses): untouched buckets carry theirs forward so
    // countRows stays exact and history watermark SQL prunes
    // delta props carry for UNTOUCHED buckets only: a copy-on-write
    // merge folds a touched bucket's deltas into its new base (via
    // prunedHistory -> liveView), so the commit drops them and the
    // sweep reclaims the directories
    val carried = Compaction.carriedStats(m.snap.props, touched.toSet)
    val newStats = Compaction.stagedStats(
      spark, txn.staging, staged, versionCol)
    // MergeStats.rows = the staged slice counted from its own footers
    // BEFORE install (metadata, no data pages) — the old post-commit
    // pruned re-read resolved the manifest and schema a second time
    // for the same number
    val rows = newStats.values.map(_.rows).sum
    txn.commit(newBuckets,
      coreProps(keys, versionCol, deleteCol, nBuckets, schemaJson) ++
        floorProp(m.snap) ++ carried ++ Compaction.rowProps(newStats),
      op = "merge", vacuum = true)
    MergeStats(touched, rows)
  }

  /** The merge-on-read write path: stage the batch's STATE RECORDS
    * themselves (tagged `_seq` = committing version) as per-bucket
    * delta files and commit a manifest whose base entries — and prior
    * deltas — carry verbatim. Write amplification is O(|changes|)
    * bytes however scattered the batch: a late trickle of history
    * rows spread across every bucket of a 100 TB audit table writes
    * only itself instead of re-windowing and rewriting each touched
    * bucket (SCD2's dominant write pattern — the reference's
    * delta-export shape, `/root/reference/app/services/exports.py:138-171`,
    * made durable). Readers fold with [[foldBuckets]] (exact
    * late-splice re-window over base + deltas); [[compact]] restores
    * the zero-window read path.
    */
  private def morMerge(m: Meta, txn: TableTxn, changes: DataFrame,
      touched: Seq[Int]): MergeStats = {
    val dataCols = changes.columns.toSeq.filterNot(_ == "bucket")
    val (deltaProps, deltaRows) = txn.appendDeltas(m, changes, dataCols)
    // a batch that ADDS columns widens the manifest schema (base and
    // older delta files null-extend under the explicit read schema);
    // the generated interval columns stay LAST so the state-record
    // columns and window output agree
    val (intervals, states) = m.schema.fields.partition(f =>
      f.name == "valid_to" || f.name == "is_current")
    val newCols = changes.drop("bucket").schema.fields
      .filterNot(f => m.schema.fieldNames.contains(f.name))
    val schemaJson = if (newCols.isEmpty) m.schema.json
      else org.apache.spark.sql.types.StructType(
        (states ++ newCols ++ intervals).map(_.copy(nullable = true))).json
    // the base bucket map is UNCHANGED — that is the whole point
    txn.commit(m.buckets,
      coreProps(m.keys, m.versionCol, m.deleteCol, m.nBuckets,
        schemaJson) ++ floorProp(m.snap) ++ deltaProps,
      op = "merge-mor", vacuum = true)
    MergeStats(touched, deltaRows)
  }

  /** History retention: drop every interval row SUPERSEDED at or
    * before `cut` — closed rows with `valid_to <= cut`, plus dead
    * keys' open tombstones at `version <= cut` (the "forget deleted
    * entities" half) — keeping, per key, the exact suffix of its
    * version chain that covers `cut` onward. The state `current()` and
    * every `asOf(t >= cut)` answer are UNCHANGED (survivors are a
    * per-key chain suffix, so no surviving interval is re-derived);
    * `asOf(t < cut)` now fails loudly on the committed
    * `expired_before` floor instead of answering from partial history.
    * Destructive like [[Compaction.vacuum]].
    *
    * Scale shape: candidate buckets are chosen from the manifest's
    * `minv` zone maps (a doomed row implies a successor — or its own
    * tombstone — at `version <= cut`, so its bucket's min valid_from
    * is `<= cut`), then ONE column-pruned probe narrows candidates to
    * the buckets actually holding a doomed row — only those are
    * rewritten (O(doomed history) writes), each delta chain among them
    * folding in the same pass (expire doubles as their compaction). A bucket whose history expires COMPLETELY
    * leaves the bucket map — the one Scd2 operation that can shrink a
    * bucket. Returns the number of history rows dropped.
    */
  def expireHistoryBefore(spark: SparkSession, dir: String,
      cut: Any, retainHistory: Boolean = false): Long =
    TxLog.withOcc(spark, dir) {
      val m = loadMeta(spark, dir)
      val vType = m.schema(m.versionCol).dataType
      val floorStr = stringifyBound(cut, vType)
      // monotone floor: a cut at or below the committed one is a no-op
      // (re-running retention must not rewrite anything)
      // onFailedCompare=false: an un-comparable committed floor must
      // not silently no-op a HIGHER cut (retention would never run)
      if (m.snap.prop("expired_before")
          .exists(old => typedLe(floorStr, old, vType,
            onFailedCompare = false)))
        return 0L
      val candidates = m.liveIds.filter { b =>
        m.dirty.contains(b) ||
          // onFailedCompare=true: un-comparable stat ADMITS the bucket
          m.snap.prop(s"minv.$b").forall(typedLe(_, cut, vType,
            onFailedCompare = true))
      }
      TxLog.sweep(spark, dir)
      val txn = new TableTxn(spark, dir, m.snap)
      val cutLit = lit(cut).cast(vType)
      val doomed = (col("valid_to").isNotNull &&
        col("valid_to") <= cutLit) ||
        (Compaction.isDeleted(m.deleteCol) &&
          col(m.versionCol) <= cutLit)
      // PROBE pass: `minv <= cut` admits every bucket whose oldest key
      // predates the cut — on a table whose keys were mostly created
      // early and never superseded, that is ALL of them, and rewriting
      // them would make retention O(table). One column-pruned scan
      // (keys/version/tombstone/valid_to — never the payload) finds
      // the buckets that actually HOLD a doomed row; only those
      // rewrite, so the write side stays O(doomed history).
      val affected: Set[Int] =
        if (candidates.isEmpty) Set.empty
        else liveView(spark, dir, m, candidates)
          .filter(doomed).select(col("bucket"))
          .distinct().collect().map(_.getInt(0)).toSet
      if (affected.isEmpty) {
        // nothing to drop — still commit the floor so asOf below it
        // refuses from now on
        txn.commit(m.buckets, TableTxn.tableProps(m.snap) +
          ("expired_before" -> floorStr), op = "expire")
        return 0L
      }
      val folded = liveView(spark, dir, m, affected)
      val before = folded.count()
      // an entirely-expired bucket stages nothing and leaves the map
      val staged = txn.stage(
        folded.filter(!doomed).repartition(col("bucket")), m.keys)
      val carried = Compaction.carriedStats(m.snap.props, affected)
      val newStats = Compaction.stagedStats(
        spark, txn.staging, staged, m.versionCol)
      txn.commit(
        (m.buckets -- affected) ++ staged.map(b => b -> txn.bucketRel(b)),
        coreProps(m.keys, m.versionCol, m.deleteCol, m.nBuckets,
          m.schema.json) ++ carried ++ Compaction.rowProps(newStats) +
          ("expired_before" -> floorStr),
        op = "expire", vacuum = !retainHistory)
      before - newStats.values.map(_.rows).sum
    }

  /** Stringify a retention bound in the version column's type — the
    * round-trippable form [[typedLe]] casts back.
    */
  private def stringifyBound(cut: Any,
      dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.StringType
    val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    String.valueOf(Cast(Cast(Literal(cut), dt, tz), StringType, tz).eval())
  }

  /** Fold every delta chain of length ≥ `minDeltas` back into its
    * bucket's base (one committed rewrite of just those buckets) —
    * restoring the zero-window read path; below-threshold chains stay
    * verbatim. Same incremental contract as [[Compaction.compact]].
    */
  def compact(spark: SparkSession, dir: String, minDeltas: Int = 1,
      retainHistory: Boolean = false): Unit =
    TableTxn.rewrite(spark, dir, "compact", retainHistory) {
      val m = loadMeta(spark, dir)
      val dirty = m.deltas.collect {
        case (b, rels) if rels.size >= minDeltas => b
      }.toSet
      // bucketed fold: the fold itself establishes the bucket
      // distribution the staged write needs — no second exchange (r16)
      Option.when(dirty.nonEmpty)(TableTxn.Rewrite(m.snap,
        m.buckets -- dirty, foldBuckets(spark, dir, m, dirty, bucketed = true),
        (txn, staged) =>
          coreProps(m.keys, m.versionCol, m.deleteCol, m.nBuckets,
            m.schema.json) ++ floorProp(m.snap) ++
          Compaction.carriedStats(m.snap.props, dirty) ++
          Compaction.rowProps(Compaction.stagedStats(
            spark, txn.staging, staged, m.versionCol))))
    }

  /** Per-bucket merge-on-read pressure, manifest-only: (bucket,
    * unfolded delta dirs, delta rows).
    */
  def deltaStats(spark: SparkSession, dir: String): Seq[(Int, Int, Long)] =
    Compaction.deltaStats(spark, dir)
}
