package graft.cdc

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed keyed MERGE: maintains a compacted latest-state table
  * across change batches — the cluster-scale analog of the reference's
  * row-level upsert paths (`ON CONFLICT` inserts,
  * `/root/reference/app/seed_users.py:39-43`, and the read-modify-write
  * watermark upsert, `/root/reference/app/services/watermark.py:11-27`).
  * Where [[WatermarkStore]] rewrites its bytes-sized state wholesale,
  * this operator maintains a DATA-PLANE table (the 100 TB users/
  * documents corpus itself) and must therefore never rewrite more than
  * it touches.
  *
  * Layout (see [[TxLog]] for the commit protocol): immutable parquet
  * bucket directories under `<dir>/data/g<V>/bucket=B` — the table is
  * hash-bucketed on the merge key (`pmod(xxhash64(key), nBuckets)`) —
  * and a versioned manifest under `<dir>/manifest` naming, for every
  * live bucket, the generation directory currently holding it, plus
  * all table metadata (key/version/delete columns, bucket count,
  * schema, feed counter). Readers resolve the latest manifest; writers
  * stage data invisibly and publish with ONE manifest rename, so a
  * crash at any point leaves either the old committed state or the new
  * one — never a torn mix (the atomic data+meta commit the previous
  * delete-then-rename install lacked).
  *
  * A merge batch:
  *  1. buckets the changelog with the stored hash;
  *  2. collects the DISTINCT touched bucket ids (bounded by nBuckets —
  *     a driver-sized list by construction, never O(rows));
  *  3. reads ONLY the touched buckets' directories (path-pruned scan:
  *     the manifest maps bucket id → directory, no listing of the
  *     untouched ones);
  *  4. reconciles latest-state per key — max version wins, changelog
  *     beats snapshot at equal version (the upsert), winners flagged
  *     deleted are dropped (the DELETE);
  *  5. writes the touched buckets' new contents into generation
  *     `g<V+1>` and commits manifest v<V+1> in which untouched buckets
  *     keep their old directories verbatim (their files are never
  *     opened, moved, or rewritten) and fully-deleted buckets simply
  *     leave the map.
  *
  * Cost per batch is O(|changes| + |snapshot rows sharing a bucket
  * with a change|): at 100 TB with 4096 buckets, a batch touching 1%
  * of keys reads/writes ~1% of partitions, and an untouched partition
  * is never opened (asserted byte-for-byte in CompactionSpec). On a
  * real cluster the same semantics would ride an ACID table format's
  * MERGE; this is the plain-parquet expression of that design — and
  * the manifest IS the (minimal) transaction log such formats use.
  */
object Compaction {

  /** Outcome of one merge batch, for observability and specs. */
  final case class MergeStats(
      touchedBuckets: Seq[Int],
      emptiedBuckets: Seq[Int],
      rowsWritten: Long,
      feedRows: Long = 0L)

  private def bucketOf(keys: Seq[org.apache.spark.sql.Column], nBuckets: Int) =
    Bucketing.bucketOf(keys, nBuckets)

  /** Null-tombstone convention, engine-wide: a NULL delete flag means
    * LIVE — a delta row without an explicit tombstone is an upsert.
    * Every fold (foldBuckets, the merge's winners and feed in
    * mergeTail/stageFeed, replaceBuckets, init, Scd2's window,
    * dropExpired and asOf) and the catalog reader's in-reader fold
    * (GraftFold.foldMerge / foldScd2, which also serves every point
    * lookup) apply this same rule, so a dirty-bucket read and the
    * post-compaction read of the same table always agree. A bare
    * `!col(deleteCol)` would silently DROP null-flag rows under
    * three-valued logic — never write that; use `!isDeleted(...)`.
    */
  private[graft] def isDeleted(deleteCol: String): org.apache.spark.sql.Column =
    coalesce(col(deleteCol), lit(false))

  /** Step timing for the merge/feed protocol path, printed only when
    * GRAFT_PROF=1 — zero overhead otherwise (one boolean check).
    */
  private val profEnabled = sys.env.get("GRAFT_PROF").contains("1")
  private[cdc] def prof[A](label: String)(f: => A): A =
    if (!profEnabled) f
    else {
      // label the step's Spark jobs too (guide §1.5) so TimeQ's
      // per-job accounting attributes AQE stage jobs to engine steps
      val sc = org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sparkContext)
      sc.foreach(_.setJobDescription(s"graft:$label"))
      val t0 = System.nanoTime()
      val r = try f finally sc.foreach(_.setJobDescription(null))
      println(f"GRAFTPROF $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

  /** Column names the operator generates internally; user data
    * carrying one would be silently replaced or dropped, so init
    * rejects them up front.
    */
  private[cdc] val ReservedCols =
    Set("bucket", "batch", "_src", "_rn", "_change_type", "_had_stored",
      "_pre", "_f", "_seq", "_order", "_ord_rn", "_tp")

  // ---- time partitions (r9 item 3) ----------------------------------
  //
  // A maintained table may declare an Iceberg-style TIME PARTITION
  // SPEC — `PARTITIONED BY (days(ts))` at CREATE, or
  // `init(..., timePartition = Some("days" -> "ts"))` — composing with
  // bucket hashing: every staged write lands as
  // `bucket=<b>/_tp=<n>` (the `_tp` value is the transform of the
  // source column: days/months/hours since epoch, UTC), so
  //
  //  - a time-range scan opens only the matching partitions' files
  //    INSIDE the buckets that survive key/zone-map pruning (the two
  //    prune levels compose — [[readTimeRange]], and the catalog scan
  //    derives the day range from pushed filters);
  //  - retention drops whole partitions as METADATA
  //    ([[dropPartitionsBefore]] / maintain's `maxPartitionAge`): one
  //    commit subtracts the retired partitions' footer row counts and
  //    fences reads at `tp_min`, the dirs delete after it.
  //
  // `_tp` is derived at write and never part of the table schema; the
  // dir name carries it (Spark's partition discovery re-surfaces it at
  // read, where [[readRelsAs]] filters and drops it).

  /** The `_tp` value of a row — the Iceberg transform of the partition
    * source column. Decimal floor-division so pre-1970 values land in
    * the right partition (long `/` truncates toward zero).
    */
  private[graft] def tpColumn(unit: String,
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def floorDiv(micros: org.apache.spark.sql.Column, d: Long) =
      floor(micros.cast("decimal(30,0)") / lit(d)).cast("int")
    unit match {
      case "days" => floorDiv(unix_micros(c.cast("timestamp")),
        86400000000L)
      case "hours" => floorDiv(unix_micros(c.cast("timestamp")),
        3600000000L)
      case "months" =>
        ((year(c.cast("timestamp")) - lit(1970)) * lit(12) +
          month(c.cast("timestamp")) - lit(1)).cast("int")
      case "years" =>
        (year(c.cast("timestamp")) - lit(1970)).cast("int")
      case u => throw new IllegalArgumentException(
        s"unsupported time-partition transform '$u' " +
          "(years/months/days/hours)")
    }
  }

  /** Driver-side twin of [[tpColumn]] for literal bounds. For
    * timestamp values and days/hours the arithmetic is instant-based
    * and timezone-free on both sides; where a CALENDAR enters (months'
    * year/month fields, DATE-at-midnight and string parsing) both
    * sides use the SESSION time zone — the same writer/reader
    * session-TZ contract the version zone maps carry (GraftSession
    * pins UTC), so a bound and the written dirs always agree.
    */
  private[graft] def tpValueOf(unit: String, v: Any): Int =
    tpOfInstant(unit, tpInstantOf(v))

  /** Partition id for a STRICT upper bound (`col < v`): when `v` lies
    * exactly on a partition boundary, the boundary partition holds no
    * qualifying row and is excluded — `ts < midnight(d)` keeps day
    * d-1's partition, not day d's (the shape [[graft.plans
    * .TimePredicateRewrite]] emits for every day-cast predicate).
    * Anywhere else the boundary partition is kept, same as `<=`.
    */
  private[graft] def tpStrictUpper(unit: String, v: Any): Int = {
    val i = tpInstantOf(v)
    val d = tpOfInstant(unit, i)
    val vMicros = Math.multiplyExact(i.getEpochSecond, 1000000L) +
      i.getNano / 1000L
    if (d != Int.MinValue &&
        vMicros == graft.catalog.MetaTables.tpStartMicros(unit, d))
      d - 1
    else d
  }

  private def tpInstantOf(v: Any): java.time.Instant = {
    val zone = java.time.ZoneId.of(
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    val instant = v match {
      case t: java.sql.Timestamp => t.toInstant
      case d: java.sql.Date =>
        d.toLocalDate.atStartOfDay(zone).toInstant
      case i: java.time.Instant => i
      case d: java.time.LocalDate => d.atStartOfDay(zone).toInstant
      // TIMESTAMP_NTZ bounds (and NTZ-column literals converted by
      // CatalystTypeConverters) arrive as LocalDateTime: a wall clock,
      // read in the session zone — exactly how the write side's
      // ntz→timestamp cast places the same values into `_tp=` dirs
      case ldt: java.time.LocalDateTime => ldt.atZone(zone).toInstant
      case s: String =>
        // lenient like the JDBC escape form: full ISO, date-only (=
        // midnight), or Timestamp.valueOf's single-digit fields — all
        // read as a WALL CLOCK in the session zone
        scala.util.Try(java.time.LocalDateTime.parse(s.replace(' ', 'T')))
          .orElse(scala.util.Try(
            java.time.LocalDate.parse(s).atStartOfDay()))
          .getOrElse(java.sql.Timestamp.valueOf(s).toLocalDateTime)
          .atZone(zone).toInstant
      case other => throw new IllegalArgumentException(
        s"time-partition bound must be a timestamp/date, got $other")
    }
    instant
  }

  private def tpOfInstant(unit: String,
      instant: java.time.Instant): Int = {
    val zone = java.time.ZoneId.of(
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    unit match {
      case "days" => math.floorDiv(instant.getEpochSecond, 86400L).toInt
      case "hours" => math.floorDiv(instant.getEpochSecond, 3600L).toInt
      case "months" =>
        val d = java.time.LocalDate.ofInstant(instant, zone)
        (d.getYear - 1970) * 12 + d.getMonthValue - 1
      case "years" =>
        java.time.LocalDate.ofInstant(instant, zone).getYear - 1970
      case u => throw new IllegalArgumentException(
        s"unsupported time-partition transform '$u'")
    }
  }

  // ---- shared time-partition plumbing --------------------------------

  /** THE one `_tp=` directory-descent implementation (r10 review: five
    * near-identical copies across Compaction/GraftBatch/FeedBatchSource
    * were how the next layout change would ship a fifth behavior). For
    * each root: plain entries pass through verbatim; an admitted
    * `_tp=<n>` child is replaced by ITS children; a skipped one
    * contributes nothing — so the result is each root's LEAF statuses
    * under the (bucket[, _tp]) layout. `pooled = false` keeps every
    * listing on the caller's thread — required when the caller already
    * runs ON [[listingPool]] (the catalog scan's per-bucket futures),
    * where a nested pooled Await could starve the pool.
    */
  private[graft] def listTpLeaves(fs: org.apache.hadoop.fs.FileSystem,
      roots: Seq[Path], admit: Int => Boolean = _ => true,
      pooled: Boolean = true)
      : Seq[(Path, Seq[org.apache.hadoop.fs.FileStatus])] = {
    // FileNotFound-tolerant in BOTH branches: a dir referenced by the
    // manifest snapshot we just read can vanish under a concurrent
    // commit + vacuum; a missing dir lists as empty (the conservative
    // read) instead of failing the whole metadata pass
    def one(p: Path) = p -> (
      try fs.listStatus(p).toSeq
      catch { case _: java.io.FileNotFoundException =>
        Seq.empty[org.apache.hadoop.fs.FileStatus] })
    def ls(ps: Seq[Path]): Seq[(Path, Seq[org.apache.hadoop.fs.FileStatus])] =
      if (!pooled || ps.lengthCompare(4) <= 0) ps.map(one)
      else {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(listingPool)
        scala.concurrent.Await.result(
          scala.concurrent.Future.traverse(ps)(p =>
            scala.concurrent.Future(one(p))),
          scala.concurrent.duration.Duration.Inf)
      }
    val top = ls(roots)
    // admitted _tp dirs across every root, listed in one pooled round
    val tpDirs: Seq[(Int, Path)] = top.zipWithIndex.flatMap {
      case ((_, sts), i) => sts.collect {
        case st if st.isDirectory && st.getPath.getName.startsWith("_tp=")
            && admit(tpDirValue(st.getPath.getName)) =>
          i -> st.getPath
      }
    }
    val children: Map[Path, Seq[org.apache.hadoop.fs.FileStatus]] =
      ls(tpDirs.map(_._2)).toMap
    top.zipWithIndex.map { case ((root, sts), i) =>
      val leaves = sts.flatMap { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith("_tp="))
          if (admit(tpDirValue(n))) children.getOrElse(st.getPath, Nil)
          else Nil
        else Seq(st)
      }
      root -> leaves
    }
  }

  /** The non-descending sibling of [[listTpLeaves]]: per root, the
    * ADMITTED `_tp=` child directory statuses themselves (the parquet
    * read roots / retirement units). One pooled listing per root.
    */
  private[graft] def listTpDirs(fs: org.apache.hadoop.fs.FileSystem,
      roots: Seq[Path], admit: Int => Boolean = _ => true)
      : Seq[(Path, Seq[org.apache.hadoop.fs.FileStatus])] =
    listDirs(fs, roots).map { case (root, sts) =>
      root -> sts.toSeq.filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("_tp=") &&
        admit(tpDirValue(st.getPath.getName)))
    }

  /** Interval algebra for time-partition pruning bounds: a predicate
    * over the partition source column compiles to a UNION of closed
    * `_tp` intervals — `ts > b` → `[tp(b), +∞)` (partition granularity
    * is coarser than values, so the boundary partition is kept),
    * `IN (a, b)` → `{[tp(a)], [tp(b)]}`, AND intersects, OR unions —
    * and "cannot constrain" is simply the all-covering interval, which
    * both operations propagate conservatively. Capped at 64 intervals
    * (a wider IN-list degrades to no pruning, never to wrong pruning).
    */
  private[graft] val TpAll: Seq[(Int, Int)] =
    Seq((Int.MinValue, Int.MaxValue))

  private[graft] def tpIntersect(a: Seq[(Int, Int)],
      b: Seq[(Int, Int)]): Seq[(Int, Int)] = {
    val out = for {
      (al, ah) <- a; (bl, bh) <- b
      lo = math.max(al, bl); hi = math.min(ah, bh)
      if lo <= hi
    } yield (lo, hi)
    if (out.size > 64) TpAll else out
  }

  private[graft] def tpUnion(a: Seq[(Int, Int)],
      b: Seq[(Int, Int)]): Seq[(Int, Int)] = {
    val out = a ++ b
    if (out.size > 64) TpAll else out
  }

  private[graft] def tpAdmits(ivs: Seq[(Int, Int)], n: Int): Boolean =
    ivs.exists { case (lo, hi) => n >= lo && n <= hi }

  /** `_tp` interval bounds implied by pushed DSv2 source filters for
    * the partition source column `c` under `unit`: AND intersects, OR
    * unions, IN is a union of points; anything the walk cannot type
    * lands on the all-covering interval (conservative both ways).
    * Shared by the catalog data scan and the `t.changes` metadata
    * table — one walk, one behavior.
    */
  private[graft] def tpIvsFromFilters(
      pushed: Seq[org.apache.spark.sql.sources.Filter],
      unit: String, c: String): Seq[(Int, Int)] = {
    import org.apache.spark.sql.sources._
    val All = TpAll
    def tpOf(v: Any): Option[Int] =
      scala.util.Try(tpValueOf(unit, v)).toOption
    def point(v: Any): Seq[(Int, Int)] =
      tpOf(v).map(d => Seq((d, d))).getOrElse(All)
    def walk(f: Filter): Seq[(Int, Int)] = f match {
      case And(l, r) => tpIntersect(walk(l), walk(r))
      case Or(l, r) => tpUnion(walk(l), walk(r))
      case GreaterThan(a, v) if a.equalsIgnoreCase(c) =>
        tpOf(v).map(d => Seq((d, Int.MaxValue))).getOrElse(All)
      case GreaterThanOrEqual(a, v) if a.equalsIgnoreCase(c) =>
        tpOf(v).map(d => Seq((d, Int.MaxValue))).getOrElse(All)
      case LessThan(a, v) if a.equalsIgnoreCase(c) =>
        // strict <: a bound exactly ON a partition boundary excludes
        // the boundary partition (tpStrictUpper)
        scala.util.Try(tpStrictUpper(unit, v)).toOption
          .map(d => Seq((Int.MinValue, d))).getOrElse(All)
      case LessThanOrEqual(a, v) if a.equalsIgnoreCase(c) =>
        tpOf(v).map(d => Seq((Int.MinValue, d))).getOrElse(All)
      case EqualTo(a, v) if a.equalsIgnoreCase(c) => point(v)
      case EqualNullSafe(a, v)
          if a.equalsIgnoreCase(c) && v != null => point(v)
      case In(a, vs) if a.equalsIgnoreCase(c) =>
        // a NULL comparand matches no row — skipping it is sound
        vs.toSeq.filter(_ != null).map(point)
          .foldLeft(Seq.empty[(Int, Int)])(tpUnion)
      case _ => All
    }
    pushed.map(walk).foldLeft(TpAll)(tpIntersect)
  }

  /** Parse a `_tp=<n>` directory name. NULL partition-source values
    * are refused at write time ([[TableTxn.stage]]), so a non-numeric value —
    * Hive's `__HIVE_DEFAULT_PARTITION__` from an external writer —
    * is a layout violation reported loudly instead of a
    * NumberFormatException deep in a scan.
    */
  private[graft] def tpDirValue(dirName: String): Int =
    try dirName.drop(4).toInt
    catch {
      case _: NumberFormatException => throw new IllegalStateException(
        s"unexpected time-partition directory '$dirName': the engine " +
          "refuses null partition-source values at write, so this " +
          "layout was written externally — repair or remove the dir")
    }

  /** The guarded `_tp` derivation every partitioned write shares: the
    * DERIVED value is checked, not just the source — a non-null source
    * that fails the timestamp conversion (non-ANSI string cast) would
    * otherwise still land as Hive's default partition, which no reader
    * of this layout can place.
    */
  private[cdc] def tpColumnChecked(u: String,
      c: String): org.apache.spark.sql.Column = {
    val v = tpColumn(u, col(c))
    when(v.isNull, raise_error(lit(
      s"time-partition source column '$c' must not be null (or " +
        "fail to convert to a timestamp)")).cast("int"))
      .otherwise(v)
  }

  /** Read-side partition admission: the retention floor
    * ([[dropPartitionsBefore]] records `tp_min` BEFORE deleting dirs —
    * a crash in between leaves extra dirs that this predicate keeps
    * invisible) plus an optional queried range. `Some` for every
    * time-partitioned table (reads must descend the `_tp=` level),
    * `None` for flat tables.
    */
  private def tpKeepFn(m: Meta,
      range: Option[(Int, Int)] = None): Option[Int => Boolean] =
    m.tp.map { _ => (d: Int) =>
      m.tpMin.forall(d >= _) &&
        range.forall { case (lo, hi) => d >= lo && d <= hi }
    }

  private[cdc] def requireNoReserved(cols: Seq[String], what: String): Unit = {
    val clash = cols.map(_.toLowerCase).toSet.intersect(ReservedCols)
    require(clash.isEmpty,
      s"$what collides with reserved internal columns: ${clash.mkString(", ")}")
  }

  /** Create (or replace) the compacted table from an initial snapshot.
    * `df` must carry `key` and `versionCol`; `deleteCol` is a boolean
    * tombstone column (rows arriving with it true delete the key).
    * A re-init is a full table replace: previous manifests, data,
    * feed batches and counters all restart.
    */
  def init(df: DataFrame, dir: String, key: String,
      versionCol: String, deleteCol: String,
      nBuckets: Int = 256): Unit =
    init(df, dir, Seq(key), versionCol, deleteCol, nBuckets, Nil)

  /** Composite-key form: the table is bucketed on the hash of the key
    * TUPLE (e.g. `(tenant_id, id)`) and every merge / lookup / window
    * reconciles per tuple. The one-column overload is the one-element
    * case of the same code path.
    */
  def init(df: DataFrame, dir: String, keys: Seq[String],
      versionCol: String, deleteCol: String,
      nBuckets: Int): Unit =
    init(df, dir, keys, versionCol, deleteCol, nBuckets, Nil)

  /** Clustered form: every bucket write (init, merges, compaction,
    * rebucket) additionally sorts rows INSIDE the bucket by
    * `clusterBy` — one column = plain sort, two = Z-order (Morton
    * interleave, [[graft.sources.ZOrder]]) — so parquet row-group
    * min/max stats prune non-key range predicates WITHIN the buckets
    * that survive bucket/zone-map pruning. Hash bucketing answers
    * "which directory can hold this key"; clustering answers "which
    * row groups inside it can hold this range" — the two prune
    * levels compose. Clustering is layout only: no read-path change,
    * no semantics change, and the property persists across merges
    * because every staged rewrite re-applies the sort.
    */
  def init(df: DataFrame, dir: String, keys: Seq[String],
      versionCol: String, deleteCol: String,
      nBuckets: Int, clusterBy: Seq[String]): Unit =
    init(df, dir, keys, versionCol, deleteCol, nBuckets, clusterBy,
      feed = false)

  /** Feed variant: `feed = true` opts the table into the change data
    * feed from birth — every subsequent merge emits (see
    * [[feedEnabled]]).
    */
  def init(df: DataFrame, dir: String, keys: Seq[String],
      versionCol: String, deleteCol: String,
      nBuckets: Int, clusterBy: Seq[String],
      feed: Boolean): Unit =
    init(df, dir, keys, versionCol, deleteCol, nBuckets, clusterBy,
      feed, timePartition = None)

  /** Time-partitioned form: `timePartition = Some("days" -> "ts")`
    * composes an Iceberg-style partition level with the bucket hash —
    * see the time-partitions note above [[tpColumn]].
    */
  def init(df: DataFrame, dir: String, keys: Seq[String],
      versionCol: String, deleteCol: String,
      nBuckets: Int, clusterBy: Seq[String],
      feed: Boolean, timePartition: Option[(String, String)]): Unit =
    init(df, dir, keys, versionCol, deleteCol, nBuckets, clusterBy,
      feed, timePartition, ndvP = None)

  /** Full form with the declared NDV sketch precision (`ndvP`,
    * 4–12; see [[ndvPOf]]) — the `ndv_p` table property's
    * programmatic twin.
    */
  def init(df: DataFrame, dir: String, keys: Seq[String],
      versionCol: String, deleteCol: String,
      nBuckets: Int, clusterBy: Seq[String],
      feed: Boolean, timePartition: Option[(String, String)],
      ndvP: Option[Int]): Unit = {
    val spark = df.sparkSession
    // validate BEFORE the create wipes the old table: a snapshot that
    // cannot become this table must leave the existing one intact
    validateCreate(df.schema, keys, versionCol, deleteCol, nBuckets,
      clusterBy, timePartition, ndvP)
    val txn = TableTxn.create(spark, dir)
    val staged = txn.stage(
      df.filter(!isDeleted(deleteCol))
        .withColumn("bucket", bucketOf(keys.map(col), nBuckets))
        // hash-partition on bucket + in-partition (bucket, key) sort:
        // one writer task per bucket, deterministic file content, and
        // no per-write range-sampling job (measured on the merge-family
        // bench queries — three writes each paid a sampling pass)
        .repartition(col("bucket")),
      keys, clusterBy, timePartition)
    txn.commit(
      newBuckets = staged.map(b => b -> txn.bucketRel(b)).toMap,
      props = createProps(keys, versionCol, deleteCol, nBuckets,
        df.schema.json, clusterBy, feed, timePartition, ndvP) ++
        rowProps(stagedStats(spark, txn.staging, staged, versionCol,
          clusterBy, ndvP.getOrElse(HllP))),
      op = "init")
  }

  /** Create an EMPTY maintained table: commit a v0 manifest carrying
    * the full table metadata (schema, keys, engine columns, bucket
    * count, clustering) and zero buckets. The first merge populates
    * it — this is the `CREATE TABLE` (no AS SELECT) path of the SQL
    * catalog ([[graft.catalog.GraftCatalog]]); reads of the empty
    * table return an empty frame under the declared schema.
    */
  def initEmpty(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType, keys: Seq[String],
      versionCol: String, deleteCol: String,
      nBuckets: Int = 256, clusterBy: Seq[String] = Nil,
      feed: Boolean = false,
      timePartition: Option[(String, String)] = None,
      ndvP: Option[Int] = None): Unit = {
    validateCreate(schema, keys, versionCol, deleteCol, nBuckets,
      clusterBy, timePartition, ndvP)
    TableTxn.create(spark, dir).commit(newBuckets = Map.empty,
      props = createProps(keys, versionCol, deleteCol, nBuckets,
        schema.json, clusterBy, feed, timePartition, ndvP),
      op = "create")
  }

  /** The table parameters a create ([[init]], [[initEmpty]]) accepts:
    * every named column (keys, version, tombstone, cluster,
    * time-partition source) exists in `schema`, no column is reserved,
    * and the bucket count, sketch precision, clustering arity and
    * time-partition unit are valid.
    */
  private def validateCreate(schema: org.apache.spark.sql.types.StructType,
      keys: Seq[String], versionCol: String, deleteCol: String,
      nBuckets: Int, clusterBy: Seq[String],
      timePartition: Option[(String, String)], ndvP: Option[Int]): Unit = {
    val cols = schema.fieldNames.toSeq
    require(nBuckets > 0, "nBuckets must be positive")
    ndvP.foreach(v => require(v >= 4 && v <= 12,
      s"ndv_p must be in [4, 12], got $v"))
    requireNoReserved(cols, "table schema")
    Bucketing.encodeKeys(keys)
    (keys :+ versionCol :+ deleteCol).foreach(c =>
      require(cols.contains(c), s"column '$c' missing from the table schema"))
    timePartition.foreach { case (u, c) =>
      tpValueOf(u, new java.sql.Timestamp(0L)) // validates the unit
      require(cols.exists(_.equalsIgnoreCase(c)),
        s"time-partition column '$c' missing from the table schema")
    }
    require(clusterBy.size <= 2,
      "clusterBy supports one (sort) or two (Z-order) columns")
    clusterBy.foreach(c => require(cols.contains(c),
      s"cluster column '$c' missing from the table schema"))
  }

  /** The version-0 table props of a create. */
  private def createProps(keys: Seq[String], versionCol: String,
      deleteCol: String, nBuckets: Int, schemaJson: String,
      clusterBy: Seq[String], feed: Boolean,
      timePartition: Option[(String, String)],
      ndvP: Option[Int]): Map[String, String] =
    coreProps(keys, versionCol, deleteCol, nBuckets, schemaJson, clusterBy) ++
      (if (feed) Map("feed" -> "true") else Map.empty) ++
      timePartition.map { case (u, c) =>
        Map("tp_unit" -> u, "tp_col" -> c) }.getOrElse(Map.empty) ++
      ndvP.map(v => Map("ndv_p" -> v.toString)).getOrElse(Map.empty)

  /** Per-bucket stats of the staged generation — row count and the
    * version column's max (the ZONE MAP incremental scans prune on) —
    * read back from the staged files' FOOTERS (count and min/max on a
    * parquet partition are metadata; with aggregate pushdown no data
    * page opens), so stats never add a pass over the data. The max is
    * stored stringified (cast AFTER the aggregate so the pushdown
    * stays eligible) and cast back to the column's type at prune time.
    * TIMESTAMP version columns render and re-parse through the SESSION
    * time zone: writers and readers must agree on it (GraftSession
    * pins UTC) or a zone-map prune could skew by the offset — the same
    * session-TZ contract Spark's own timestamp/string casts carry.
    */
  private[cdc] final case class BucketStats(rows: Long,
      minVersion: String, maxVersion: String,
      // per-column [min, max] bounds for the table's clusterBy
      // columns (r12) — stringified like the version stats, string
      // columns truncated to prune-valid bounds; an all-null column
      // in a bucket has no entry
      colBounds: Map[String, (String, String)] = Map.empty,
      // per-(`_tp` leaf, column) cluster bounds (r13): the finer zone
      // maps a clustered+time-partitioned table prunes LEAVES with —
      // recorded alongside (never instead of) the bucket-level fold,
      // so every bucket-granular consumer is untouched and a capped
      // manifest degrades to bucket-granular, never wrong
      leafColBounds: Map[Int, Map[String, (String, String)]] = Map.empty,
      // per-column HLL registers over this bucket's rows (r13):
      // 2^HllP base36 pairs, register-wise max across buckets = the
      // global sketch — columnStats folds them to a CBO-visible NDV
      // for exactly the columns clusterBy was declared for
      colNdv: Map[String, String] = Map.empty,
      // per-column NULL counts for the clusterBy columns (r13):
      // CBO's count-stats gate needs (distinctCount, nullCount)
      // together — NDV alone never reaches AggregateEstimation
      colNulls: Map[String, Long] = Map.empty,
      // per-(`_tp` leaf) VERSION bounds (r14): the finer zone maps a
      // version-range scan prunes LEAVES with on time-partitioned
      // tables whose version does not correlate with time — recorded
      // alongside (never instead of) the bucket-level minv/maxv fold,
      // under the same budget-degrades-to-the-fold contract as the
      // cluster leaf family
      leafVersionBounds: Map[Int, (String, String)] = Map.empty)

  private[cdc] def stagedStats(spark: SparkSession, staging: String,
      staged: Seq[Int], versionCol: String,
      statCols: Seq[String] = Nil,
      ndvP: Int = HllP): Map[Int, BucketStats] =
    // an all-buckets-emptied merge staged no partitions (the dir holds
    // only _SUCCESS — nothing to read a schema from)
    if (staged.isEmpty) Map.empty
    else {
      lazy val df = spark.read.parquet(s"$staging/data")
      val base = driverFooterStats(spark,
        staged.map(b => b -> new Path(s"$staging/data/bucket=$b")),
        versionCol, statCols).getOrElse(
        sparkStatsOf(spark, df, versionCol, statCols))
      addClusterNdv(spark, df, base, statCols, ndvP)
    }

  /** The Spark-aggregate stats pass over a DataFrame carrying the data
    * columns plus an integer `bucket` column (and an integer `_tp`
    * column on time-partitioned layouts) — shared by the staging read
    * and the committed-dirs read (r15 stats backfill).
    */
  private def sparkStatsOf(spark: SparkSession, df: DataFrame,
      versionCol: String,
      statCols: Seq[String]): Map[Int, BucketStats] = {
      // STRING version columns record Iceberg-style TRUNCATED bounds
      // (≤-min prefix, >-max incremented prefix): the zone-map prune
      // stays exact-conservative and the manifest never stores an
      // unbounded value. The MIN/MAX aggregate pushdown declines
      // string version columns for the same reason (bounds, not
      // answers) — see GraftScanBuilder.statsFromManifest. The same
      // truncation applies to string CLUSTER columns (r12).
      def isStr(c: String) = df.schema.fields
        .find(_.name.equalsIgnoreCase(c))
        .exists(_.dataType == org.apache.spark.sql.types.StringType)
      def lo(c: String)(s: String): String =
        if (s == null || !isStr(c)) s
        else graft.sources.MetadataScan.truncateLower(s)
      def hi(c: String)(s: String): String =
        if (s == null || !isStr(c)) s
        else graft.sources.MetadataScan.truncateUpper(s)
      // columns present in the staged schema only: a pre-evolution
      // generation may not carry a later-added cluster column
      val present = statCols.filter(c =>
        df.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
      val extraAggs = present.zipWithIndex.flatMap { case (c, i) =>
        Seq(min(col(c)).cast("string").as(s"__cmn_$i"),
          max(col(c)).cast("string").as(s"__cmx_$i"),
          count(col(c)).as(s"__cnn_$i"))
      }
      val aggs = Seq(count(lit(1)).as("n"),
        min(col(versionCol)).cast("string").as("mn"),
        max(col(versionCol)).cast("string").as("mx")) ++ extraAggs
      // per-(`_tp` leaf) cluster bounds (r13) ride a SECOND grouping
      // over the same staged files when the layout nests one — rare
      // path (the footer fast path covers integer stats), so the
      // extra pass only costs on non-integer clustered+partitioned
      // tables
      val hasTp = df.schema.fieldNames.contains("_tp")
      // the leaf pass aggregates VERSION bounds (r14) alongside the
      // cluster bounds (r13) in the same grouped job
      // pre-evolution flat files inside a tp table carry a null `_tp`
      // (no leaf dir to key off) — they contribute to the bucket fold
      // only, never to a leaf entry
      val leafRows: Array[org.apache.spark.sql.Row] =
        if (!hasTp) Array.empty
        else df.filter(col("_tp").isNotNull)
          .groupBy(col("bucket"), col("_tp"))
          .agg(aggs.tail.head, aggs.tail.tail: _*) // mn, mx, extraAggs
          .collect()
      val leafBounds: Map[Int, Map[Int, Map[String, (String, String)]]] =
        if (present.isEmpty) Map.empty
        else leafRows
          .flatMap { r =>
            val bounds = present.zipWithIndex.flatMap { case (c, i) =>
              val mn = r.getAs[String](s"__cmn_$i")
              val mx = r.getAs[String](s"__cmx_$i")
              if (mn == null || mx == null) None
              else Some(c -> ((lo(c)(mn), hi(c)(mx))))
            }.toMap
            if (bounds.isEmpty) None
            else Some((r.getInt(0), r.getInt(1), bounds))
          }
          .groupBy(_._1)
          .map { case (b, xs) =>
            b -> xs.map { case (_, tp, bs) => tp -> bs }.toMap
          }
      val leafVersion: Map[Int, Map[Int, (String, String)]] = leafRows
        .flatMap { r =>
          val mn = r.getAs[String]("mn")
          val mx = r.getAs[String]("mx")
          if (mn == null || mx == null) None
          else Some((r.getInt(0), r.getInt(1),
            (lo(versionCol)(mn), hi(versionCol)(mx))))
        }
        .groupBy(_._1)
        .map { case (b, xs) =>
          b -> xs.map { case (_, tp, bs) => tp -> bs }.toMap
        }
      df.groupBy(col("bucket"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { r =>
          val bounds = present.zipWithIndex.flatMap { case (c, i) =>
            val mn = r.getAs[String](s"__cmn_$i")
            val mx = r.getAs[String](s"__cmx_$i")
            if (mn == null || mx == null) None
            else Some(c -> ((lo(c)(mn), hi(c)(mx))))
          }.toMap
          val nulls = present.zipWithIndex.map { case (c, i) =>
            c -> (r.getLong(1) - r.getAs[Long](s"__cnn_$i"))
          }.toMap
          r.getInt(0) -> BucketStats(r.getLong(1),
            lo(versionCol)(r.getAs[String]("mn")),
            hi(versionCol)(r.getAs[String]("mx")), bounds,
            leafBounds.getOrElse(r.getInt(0), Map.empty),
            colNulls = nulls,
            leafVersionBounds =
              leafVersion.getOrElse(r.getInt(0), Map.empty))
        }
        .toMap
    }

  /** HLL precision for the per-bucket cluster-column NDV sketches:
    * 2^6 = 64 registers (~13% standard error) — join-strategy grade,
    * 128 base36 chars per (bucket, column) manifest entry.
    */
  private[cdc] val HllP = 6

  /** The table's declared sketch precision (`ndv_p` table property,
    * 4–12; default [[HllP]]): 2^p registers, ~1.04/sqrt(2^p) standard
    * error, 2^p × 2 base36 chars of manifest per (bucket, column) —
    * p=10 costs 2 KB/(bucket,col) for ~3.2% stderr. Register-wise
    * merging requires every bucket's registers to share one width;
    * changing precision is a stats-only committed re-sketch over the
    * live files ([[refreshStats]] — ALTER `ndv_p` routes there, r15),
    * never a data rewrite.
    */
  private[cdc] def ndvPOf(snap: TxLog.Snapshot): Int =
    snap.prop("ndv_p").map(_.toInt).getOrElse(HllP)

  /** Per-bucket HLL registers for each cluster column, appended to the
    * staged stats (r13): ONE map-side-combined aggregation per column
    * over the just-written staged files (page-warm), register state =
    * 2^HllP longs per bucket regardless of row count. Registers — not
    * estimates — are stored, so merging untouched buckets' carried
    * sketches with the staged ones is a register-wise max and the
    * global NDV stays exact-mergeable across every commit. Encoding:
    * fixed 2-char base36 per register ([[encodeRegisters]]).
    */
  private def addClusterNdv(spark: SparkSession, srcDf: => DataFrame,
      base: Map[Int, BucketStats],
      statCols: Seq[String], ndvP: Int = HllP): Map[Int, BucketStats] = {
    if (statCols.isEmpty || base.isEmpty) return base
    val df = srcDf
    val present = statCols.filter(c =>
      df.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
    if (present.isEmpty) return base
    // ONE job for every cluster column: per column, project (bucket,
    // column tag, md5-60bit hash) and union — the register derivation
    // and the map-side-combined groupBy then run once over the union
    // instead of one job per column (review r13)
    val m = 1 << ndvP
    val bits = 60 - ndvP
    val hashed = present.map(c =>
        df.filter(col(c).isNotNull)
          .select(col("bucket").as("_tbucket"), lit(c).as("_col"),
            graft.operators.DetSketch.hash60(col(c)).as("h")))
      .reduce(_ unionAll _)
    val rows = hashed
      .select(col("_tbucket"), col("_col"),
        (col("h") % m).as("_idx"),
        when(expr(s"h div $m") === 0, lit(bits + 1))
          .otherwise(lit(bits + 1) - length(bin(expr(s"h div $m"))))
          .cast("long").as("_rho"))
      .groupBy(col("_tbucket"), col("_col"), col("_idx"))
      .agg(max(col("_rho")).as("_reg"))
      .collect()
    val perCol: Map[String, Map[Int, String]] = rows
      .map(r => (r.getAs[String]("_col"), r.getInt(0),
        r.getAs[Long]("_idx").toInt, r.getAs[Long]("_reg")))
      .groupBy(_._1)
      .map { case (c, xs) =>
        c -> xs.groupBy(_._2).map { case (b, ys) =>
          b -> encodeRegisters(
            ys.map { case (_, _, idx, rho) => idx -> rho }.toMap, ndvP)
        }
      }
    // an all-null column leaves no sketch entry (perCol lacks it)
    base.map { case (b, st) =>
      b -> st.copy(colNdv = present.flatMap(c =>
        perCol.get(c).flatMap(_.get(b)).map(c -> _)).toMap)
    }
  }

  /** 2^HllP registers as a fixed-length base36 string, 2 chars per
    * register (rho ≤ 55 at p=6 fits) — compact enough that per-bucket
    * sketches scale like the existing rows./minv. stat families.
    */
  private[cdc] def encodeRegisters(regs: Map[Int, Long],
      p: Int = HllP): String = {
    val m = 1 << p
    val sb = new StringBuilder(m * 2)
    (0 until m).foreach { i =>
      val v = regs.getOrElse(i, 0L).toInt
      sb.append(java.lang.Integer.toString(v / 36, 36))
      sb.append(java.lang.Integer.toString(v % 36, 36))
    }
    sb.toString
  }

  private[graft] def decodeRegisters(s: String): Array[Long] = {
    val m = s.length / 2
    Array.tabulate(m)(i =>
      (java.lang.Integer.parseInt(s.substring(2 * i, 2 * i + 1), 36) *
        36L) +
        java.lang.Integer.parseInt(s.substring(2 * i + 1, 2 * i + 2), 36))
  }

  /** Fast path for the post-write stats pass: read the staged files'
    * FOOTERS directly on the driver (parallel, metadata-only) instead
    * of scheduling a Spark job for what is a handful of KB. Only taken
    * when every stat is unambiguous from raw parquet statistics — an
    * integer version column (INT32/INT64 min/max stringify identically
    * to Spark's cast) with stats present in every block; anything else
    * (timestamps: session-TZ rendering, decimals: binary scale) falls
    * back to the Spark aggregate, which casts through Catalyst. At
    * 4096 buckets this is 4096 small footer reads on a 16-thread pool
    * — the same pattern ACID table formats use to collect file stats
    * at commit.
    */
  private def driverFooterStats(spark: SparkSession,
      roots: Seq[(Int, Path)], versionCol: String,
      statCols: Seq[String] = Nil,
      tpFloor: Option[Int] = None): Option[Map[Int, BucketStats]] =
    try {
      if (roots.isEmpty) return Some(Map.empty)
      val conf = spark.sessionState.newHadoopConf()
      val fs = roots.head._2.getFileSystem(conf)
      // time-partitioned layout nests one `_tp=` level inside each
      // bucket — the shared lister descends it for the footer pass
      // each file keyed (bucket, `_tp` leaf): the leaf is the file's
      // parent dir when the layout nests one (r13 leaf-level
      // cluster bounds key off it; flat layouts carry None). Roots
      // are explicit (bucket id, dir) pairs so the same pass serves
      // both a txn's staging layout and a table's COMMITTED bucket
      // dirs (the r15 stats backfill); `tpFloor` excludes retired
      // partitions whose dirs linger until vacuum.
      val files: Seq[((Int, Option[Int]), Path)] = listTpLeaves(fs,
        roots.map(_._2),
        admit = tp => tpFloor.forall(tp >= _))
        .zip(roots)
        .flatMap { case ((_, leaves), (b, _)) =>
          leaves
            .filter(st => st.isFile &&
              (st.getPath.getName.endsWith(".parquet") ||
                st.getPath.getName.startsWith("part-")))
            .map { st =>
              val parent = st.getPath.getParent
              val tp =
                if (parent != null && parent.getName.startsWith("_tp="))
                  scala.util.Try(parent.getName.drop(4).toInt).toOption
                else None
              (b, tp) -> st.getPath
            }
        }
      if (files.isEmpty) return Some(Map.empty)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, files.size))
      try {
        // wanted(0) = the version column; the rest are clusterBy
        // stat columns (r12) — each must qualify as plain INT32/INT64
        // or the whole fast path declines to the Spark aggregate
        val wanted = versionCol +: statCols
        val futs = files.map { case (key, p) =>
          key -> pool.submit(new java.util.concurrent.Callable[
              Option[(Long, Array[Long], Array[Long], Array[Long])]] {
            override def call()
                : Option[(Long, Array[Long], Array[Long], Array[Long])] = {
              val in = org.apache.parquet.hadoop.util.HadoopInputFile
                .fromPath(p, conf)
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try {
                val footer = r.getFooter
                val md = footer.getFileMetaData
                wanted.foreach { w =>
                  val col = md.getSchema.getColumns.asScala.find(
                    _.getPath.toSeq == Seq(w))
                    .getOrElse(return None)
                  // only plain INT32/INT64 (no logical annotation
                  // that changes rendering) qualifies
                  val pt = col.getPrimitiveType
                  val ok = (pt.getPrimitiveTypeName ==
                      org.apache.parquet.schema.PrimitiveType
                        .PrimitiveTypeName.INT64 ||
                    pt.getPrimitiveTypeName ==
                      org.apache.parquet.schema.PrimitiveType
                        .PrimitiveTypeName.INT32) &&
                    (pt.getLogicalTypeAnnotation == null ||
                      pt.getLogicalTypeAnnotation.isInstanceOf[
                        org.apache.parquet.schema.LogicalTypeAnnotation
                          .IntLogicalTypeAnnotation])
                  if (!ok) return None
                }
                var rows = 0L
                val mn = Array.fill(wanted.size)(Long.MaxValue)
                val mx = Array.fill(wanted.size)(Long.MinValue)
                val nulls = Array.fill(wanted.size)(0L)
                footer.getBlocks.asScala.foreach { blk =>
                  rows += blk.getRowCount
                  wanted.zipWithIndex.foreach { case (w, i) =>
                    val cc = blk.getColumns.asScala.find(
                      _.getPath.toDotString == w)
                      .getOrElse(return None)
                    val st = cc.getStatistics
                    if (st == null || !st.hasNonNullValue) {
                      if (blk.getRowCount > 0) return None
                    } else {
                      val lo = st.genericGetMin match {
                        case n: java.lang.Integer => n.longValue()
                        case l: java.lang.Long => l.longValue()
                        case _ => return None
                      }
                      val hi = st.genericGetMax match {
                        case n: java.lang.Integer => n.longValue()
                        case l: java.lang.Long => l.longValue()
                        case _ => return None
                      }
                      mn(i) = math.min(mn(i), lo)
                      mx(i) = math.max(mx(i), hi)
                      // CBO count-stats need the null tally too; a
                      // writer that omitted it declines the fast path
                      if (!st.isNumNullsSet) return None
                      nulls(i) += st.getNumNulls
                    }
                  }
                }
                if (mn(0) > mx(0)) return None // no non-null stats at all
                Some((rows, mn, mx, nulls))
              } finally r.close()
            }
          })
        }
        val perFile = futs.map { case (key, f) => key -> f.get() }
        if (perFile.exists(_._2.isEmpty)) None
        else Some(perFile.groupBy(_._1._1).map { case (b, xs) =>
          val vs = xs.map(_._2.get)
          def colMin(i: Int) = vs.map(_._2(i)).min
          def colMax(i: Int) = vs.map(_._3(i)).max
          val bounds = statCols.zipWithIndex.flatMap { case (c, i0) =>
            val i = i0 + 1
            // an all-null stat column in every file leaves no entry
            if (colMin(i) > colMax(i)) None
            else Some(c -> ((colMin(i).toString, colMax(i).toString)))
          }.toMap
          // per-(`_tp` leaf) cluster bounds (r13): the same per-file
          // footer stats folded one level finer — zero extra I/O
          val byLeaf = xs.collect {
              case ((_, Some(tp)), Some(v)) => tp -> v
            }.groupBy(_._1)
          val leafBounds = byLeaf.flatMap { case (tp, lvs) =>
              val lb = statCols.zipWithIndex.flatMap { case (c, i0) =>
                val i = i0 + 1
                val mn = lvs.map(_._2._2(i)).min
                val mx = lvs.map(_._2._3(i)).max
                if (mn > mx) None
                else Some(c -> ((mn.toString, mx.toString)))
              }.toMap
              if (lb.isEmpty) None else Some(tp -> lb)
            }
          // per-(`_tp` leaf) VERSION bounds (r14): index 0 of the
          // same footer fold — zero extra I/O here too
          val leafVersion = byLeaf.flatMap { case (tp, lvs) =>
              val mn = lvs.map(_._2._2(0)).min
              val mx = lvs.map(_._2._3(0)).max
              if (mn > mx) None
              else Some(tp -> ((mn.toString, mx.toString)))
            }
          val nullCounts = statCols.zipWithIndex.map { case (c, i0) =>
            c -> vs.map(_._4(i0 + 1)).sum
          }.toMap
          b -> BucketStats(vs.map(_._1).sum,
            colMin(0).toString, colMax(0).toString, bounds, leafBounds,
            colNulls = nullCounts, leafVersionBounds = leafVersion)
        })
      } finally pool.shutdown()
    } catch { case scala.util.control.NonFatal(_) => None }


  /** Per-bucket budget for leaf-granular cluster keys: a bucket whose
    * `_tp` leaves × columns would exceed this many manifest entries
    * degrades to bucket-granular bounds alone — finer pruning is an
    * optimization, an unbounded manifest is a failure mode. 64 keys =
    * 32 [min,max] pairs per bucket, the same order as the existing
    * per-bucket stat families.
    */
  private[cdc] val MaxLeafKeysPerBucket = 64

  private[cdc] def rowProps(stats: Map[Int, BucketStats]): Map[String, String] =
    stats.flatMap { case (b, st) =>
      Seq(s"rows.$b" -> st.rows.toString) ++
        Option(st.minVersion).map(mn => s"minv.$b" -> mn) ++
        Option(st.maxVersion).map(mx => s"maxv.$b" -> mx) ++
        // cluster-column zone maps (r12): bucket FIRST in the key so
        // every carried-props filter parses the bucket id uniformly
        // (statBucket) even though the suffix is a column name
        st.colBounds.flatMap { case (c, (mn, mx)) =>
          Seq(s"cmin.$b.$c" -> mn, s"cmax.$b.$c" -> mx) } ++
        // leaf-granular cluster zone maps (r13): recorded ALONGSIDE
        // the bucket fold (`cmin.<b>.<tp>.<col>`), so bucket-level
        // consumers never change and a budget-capped bucket degrades
        // to the fold — coarser, never wrong
        (if (st.leafColBounds.iterator.map(_._2.size * 2).sum
            <= MaxLeafKeysPerBucket)
          st.leafColBounds.flatMap { case (tp, cols) =>
            cols.flatMap { case (c, (mn, mx)) =>
              Seq(s"cmin.$b.$tp.$c" -> mn, s"cmax.$b.$tp.$c" -> mx) } }
        // the marker (r15) records that the budget — not a pre-leaf
        // writer — withheld the keys, so the stats backfill can tell
        // "degraded by policy" from "never computed" without listing
        else if (st.leafColBounds.nonEmpty)
          Map(s"lcdeg.$b" -> "1")
        else Map.empty[String, String]) ++
        // leaf-granular VERSION zone maps (r14): `vminl.<b>.<tp>` /
        // `vmaxl.<b>.<tp>` beside the bucket-level minv/maxv fold,
        // with the same per-bucket budget-degrades contract (its own
        // budget — the cluster family keeps its full allowance)
        (if (st.leafVersionBounds.size * 2 <= MaxLeafKeysPerBucket)
          st.leafVersionBounds.flatMap { case (tp, (mn, mx)) =>
            Seq(s"vminl.$b.$tp" -> mn, s"vmaxl.$b.$tp" -> mx) }
        else if (st.leafVersionBounds.nonEmpty)
          Map(s"lvdeg.$b" -> "1")
        else Map.empty[String, String]) ++
        // per-bucket cluster-column NDV sketches (r13): HLL registers,
        // register-wise max across buckets = the table's sketch
        st.colNdv.map { case (c, regs) => s"cndv.$b.$c" -> regs } ++
        // per-bucket cluster-column NULL counts (r13): with the NDV
        // they complete CBO's (distinctCount, nullCount) gate
        st.colNulls.map { case (c, n) => s"cnul.$b.$c" -> n.toString }
    }

  /** Bucket id of a per-bucket stat key (`rows.7`, `cmin.7.price`) —
    * the parse every commit's carried-props filter shares. None for a
    * malformed suffix (callers keep such keys rather than guess).
    */
  private[cdc] def statBucket(k: String, p: String): Option[Int] = {
    val head = k.drop(p.length).takeWhile(_ != '.')
    if (head.nonEmpty && head.forall(_.isDigit))
      scala.util.Try(head.toInt).toOption
    else None
  }

  /** The merge-on-read delta-chain families among [[StatPrefixes]]. */
  private[cdc] val DeltaPrefixes = Seq("delta.", "drows.", "dmaxv.")

  /** The per-bucket stat-key families a commit carries/filters. */
  private[cdc] val StatPrefixes =
    Seq("rows.", "minv.", "maxv.", "vminl.", "vmaxl.",
      "lvdeg.", "lcdeg.",
      "cmin.", "cmax.", "cndv.", "cnul.") ++ DeltaPrefixes

  /** The per-bucket stat props a commit carries forward from `props`:
    * every [[StatPrefixes]] key except the `restated` families' keys of
    * the `replaced` buckets — the ones this commit rewrites, restates
    * or drops. A key whose bucket suffix does not parse carries
    * ([[statBucket]]).
    */
  private[cdc] def carriedStats(props: Map[String, String], replaced: Set[Int],
      restated: Seq[String] = StatPrefixes): Map[String, String] =
    props.filter { case (k, _) =>
      StatPrefixes.exists(p => k.startsWith(p) &&
        !(restated.contains(p) && statBucket(k, p).exists(replaced)))
    }

  /** The delta-chain props of a merge-on-read append: each `staged`
    * bucket appends its staged dir (`rel`) to its `delta.<b>` chain,
    * adds its footer row count to `drows.<b>`, and folds its max version
    * into the `dmaxv.<b>` zone map by [[typedMax]] under the version
    * type `vType` (an uncombinable pair drops the stat — the bucket is
    * then conservatively read).
    */
  private[cdc] def deltaAppendProps(snap: TxLog.Snapshot, staged: Seq[Int],
      stats: Map[Int, BucketStats], rel: Int => String,
      vType: org.apache.spark.sql.types.DataType): Map[String, String] =
    staged.flatMap { b =>
      val st = stats(b)
      val mx = (snap.prop(s"dmaxv.$b"), Option(st.maxVersion)) match {
        case (Some(old), Some(nw)) => typedMax(old, nw, vType)
        case (old, nw) => nw.orElse(old)
      }
      Seq(s"delta.$b" -> (snap.deltas.getOrElse(b, Nil) :+ rel(b)).mkString(","),
        s"drows.$b" -> (snap.counter(s"drows.$b") + st.rows).toString) ++
        mx.map(v => s"dmaxv.$b" -> v)
    }.toMap

  /** The manifest schema after a rewrite that stored `out`: widened
    * when the write introduced columns (fields forced nullable —
    * pre-evolution files genuinely lack them, and untouched buckets'
    * narrower files null-extend under the explicit read schema),
    * otherwise the stored one.
    */
  private[cdc] def widenedSchemaJson(out: DataFrame,
      stored: org.apache.spark.sql.types.StructType): String = {
    val outData = out.drop("bucket").schema
    if (outData.fieldNames.toSeq == stored.fieldNames.toSeq) stored.json
    else org.apache.spark.sql.types.StructType(
      outData.fields.map(_.copy(nullable = true))).json
  }

  /** Exact live row count answered from the manifest alone — zero I/O,
    * zero Spark jobs: every commit records each bucket's count, so the
    * 100 TB table's `count(*)` is a driver-side sum of ≤ nBuckets
    * integers (the manifest-level answer an ACID table format gives).
    */
  def countRows(spark: SparkSession, dir: String): Long = {
    val m = loadMeta(spark, dir)
    val counted = m.snap.props.collect {
      case (k, v) if k.startsWith("rows.") =>
        k.drop("rows.".length).toInt -> v.toLong
    }.toMap
    // a DIRTY bucket's recorded count describes its base only — the
    // live count needs the fold (an upsert may or may not be net-new,
    // which no metadata can know without reading). Cost is
    // O(dirty buckets); a compacted table stays zero-scan.
    val clean = m.buckets.keySet -- m.dirty
    // a manifest written before stats existed may lack entries for
    // some live buckets: answer with a real (path-pruned) count of
    // just those rather than a silently-low number
    val missing = clean -- counted.keySet
    val rest = if (missing.isEmpty) 0L
      else readBuckets(spark, dir, m,
        m.buckets.view.filterKeys(missing.contains).values).count()
    val dirtyRows = if (m.dirty.isEmpty) 0L
      else foldBuckets(spark, dir, m, m.dirty).count()
    counted.view.filterKeys(clean.contains).values.sum + rest + dirtyRows
  }

  /** Per-bucket row counts (bucket, rows) from the manifest — the
    * zero-cost skew diagnostic for bucket-count sizing.
    */
  def bucketStats(spark: SparkSession, dir: String): Seq[(Int, Long)] =
    loadMeta(spark, dir).snap.props.collect {
      case (k, v) if k.startsWith("rows.") =>
        k.drop("rows.".length).toInt -> v.toLong
    }.toSeq.sortBy(_._1)

  private def coreProps(keys: Seq[String], versionCol: String,
      deleteCol: String,
      nBuckets: Int, schemaJson: String,
      clusterBy: Seq[String]): Map[String, String] = Map(
    "table_type" -> "merge",
    "key" -> Bucketing.encodeKeys(keys), "version_col" -> versionCol,
    "delete_col" -> deleteCol, "n_buckets" -> nBuckets.toString,
    "schema_json" -> schemaJson) ++
    (if (clusterBy.isEmpty) Map.empty
     else Map("cluster_by" -> clusterBy.mkString(",")))

  /** One read of the driver-side manifest per public call: merge needs
    * the key columns, the bucket count, the stored schema AND the live
    * bucket map — pure bookkeeping that costs zero Spark jobs.
    */
  private[cdc] final case class Meta(snap: TxLog.Snapshot, keys: Seq[String],
      versionCol: String, deleteCol: String, nBuckets: Int,
      schema: org.apache.spark.sql.types.StructType) {
    def keyCols: Seq[org.apache.spark.sql.Column] = keys.map(col)
    def clusterBy: Seq[String] = snap.prop("cluster_by")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    /** Time-partition spec: (transform unit, source column). */
    def tp: Option[(String, String)] =
      for { u <- snap.prop("tp_unit"); c <- snap.prop("tp_col") }
        yield (u, c)
    /** Retention floor: partitions below it are retired. */
    def tpMin: Option[Int] = snap.prop("tp_min").map(_.toInt)
    def buckets: Map[Int, String] = snap.buckets
    /** Merge-on-read delta dirs per bucket, commit order. */
    def deltas: Map[Int, Seq[String]] = snap.deltas
    /** Buckets carrying unfolded deltas (read must reconcile). */
    def dirty: Set[Int] = deltas.keySet
    /** Every bucket with live contents: a delta-only bucket (first
      * write to it was merge-on-read) has no base entry.
      */
    def liveIds: Set[Int] = buckets.keySet ++ dirty
  }

  private[cdc] def loadMeta(spark: SparkSession, dir: String): Meta =
    metaOf(latestSnap(spark, dir))

  private[cdc] def latestSnap(spark: SparkSession,
      dir: String): TxLog.Snapshot =
    TxLog.latest(spark, dir).getOrElse(throw new
      IllegalArgumentException(s"no committed manifest under $dir"))

  private[cdc] def metaOf(snap: TxLog.Snapshot): Meta =
    Meta(snap, Bucketing.decodeKeys(snap.props("key")),
      snap.props("version_col"),
      snap.props("delete_col"), snap.props("n_buckets").toInt,
      org.apache.spark.sql.types.DataType.fromJson(snap.props("schema_json"))
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** The (key — comma-joined when composite, versionCol, deleteCol,
    * nBuckets) a table was built with.
    */
  def readMeta(spark: SparkSession, dir: String): (String, String, String, Int) = {
    val m = loadMeta(spark, dir)
    (m.keys.mkString(","), m.versionCol, m.deleteCol, m.nBuckets)
  }

  /** Absolute live bucket directories (for specs and path accounting). */
  private[graft] def livePaths(spark: SparkSession, dir: String): Map[Int, String] =
    loadMeta(spark, dir).buckets.map { case (b, rel) => b -> s"$dir/data/$rel" }

  /** Read the named bucket directories under `schema` (files carry the
    * data columns only — the bucket id is re-derived from the key,
    * which is exactly the function that placed the row there).
    */
  private def readBuckets(spark: SparkSession, dir: String, m: Meta,
      rels: Iterable[String],
      tpRange: Option[(Int, Int)] = None,
      bucketLeafKeep: Option[(Int, Int) => Boolean] = None): DataFrame =
    readRelsAs(spark, dir, rels.toSeq, m.schema,
      renameEvents(m.snap.props), tpKeepFn(m, tpRange), bucketLeafKeep)
      .withColumn("bucket", bucketOf(m.keyCols, m.nBuckets))

  /** ALTER RENAME COLUMN events from manifest props, NEWEST first:
    * `rename.<commitV>` holds `from:to` pairs (comma-joined when one
    * ALTER renames several). A file dir of generation V carries the
    * name each column had AT V; [[physicalName]] walks events with
    * commit version > V backward to recover it.
    */
  private[graft] def renameEvents(
      props: Map[String, String]): Seq[(Long, String, String)] =
    props.toSeq.collect {
      case (k, v) if k.startsWith("rename.") =>
        val ver = k.drop("rename.".length).toLong
        v.split(",").toSeq.zipWithIndex.map { case (pair, i) =>
          val Array(from, to) = pair.split(":", 2)
          (ver, i, from, to)
        }
    }.flatten.sortBy(e => (-e._1, -e._2)).map(e => (e._1, e._3, e._4))

  /** The physical (as-written) name of logical column `logical` in a
    * directory committed at generation `genV`.
    */
  private[graft] def physicalName(events: Seq[(Long, String, String)],
      genV: Long, logical: String): String =
    events.foldLeft(logical) { case (n, (v, from, to)) =>
      if (v > genV && n.equalsIgnoreCase(to)) from else n
    }

  /** Every spelling `logical` ever had, newest first — the full
    * unwind of [[renameEvents]] regardless of generation. Used where
    * a file's generation is unknown (feed batches): the dead-name
    * fence guarantees no other column ever used these spellings, so
    * matching ANY of them is unambiguous. ONE implementation — the
    * feed batch reader, the changelog stream, and ALTER's own
    * collision checks must never disagree on a column's history.
    */
  private[graft] def historicalSpellings(
      events: Seq[(Long, String, String)],
      logical: String): Seq[String] = {
    var n = logical
    val acc = scala.collection.mutable.ArrayBuffer(n)
    events.foreach { case (_, from, to) =>
      if (n.equalsIgnoreCase(to)) { n = from; acc += n }
    }
    acc.toSeq
  }

  /** Generation (commit) version of a manifest-relative data path
    * (`g<V>[-txn]/bucket=B`); unparsable names resolve as "current"
    * (logical names — conservative for files written post-rename).
    */
  private[graft] def genVersionOf(rel: String): Long = {
    val g = rel.split('/').head
    if (!g.startsWith("g")) return Long.MaxValue
    val digits = g.drop(1).takeWhile(_.isDigit)
    if (digits.isEmpty) Long.MaxValue else digits.toLong
  }

  /** Read rel dirs under the LOGICAL schema, resolving per-generation
    * physical column names: ALTER RENAME is a metadata-only commit, so
    * files keep the name they were written with; grouping dirs by
    * their physical name vector and re-aliasing positionally restores
    * the logical schema (same arity and types — a zero-cost Project,
    * and with no rename events the read is the single parquet scan it
    * always was).
    */
  private def readRelsAs(spark: SparkSession, dir: String,
      rels: Seq[String],
      logical: org.apache.spark.sql.types.StructType,
      events: Seq[(Long, String, String)],
      tpKeep: Option[Int => Boolean] = None,
      bucketLeafKeep: Option[(Int, Int) => Boolean] = None): DataFrame = {
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], logical)
    if (rels.isEmpty) return empty
    // time-partitioned layout: each bucket rel holds one `_tp=` level.
    // The read enumerates the partition LEAF dirs itself (one pooled
    // listing per rel) and prunes by NAME — retention floor + queried
    // range — then reads the leaves directly: no partition discovery
    // (multi-root discovery rejects this layout), no synthetic column,
    // and skipped partitions cost nothing, not even a footer.
    def paths(rs: Seq[String]): Seq[String] = tpKeep match {
      case None => rs.map(r => s"$dir/data/$r")
      case Some(keep) =>
        val fs = TxLog.fs(spark, dir)
        val listed = listTpDirs(fs,
          rs.map(r => new Path(s"$dir/data/$r")), keep)
        // per-(bucket, leaf) admission (r14): the version-leaf zone
        // maps prune leaves the caller proves cannot hold a passing
        // row — unparsable shapes admit (prune is a data reduction)
        bucketLeafKeep match {
          case None => listed.flatMap(_._2.map(_.getPath.toString))
          case Some(bk) => listed.flatMap(_._2.filter { st =>
              val tp = st.getPath.getName.drop("_tp=".length).toIntOption
              val b = Option(st.getPath.getParent).map(_.getName)
                .filter(_.startsWith("bucket="))
                .flatMap(_.drop("bucket=".length).toIntOption)
              (b, tp) match {
                case (Some(bb), Some(t)) => bk(bb, t)
                case _ => true
              }
            }.map(_.getPath.toString))
        }
    }
    if (events.isEmpty) {
      val ps = paths(rels)
      return if (ps.isEmpty) empty
        else spark.read.schema(logical).parquet(ps: _*)
    }
    val parts = rels.groupBy { rel =>
      val genV = genVersionOf(rel)
      logical.fields.map(f => physicalName(events, genV, f.name)).toSeq
    }.toSeq.flatMap { case (physNames, rs) =>
      val phys = org.apache.spark.sql.types.StructType(
        logical.fields.zip(physNames).map { case (f, n) =>
          f.copy(name = n)
        })
      val ps = paths(rs)
      if (ps.isEmpty) None
      else Some(spark.read.schema(phys).parquet(ps: _*)
        .toDF(logical.fieldNames.toSeq: _*))
    }
    parts.reduceOption(_ union _).getOrElse(empty)
  }

  /** Fold a set of DIRTY buckets' base + delta files into their live
    * state — the read half of merge-on-read. One scan over all the
    * paths under the manifest schema widened by the internal `_seq`
    * column (delta files carry the committing version there; base
    * files lack the column and read back null), then the SAME
    * latest-state rule every merge applies: highest version per key
    * wins, and at equal version a LATER writer beats an earlier one —
    * `_seq` descending with nulls last, so any delta beats the base
    * and deltas order among themselves by commit. Winning tombstones
    * drop. The window shuffle touches only the dirty buckets' rows;
    * clean buckets never pay it ([[liveView]]).
    */
  private def foldBuckets(spark: SparkSession, dir: String, m: Meta,
      ids: Iterable[Int], bucketed: Boolean = false): DataFrame = {
    val idSeq = ids.toSeq
    val rels = idSeq.flatMap(b => m.buckets.get(b)) ++
      idSeq.flatMap(b => m.deltas.getOrElse(b, Nil))
    val withSeq = org.apache.spark.sql.types.StructType(
      m.schema.fields :+ org.apache.spark.sql.types.StructField(
        "_seq", org.apache.spark.sql.types.LongType, nullable = true))
    // the retention floor only — never a RANGE prune: winners are
    // decided over the full surviving history, so restricting the fold
    // input to a queried range could resurrect superseded rows
    val raw = readRelsAs(spark, dir, rels, withSeq,
      renameEvents(m.snap.props), tpKeepFn(m))
    // `bucketed` (r16, compact's write path): hash-distribute by
    // bucket BEFORE the window and partition the window by (bucket,
    // keys) — identical per-key groups (bucket is a function of the
    // keys), but the staged write downstream then rides this one
    // exchange instead of paying its own repartition(bucket). Plain
    // reads keep the key-partitioned window: their consumers need no
    // particular distribution, and hash(keys) spreads wider than
    // nBuckets when few buckets are dirty.
    val (src, partSpec) =
      if (bucketed) (raw.withColumn("bucket",
          bucketOf(m.keyCols, m.nBuckets)).repartition(col("bucket")),
        col("bucket") +: m.keyCols)
      else (raw, m.keyCols)
    val w = Window.partitionBy(partSpec: _*)
      .orderBy(col(m.versionCol).desc, col("_seq").desc_nulls_last)
    val folded = src.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !isDeleted(m.deleteCol))
      .drop("_rn", "_seq")
    if (bucketed) folded
    else folded.withColumn("bucket", bucketOf(m.keyCols, m.nBuckets))
  }

  /** The live contents of `ids`: clean buckets ride the plain pruned
    * scan (no reconciliation, no shuffle — the fast path every read
    * had before merge-on-read existed), dirty buckets fold base +
    * deltas. A fully-compacted table takes the fast path for every
    * bucket, so merge-on-read costs nothing until it is used.
    */
  private def liveView(spark: SparkSession, dir: String, m: Meta,
      ids: Set[Int], tpRange: Option[(Int, Int)] = None,
      bucketLeafKeep: Option[(Int, Int) => Boolean] = None): DataFrame = {
    val dirty = ids.intersect(m.dirty)
    // leaf admission applies to CLEAN buckets only: a dirty bucket's
    // fold decides winners over full history (same invariant as every
    // range prune here)
    val clean = readBuckets(spark, dir, m,
      (ids -- dirty).toSeq.flatMap(m.buckets.get), tpRange,
      bucketLeafKeep)
    if (dirty.isEmpty) clean
    else clean.unionByName(foldBuckets(spark, dir, m, dirty))
  }

  private def storedData(spark: SparkSession, dir: String, m: Meta): DataFrame =
    liveView(spark, dir, m, m.liveIds)

  /** The live table, without the internal bucket column. */
  def read(spark: SparkSession, dir: String): DataFrame =
    storedData(spark, dir, loadMeta(spark, dir)).drop("bucket")

  /** The table's current committed version (0 = the initial snapshot,
    * each merge/compact/rebucket adds one) — the handle for
    * [[readAsOf]] and for `expectedBase`-fenced read-modify-writes.
    */
  def version(spark: SparkSession, dir: String): Long =
    loadMeta(spark, dir).snap.version

  /** The live table plus the version it was resolved at, from ONE
    * manifest read — the atomic pair a read-modify-write needs to pin
    * its base ([[merge]]'s `expectedBase`) without a window between
    * "which version" and "which rows".
    */
  private[graft] def readWithVersion(spark: SparkSession,
      dir: String): (Long, DataFrame) = {
    val m = loadMeta(spark, dir)
    (m.snap.version, storedData(spark, dir, m).drop("bucket"))
  }

  /** Point lookup by key: the bucket function pins WHICH single bucket
    * directory can hold the key, the manifest maps it to its
    * directories, and only those files are opened — O(1 bucket)
    * regardless of table size, the maintained-table analog of the
    * reference's indexed primary-key lookup. The value is cast to the
    * key column's type first (`7` finds the bigint key `7L`); a value
    * the cast would change or null out is refused with an
    * IllegalArgumentException. A composite-key table takes the key
    * TUPLE as a Seq in declared key order.
    *
    * The read is EAGER and runs no Spark job: the catalog scan plans
    * the pinned bucket (delta chains, renamed columns, `_tp` leaves and
    * the retention floor included), and its files are read and folded
    * on the calling thread, filtered to the key, before this returns.
    * So the frame holds the snapshot resolved at `lookup()` time, its
    * `collect()` runs no job, and `inputFiles` names the files read.
    * Rows are filtered to the key before the fold, so the driver holds
    * only that key's versions. Keys hashing to a bucket absent from
    * the map return an empty frame without touching storage.
    */
  def lookup(spark: SparkSession, dir: String, keyValue: Any): DataFrame =
    pointRead(spark, dir, Seq(keyValue))

  /** Multi-key point lookup over the distinct buckets the keys hash
    * into (≤ |keys| directories regardless of table size) — the batch
    * form of [[lookup]], with the same casting and eager zero-job
    * read, equivalent to the SQL `key IN (…)` path
    * [[graft.plans.MergePruning]] serves.
    */
  def lookupMany(spark: SparkSession, dir: String,
      keyValues: Seq[Any]): DataFrame =
    pointRead(spark, dir, keyValues)

  private def pointRead(spark: SparkSession, dir: String,
      keyValues: Seq[Any]): DataFrame = {
    val m = loadMeta(spark, dir)
    graft.catalog.GraftPointRead.read(spark, dir, m.snap, m.schema, keyValues)
  }

  /** Incremental scan with zone-map pruning: live rows whose version
    * column is strictly greater than `since` — the maintained-table
    * analog of the reference's watermark-driven incremental export
    * (strict `>` on `updated_at`,
    * /root/reference/app/services/export.py:21-23) — opening ONLY
    * buckets whose manifest-recorded max version exceeds `since`.
    * Every commit stores each staged bucket's footer max (see
    * [[stagedStats]]), and untouched buckets carry theirs forward, so
    * after a merge touching 1% of buckets an incremental consumer
    * reads ~1% of a 100 TB table and the pruning decision itself is
    * driver-side metadata (≤ nBuckets stringified values, compared
    * through a Catalyst cast back to the column's real type — no
    * string-order traps on timestamps or decimals). Buckets written
    * before zone maps existed carry no stat and are read rather than
    * silently skipped. Deletions are invisible to a snapshot scan by
    * nature — consumers needing them subscribe to the change feed.
    */
  def readChangedSince(spark: SparkSession, dir: String, since: Any): DataFrame = {
    val m = loadMeta(spark, dir)
    val vType = m.schema(m.versionCol).dataType
    val live = m.liveIds
    // a bucket has up to two zone-mapped components: its base files
    // (`maxv.<b>`) and, when dirty, the union of its delta files
    // (`dmaxv.<b>`, combined across merges at commit time). The bucket
    // is read iff ANY component could hold a passing row; a component
    // without a recorded stat is read rather than silently skipped.
    val stats: Seq[(Int, Option[String])] =
      m.buckets.keySet.toSeq.map(b =>
        b -> m.snap.prop(s"maxv.$b")) ++
      m.dirty.toSeq.map(b => b -> m.snap.prop(s"dmaxv.$b"))
    val statless = stats.collect { case (b, None) => b }.toSet
    val stated = stats.collect { case (b, Some(v)) => (b, v) }
    val keep: Set[Int] =
      if (stated.isEmpty) live
      else {
        import spark.implicits._
        // typed comparison via Catalyst on a driver-sized local frame
        // (≤ 2·nBuckets rows): LocalRelation, no cluster job
        val passing = stated.toDF("bucket", "mx")
          .filter(col("mx").cast(vType) > lit(since))
          .select(col("bucket")).as[Int].collect().toSet
        (passing ++ statless).intersect(live)
      }
    // leaf-granular admission (r14): inside a kept CLEAN bucket of a
    // time-partitioned table, a `_tp` leaf whose recorded vmaxl cannot
    // exceed `since` holds only superseded-by-the-filter rows — skip
    // it by name. Typed through Catalyst like every zone compare;
    // missing bounds or eval surprises admit.
    val leafKeep: Option[(Int, Int) => Boolean] =
      if (m.tp.isEmpty) None
      else Some { (b, tp) =>
        m.snap.prop(s"vmaxl.$b.$tp") match {
          case None => true
          case Some(mx) =>
            import org.apache.spark.sql.catalyst.expressions.{Cast => CCast, GreaterThan => CGt, Literal => CLit}
            val tz = Some(org.apache.spark.sql.internal.SQLConf.get
              .sessionLocalTimeZone)
            scala.util.Try(CGt(
              CCast(CLit(
                org.apache.spark.unsafe.types.UTF8String.fromString(mx),
                org.apache.spark.sql.types.StringType), vType, tz),
              CCast(CLit(since), vType, tz)).eval()).toOption match {
              case Some(java.lang.Boolean.FALSE) => false
              case _ => true
            }
        }
      }
    liveView(spark, dir, m, keep, bucketLeafKeep = leafKeep)
      .drop("bucket")
      .filter(col(m.versionCol) > lit(since))
  }

  /** Time-range scan over a TIME-PARTITIONED table: live rows whose
    * partition source column lies in `[from, to]` (inclusive), opening
    * ONLY the matching partitions' files inside each live bucket — the
    * partition level prunes by directory name before any footer or
    * data page is touched, and the row filter re-applies the exact
    * bound (partition granularity is coarser than the values). Dirty
    * (merge-on-read) buckets fold their full surviving history first —
    * winners must never be decided on a range subset — then filter;
    * compact() restores full pruning.
    */
  def readTimeRange(spark: SparkSession, dir: String,
      from: java.sql.Timestamp, to: java.sql.Timestamp): DataFrame =
    readTimeRangeOf(spark, dir, from, to)

  def readTimeRange(spark: SparkSession, dir: String,
      from: java.time.Instant, to: java.time.Instant): DataFrame =
    readTimeRangeOf(spark, dir, from, to)

  def readTimeRange(spark: SparkSession, dir: String,
      from: java.time.LocalDate, to: java.time.LocalDate): DataFrame =
    readTimeRangeOf(spark, dir, from, to)

  /** Untyped form behind the overloads above (r10 review: typed pairs
    * catch a date-vs-timestamp unit mismatch at compile time — an
    * uneven pair no longer resolves). Both bounds are INCLUSIVE and
    * read as session-zone wall clocks ([[tpValueOf]]).
    */
  private def readTimeRangeOf(spark: SparkSession, dir: String, from: Any,
      to: Any): DataFrame = {
    val m = loadMeta(spark, dir)
    val (unit, srcCol) = m.tp.getOrElse(throw new IllegalArgumentException(
      s"the table at $dir has no time-partition spec: create it with " +
        "PARTITIONED BY (days(<col>)) / init(..., timePartition = ...)"))
    val range = (tpValueOf(unit, from), tpValueOf(unit, to))
    liveView(spark, dir, m, m.liveIds, Some(range))
      .drop("bucket")
      .filter(col(srcCol) >= lit(from) && col(srcCol) <= lit(to))
  }

  /** Retire every partition strictly below `bound`'s partition as
    * METADATA: one commit subtracts the retired partitions' footer row
    * counts from the per-bucket stats, drops the affected buckets'
    * version zone maps (a subtracted extreme is unknowable without a
    * read), and records the `tp_min` floor reads fence on — THEN the
    * directories delete (a crash in between leaves extra dirs that the
    * floor keeps invisible). Destructive like [[vacuum]]: time travel
    * into retired partitions is gone. Returns the number of partition
    * directories retired.
    *
    * Merge-on-read tables pay only an O(affected) fold, never a full
    * compact: a doomed dir under an UNFOLDED chain cannot delete in
    * place — winners are decided over full history, so removing a
    * key's latest version (in the doomed range) would resurrect an
    * older one in a kept range, and delta row counts cannot be
    * subtracted per partition — so exactly the buckets whose base or
    * delta dirs hold doomed partitions are folded first
    * ([[compactBuckets]]); every other delta chain stays byte-intact.
    */
  def dropPartitionsBefore(spark: SparkSession, dir: String,
      bound: Any): Int = TxLog.withOcc(spark, dir) {
    val m0 = loadMeta(spark, dir)
    val (unit, _) = m0.tp.getOrElse(throw new IllegalArgumentException(
      s"the table at $dir has no time-partition spec"))
    val cut = tpValueOf(unit, bound)
    if (m0.tpMin.exists(_ >= cut)) return 0
    val fs = TxLog.fs(spark, dir)
    // fold-then-re-analyze LOOP: each reload after a targeted fold can
    // absorb a CONCURRENT merge-on-read commit (the reload means our
    // final commit no longer CAS-conflicts with it), so the dirty/
    // doomed analysis must re-run on the reloaded snapshot until no
    // dirty bucket holds a doomed partition — otherwise a below-cut
    // delta landing in the window would survive the floor stamp and
    // hide superseded history from every later fold (self-review r11)
    var m = m0
    var guard = 0
    var settled = false
    while (!settled) {
      val affected =
        if (m.dirty.isEmpty) Set.empty[Int]
        else {
          val dirtyRoots: Seq[(Int, Path)] = m.dirty.toSeq.sorted.flatMap {
            b => (m.buckets.get(b).toSeq ++ m.deltas.getOrElse(b, Nil))
              .map(rel => b -> new Path(s"$dir/data/$rel"))
          }
          listTpDirs(fs, dirtyRoots.map(_._2), _ < cut)
            .zip(dirtyRoots)
            .collect { case ((_, ds), (b, _)) if ds.nonEmpty => b }
            .toSet
        }
      if (affected.isEmpty) settled = true
      else {
        guard += 1
        require(guard <= 8,
          "partition retirement cannot settle: concurrent writers " +
            "keep landing merge-on-read batches below the cut")
        compactBuckets(spark, dir, affected, retainHistory = true)
        m = loadMeta(spark, dir)
      }
    }
    // one listing per live bucket (pooled): the doomed partition dirs
    val bucketSeq = m.buckets.toSeq
    val doomed: Seq[(Int, Path)] = listTpDirs(fs,
      bucketSeq.map { case (_, rel) => new Path(s"$dir/data/$rel") },
      _ < cut)
      .zip(bucketSeq)
      .flatMap { case ((_, ds), (b, _)) => ds.map(b -> _.getPath) }
    val txn = new TableTxn(spark, dir, m.snap)
    if (doomed.isEmpty) {
      // still record the floor: the caller's retention promise holds
      // even when nothing is present below it yet
      txn.commit(m.buckets, TableTxn.tableProps(m.snap) +
        ("tp_min" -> cut.toString), op = "retire-partitions")
      return 0
    }
    // retired row counts per bucket, from the doomed files' footers
    // (metadata-only, pooled — O(retired files))
    val droppedRows: Map[Int, Long] = {
      val files = listDirs(fs, doomed.map(_._2))
        .zip(doomed)
        .flatMap { case ((_, sts), (b, _)) =>
          sts.toSeq.filter(st => st.isFile && st.getLen > 0 &&
              !st.getPath.getName.startsWith(".") &&
              !st.getPath.getName.startsWith("_"))
            .map(st => b -> st.getPath)
        }
      val conf = spark.sessionState.newHadoopConf()
      files.groupBy(_._1).view.mapValues(_.map { case (_, p) =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally r.close()
      }.sum).toMap
    }
    val touched = doomed.map(_._1).toSet
    val props = TableTxn.tableProps(m.snap)
      .map {
        case (k, v) if k.startsWith("rows.") &&
            touched.contains(k.drop(5).toInt) =>
          k -> math.max(0L,
            v.toLong - droppedRows.getOrElse(k.drop(5).toInt, 0L)).toString
        case kv => kv
      }
      .filterNot { case (k, _) =>
        Seq("minv.", "maxv.", "vminl.", "vmaxl.", "lvdeg.", "lcdeg.",
            "cmin.", "cmax.", "cndv.", "cnul.")
          .exists(p =>
          k.startsWith(p) &&
            statBucket(k, p).exists(touched.contains))
      } + ("tp_min" -> cut.toString)
    txn.commit(m.buckets, props, op = "retire-partitions")
    // physical deletion AFTER the fence committed
    TxLog.hygiene(doomed.foreach { case (_, p) => fs.delete(p, true) })
    doomed.size
  }

  /** Replace the full contents of `bucketIds` with `replacement` in
    * ONE committed rewrite — the write half of a GROUP-based v2
    * row-level operation ([[graft.catalog.GraftTable]]'s
    * `SupportsRowLevelOperations`): Spark computes the affected
    * groups' surviving rows (deletes removed, updates applied), and
    * this stores them verbatim, dropping the replaced buckets'
    * merge-on-read deltas (the replacement reflects the folded state
    * the scan read). Fences on the EXACT snapshot the scan planned
    * against (`expectedBase`): a concurrent commit means the
    * replacement rows are stale pre-images, so the op aborts with
    * [[TxLog.StaleBase]] instead of silently losing the rival's
    * write — the same lost-update fence the SQL UPDATE/DELETE
    * lowering carries. Two more merge-table invariants hold:
    * replacement rows carrying a TRUE `deleteCol` drop (stored tables
    * never carry tombstones — an UPDATE setting the tombstone IS a
    * delete), and a replacement row whose key hashes OUTSIDE
    * `bucketIds` fails the commit (a key-changing UPDATE would split
    * the hash layout; change keys by delete+insert).
    *
    * Unlike [[merge]], a replace does not emit change-feed events:
    * Spark hands over post-images only, so per-row effect
    * classification has no pre-image to diff against. Feed consumers
    * should write through MERGE (the GraftDml route) — documented on
    * the catalog.
    */
  private[graft] def replaceBuckets(spark: SparkSession, dir: String,
      replacement: DataFrame, bucketIds: Set[Int], expectedBase: Long,
      insertsOutsideGroups: Boolean = false): Unit = {
    TxLog.withOcc(spark, dir) {
      val m = loadMeta(spark, dir)
      if (m.snap.version != expectedBase)
        throw new TxLog.StaleBase(
          s"row-level operation planned at v$expectedBase but table " +
            s"is at v${m.snap.version}; re-run against the new snapshot")
      TxLog.sweep(spark, dir)
      val txn = new TableTxn(spark, dir, m.snap)
      val vType = m.schema(m.versionCol).dataType
      // ONE staged write serves both roles: rows hashing INTO the read
      // groups rewrite those buckets' bases; rows hashing OUTSIDE (a
      // MERGE's NOT MATCHED inserts — the group filter covers matched
      // keys only, so a brand-new key's bucket was never read) append
      // as merge-on-read DELTA dirs, tagged with the committing
      // version in `_seq` exactly like morMerge's files. In-group
      // rows carry a null `_seq` (base files read it back null).
      val inGroup = col("bucket").isInCollection(bucketIds.toSeq)
      val staged = txn.stage(
        replacement.select(m.schema.fieldNames.map(col).toSeq: _*)
          .filter(!isDeleted(m.deleteCol))
          .withColumn("bucket", bucketOf(m.keyCols, m.nBuckets))
          .withColumn("_seq", when(inGroup,
            lit(null).cast("long")).otherwise(lit(txn.newVersion)))
          .repartition(col("bucket")),
        m.keys, m.clusterBy, m.tp)
      val escaped = staged.toSet -- bucketIds
      if (escaped.nonEmpty && !insertsOutsideGroups) {
        TxLog.hygiene(txn.cleanup())
        throw new IllegalArgumentException(
          s"row-level operation produced rows hashing outside the " +
            s"groups it read (buckets ${escaped.mkString(", ")}): " +
            "key columns cannot be UPDATEd in place — delete and " +
            "re-insert to change a key")
      }
      val stagedIn = staged.filter(bucketIds.contains)
      val newBuckets = (m.buckets -- bucketIds) ++
        stagedIn.map(b => b -> txn.bucketRel(b))
      val carried = carriedStats(m.snap.props, bucketIds)
      val newStats = stagedStats(spark, txn.staging, staged,
        m.versionCol, m.clusterBy, ndvPOf(m.snap))
      // escapee buckets keep base + prior deltas and APPEND one delta
      // dir each, folding its footer stats into the delta zone map —
      // the same bookkeeping a merge-on-read merge commits
      val escapeProps = deltaAppendProps(m.snap, escaped.toSeq, newStats,
        txn.bucketRel, vType)
      // change-feed from the v2 row-level path: Spark hands over
      // post-images only, so per-row effect classification diffs the
      // replaced buckets' committed pre-state against the STAGED
      // post-state (already materialized — no replan of the MERGE
      // source). O(replaced buckets + replacement), emitted only for
      // feed-enabled tables, and published with the same post-commit
      // rename protocol a merge's feed batch uses — a third-party
      // engine planning DML through the standard connector now feeds
      // the stream exactly like the GraftDml route.
      val emitFeed = feedEnabled(m.snap)
      if (emitFeed) {
        val pre = liveView(spark, dir, m, bucketIds).drop("bucket")
        val post =
          if (staged.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              m.schema)
          else spark.read.schema(m.schema).parquet(
            staged.map(b => s"${txn.staging}/data/bucket=$b"): _*)
        stageReplaceFeed(spark, txn.staging, pre, post, m)
      }
      val props = coreProps(m.keys, m.versionCol, m.deleteCol,
        m.nBuckets, m.schema.json, m.clusterBy) ++
        evolutionProps(m.snap) ++ carried ++
        rowProps(newStats.view.filterKeys(stagedIn.contains).toMap) ++
        escapeProps
      // catalog tables keep history: VERSION AS OF serves every commit
      // until an explicit vacuum, exactly like the DML lowering
      txn.commit(newBuckets, props, op = "replace", feed = emitFeed)
    }
  }

  /** Classify the table effect of a bucket replace (insert / delete /
    * update pre+post per key) by a null-safe full-outer join of the
    * replaced buckets' pre-state against the staged post-state, and
    * stage it under `<staging>/feed` in the exact layout
    * [[stageFeed]] produces — one feed, two producers.
    */
  private def stageReplaceFeed(spark: SparkSession, staging: String,
      pre: DataFrame, post: DataFrame, m: Meta): Unit = {
    val cols = m.schema.fieldNames.toSeq
    val keyLower = m.keys.map(_.toLowerCase).toSet
    val valueCols = cols.filterNot(c => keyLower(c.toLowerCase))
    val o = pre.select(lit(1).as("_o_present") +:
      cols.map(c => col(c).as(s"_o_$c")): _*)
    val n = post.select(lit(1).as("_n_present") +:
      cols.map(c => col(c).as(s"_n_$c")): _*)
    val joined = o.join(n,
      m.keys.map(k => col(s"_o_$k") <=> col(s"_n_$k")).reduce(_ && _),
      "full_outer")
    val same = valueCols.map(c => col(s"_o_$c") <=> col(s"_n_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val oPayload = struct(cols.map(c => col(s"_o_$c").as(c)): _*)
    val nPayload = struct(cols.map(c => col(s"_n_$c").as(c)): _*)
    val events = joined
      .filter(col("_o_present").isNull || col("_n_present").isNull ||
        !same)
      .select(explode(
        when(col("_n_present").isNull,
          array(struct(lit("delete").as("change_type"),
            oPayload.as("payload"))))
        .when(col("_o_present").isNull,
          array(struct(lit("insert").as("change_type"),
            nPayload.as("payload"))))
        .otherwise(array(
          struct(lit("update_preimage").as("change_type"),
            oPayload.as("payload")),
          struct(lit("update_postimage").as("change_type"),
            nPayload.as("payload"))))).as("_f"))
      .select(col("_f.payload.*"),
        col("_f.change_type").as("_change_type"))
      .withColumn("bucket", bucketOf(m.keyCols, m.nBuckets))
      .repartition(col("bucket")).drop("bucket")
    m.tp match {
      case None =>
        events.write.mode("overwrite").parquet(s"$staging/feed")
      case Some((u, c)) =>
        events.withColumn("_tp", tpColumnChecked(u, c))
          .write.partitionBy("_tp").mode("overwrite")
          .parquet(s"$staging/feed")
    }
  }

  /** One ALTER TABLE change for [[alterSchema]]. */
  sealed trait SchemaChange
  object SchemaChange {
    final case class AddColumn(name: String,
        dataType: org.apache.spark.sql.types.DataType)
      extends SchemaChange
    final case class DropColumn(name: String) extends SchemaChange
    final case class RenameColumn(from: String, to: String)
      extends SchemaChange
    final case class WidenColumn(name: String,
        to: org.apache.spark.sql.types.DataType) extends SchemaChange
  }

  /** Type promotions ALTER COLUMN accepts — exactly the set the
    * vectorized parquet reader widens IN THE SCAN (Spark 4's
    * IntegerToLong/IntegerToDouble/FloatToDouble updaters and the
    * unscaled-decimal paths), so a widen is a metadata-only commit:
    * pre-widen files keep their narrow physical type and every read
    * funnel requests the wide logical type. Narrowing (lossy) and
    * anything the reader cannot widen in place refuse.
    */
  private[graft] def canWiden(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d2.scale == d1.scale && d2.precision >= d1.precision
      case _ => false
    }
  }

  /** Durable table flags every rewrite carries forward: the versioned
    * rename events (retained old generation directories still resolve
    * their physical column names through them), the dropped-name
    * fence, the change-feed opt-in and the time-partition spec. (The
    * feed counter, epoch and lineage floor ride [[TableTxn.commit]].)
    */
  private def evolutionProps(snap: TxLog.Snapshot): Map[String, String] =
    snap.props.filter { case (k, _) =>
      k.startsWith("rename.") || k == "dead_cols" || k == "feed" ||
        k == "schema_altered" || k == "tp_unit" || k == "tp_col" ||
        k == "tp_min" || k == "tp_evolved" ||
        // the declared sketch precision is a durable table parameter
        k == "ndv_p"
    }

  /** Whether the table opted into the change data feed
    * (`TBLPROPERTIES ('feed'='true')` / `init(..., feed = true)`).
    * When set, EVERY write path emits feed events — catalog INSERT,
    * streaming writes, the SQL DML lowerings, v2 row-level replaces —
    * so `spark.readStream.table(...)` observes every committed change
    * regardless of which connector surface produced it.
    */
  def feedEnabled(spark: SparkSession, dir: String): Boolean =
    TxLog.latest(spark, dir).exists(feedEnabled)

  private def feedEnabled(snap: TxLog.Snapshot): Boolean =
    snap.prop("feed").contains("true")

  /** Toggle the change-feed flag as ONE metadata-only commit (the
    * ALTER TABLE SET TBLPROPERTIES ('feed'=...) lowering). Enabling
    * starts the feed from the NEXT commit; history before it is not
    * reconstructed (same contract as other lakehouse CDF opt-ins).
    */
  def setFeedEnabled(spark: SparkSession, dir: String,
      enabled: Boolean): Unit =
    TxLog.withOcc(spark, dir) {
      val m = loadMeta(spark, dir)
      if (feedEnabled(m.snap) == enabled) return
      val props = TableTxn.tableProps(m.snap) - "feed" ++
        (if (enabled) Map("feed" -> "true") else Map.empty)
      new TableTxn(spark, dir, m.snap).commit(m.buckets, props, op = "alter")
      ()
    }

  /** Apply ALTER TABLE changes as ONE metadata-only commit
    * (`op=alter`): the manifest owns the schema, so ADD / DROP /
    * RENAME COLUMN touch no data file. An added column reads back
    * null from pre-ALTER files (the explicit read schema
    * null-extends); a dropped column simply stops projecting; a
    * rename records a versioned `rename.<V>` mapping that the read
    * funnels resolve PER GENERATION DIRECTORY — files keep the name
    * they were written with, and since a rename preserves position
    * and type, restoring the logical name is a zero-cost positional
    * alias, never a coalesce (an explicit null written post-rename
    * stays null). Guards keep the evolution sound:
    *
    *  - table parameters (key / version / delete / cluster columns)
    *    cannot be dropped or renamed — they are fixed at init;
    *  - a new or target name must not collide (case-insensitively)
    *    with a live column, a reserved internal column, a DROPPED
    *    column, or any historical spelling of a renamed column:
    *    un-rewritten files may still carry bytes under those names,
    *    and a collision would resurrect them with a new meaning.
    *    [[merge]] enforces the same fence on changelog columns.
    *
    * Concurrent writers race the same manifest CAS as merges; time
    * travel to a pre-ALTER version serves the schema of THAT commit
    * (evolution is part of history). The analog in the reference is
    * DDL-first schema ownership
    * (/root/reference/seeds/001_schema.sql:2-9).
    */
  def alterSchema(spark: SparkSession, dir: String,
      changes: Seq[SchemaChange]): Unit = {
    require(changes.nonEmpty, "ALTER: no changes given")
    TxLog.withOcc(spark, dir) {
      val m = loadMeta(spark, dir)
      require(m.snap.prop("table_type").forall(_ == "merge"),
        s"$dir is not a merge table; ALTER applies to merge tables")
      val protectedCols =
        (m.keys ++ Seq(m.versionCol, m.deleteCol) ++ m.clusterBy)
          .map(_.toLowerCase).toSet
      val committed = renameEvents(m.snap.props)
      var fields = m.schema.fields.toVector
      var dead = m.snap.prop("dead_cols")
        .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
        .map(_.toLowerCase).toSet
      var newPairs = Vector.empty[(String, String)]
      // committed events plus this ALTER's own pairs (newest first):
      // an add/rename inside the same statement sees prior renames
      def allEvents: Seq[(Long, String, String)] =
        newPairs.reverse.map { case (f, t) =>
          (m.snap.version + 1, f, t)
        } ++ committed
      def historical: Set[String] = allEvents.map(_._2.toLowerCase).toSet
      def taken(n: String): Boolean =
        fields.exists(_.name.equalsIgnoreCase(n)) ||
          dead.contains(n.toLowerCase) || historical.contains(n.toLowerCase)
      // every spelling `name` ever had, walking renames newest-first
      def chainOf(name: String): Seq[String] = {
        var n = name
        val acc = scala.collection.mutable.ArrayBuffer(n)
        allEvents.foreach { case (_, from, to) =>
          if (n.equalsIgnoreCase(to)) { n = from; acc += n }
        }
        acc.toSeq
      }
      def cleanName(n: String, what: String): Unit = {
        requireNoReserved(Seq(n), what)
        require(!n.contains(":") && !n.contains(","),
          s"$what: column name '$n' may not contain ':' or ','")
      }
      changes.foreach {
        case SchemaChange.AddColumn(name, dt) =>
          cleanName(name, "ALTER ADD COLUMN")
          require(!taken(name), s"ALTER ADD COLUMN $name: the name " +
            "is (or historically was) in use — data under it may " +
            "still exist in un-rewritten files")
          fields = fields :+ org.apache.spark.sql.types.StructField(
            name, dt, nullable = true)
        case SchemaChange.DropColumn(name) =>
          require(fields.exists(_.name.equalsIgnoreCase(name)),
            s"ALTER DROP COLUMN: no column $name")
          require(!protectedCols.contains(name.toLowerCase),
            s"ALTER DROP COLUMN: $name is a table-parameter column " +
              "(key/version/delete/cluster) — parameters are fixed")
          dead = dead ++ chainOf(name).map(_.toLowerCase)
          fields = fields.filterNot(_.name.equalsIgnoreCase(name))
        case SchemaChange.RenameColumn(from, to) =>
          require(fields.exists(_.name.equalsIgnoreCase(from)),
            s"ALTER RENAME COLUMN: no column $from")
          require(!protectedCols.contains(from.toLowerCase),
            s"ALTER RENAME COLUMN: $from is a table-parameter column " +
              "(key/version/delete/cluster) — parameters are fixed")
          cleanName(to, "ALTER RENAME COLUMN")
          require(!taken(to), s"ALTER RENAME COLUMN to $to: the name " +
            "is (or historically was) in use")
          fields = fields.map(f =>
            if (f.name.equalsIgnoreCase(from)) f.copy(name = to) else f)
          newPairs = newPairs :+ (from -> to)
        case SchemaChange.WidenColumn(name, to) =>
          val f = fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
            throw new IllegalArgumentException(
              s"ALTER COLUMN TYPE: no column $name"))
          // KEY columns are hashed for bucket routing, and Spark's
          // xxhash64 of 5:int and 5:long differ — a widened key would
          // silently re-route every row. Version widening is safe:
          // versions are compared (zone-map strings cast through the
          // NEW type), never hashed.
          val hashed = (m.keys ++ m.clusterBy).map(_.toLowerCase).toSet
          require(!hashed.contains(name.toLowerCase),
            s"ALTER COLUMN TYPE: $name is a key/cluster column — its " +
              "hash routes rows to buckets, and widening changes the " +
              "hash; rebucket() into a new layout instead")
          require(!m.deleteCol.equalsIgnoreCase(name),
            "ALTER COLUMN TYPE: the tombstone column is BOOLEAN by " +
              "contract")
          require(canWiden(f.dataType, to),
            s"ALTER COLUMN TYPE: cannot change $name from " +
              s"${f.dataType.simpleString} to ${to.simpleString} — " +
              "only lossless widenings the parquet scan performs in " +
              "place are supported (byte/short/int->bigint, " +
              "float->double, int->double, decimal precision growth " +
              "at the same scale)")
          fields = fields.map(g =>
            if (g.name.equalsIgnoreCase(name)) g.copy(dataType = to)
            else g)
      }
      val renameProp =
        if (newPairs.isEmpty) Map.empty[String, String]
        else Map(s"rename.${m.snap.version + 1}" ->
          newPairs.map { case (f, t) => s"$f:$t" }.mkString(","))
      val deadProp =
        if (dead.isEmpty) Map.empty[String, String]
        else Map("dead_cols" -> dead.toSeq.sorted.mkString(","))
      val props = TableTxn.tableProps(m.snap) ++
        renameProp ++ deadProp +
        ("schema_json" -> org.apache.spark.sql.types
          .StructType(fields).json) +
        // durable marker: feed readers take the per-batch
        // schema-resolution path only once an ALTER ever happened
        ("schema_altered" -> "true")
      new TableTxn(spark, dir, m.snap).commit(m.buckets, props, op = "alter")
      ()
    }
  }

  /** Resize the table's bucket count in ONE committed full rewrite —
    * the lifecycle tool [[bucketStats]]' skew diagnostic exists for: a
    * table that outgrew its bucket count (buckets too big for a task's
    * working set) or shrank far below it (small-file overhead) moves
    * to the right layout without losing its identity. Everything else
    * about the table survives: the version lineage continues (+1), the
    * feed and its numbering are untouched, zone maps and row stats are
    * recomputed for the new buckets in the same footer pass, and time
    * travel to pre-resize versions still resolves (old generation
    * directories are immutable; pass `retainHistory = true` to keep
    * their manifests). Readers never see an intermediate state — the
    * rewrite stages invisibly and publishes with the manifest CAS,
    * racing writers conflict-retry exactly as merges do. Cost is one
    * full read + write of live data (unavoidable for a hash-layout
    * change); run it at the cadence of capacity planning, not of
    * merges.
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
            m.schema.json, m.clusterBy) ++ evolutionProps(m.snap) ++
          rowProps(stagedStats(spark, txn.staging, staged, m.versionCol,
            m.clusterBy, ndvPOf(m.snap))),
        m.clusterBy, m.tp))
    }
  }

  /** Change the table's TIME-PARTITION SPEC in ONE committed full
    * rewrite — partition evolution in the [[rebucket]] mold (r10 item
    * 3): `none→days(ts)`, `days→months` (granularity change) and
    * `days→none` (drop the spec) all work, so a year-old table that
    * needs retention is never stuck re-initializing. Everything else
    * survives: the version lineage continues (+1), feed numbering is
    * untouched, zone maps and row stats are recomputed in the same
    * footer pass, readers never see an intermediate state (staged
    * write + manifest CAS), and a concurrent merge either commits
    * first (this rewrite OCC-retries over its result) or loses the
    * CAS and re-runs against the new spec — the staged write derives `_tp`
    * from the manifest each attempt resolves. The retention floor
    * (`tp_min`) does NOT carry: it is a promise in the OLD granularity
    * about data that is already gone, and the rewrite materializes
    * only surviving rows. A crash at any point leaves the old layout
    * committed (the staging sweeps). Cost is one full read + write of
    * live data — unavoidable for a layout change; run it at the
    * cadence of capacity planning. SQL:
    * `ALTER TABLE t SET PARTITION SPEC (days(ts))` /
    * `ALTER TABLE t DROP PARTITION SPEC` via [[graft.plans.GraftTables]].
    */
  def repartitionTime(spark: SparkSession, dir: String,
      timePartition: Option[(String, String)],
      retainHistory: Boolean = false): Unit =
    TableTxn.rewrite(spark, dir, "repartition", retainHistory) {
      val m = loadMeta(spark, dir)
      timePartition.foreach { case (u, c) =>
        tpValueOf(u, new java.sql.Timestamp(0L)) // validates the unit
        require(m.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"time-partition column '$c' missing from the table schema")
      }
      // the fold inside storedData reconciles merge-on-read chains, so
      // the rewrite doubles as a full compaction (dirty buckets clean)
      Option.when(m.tp != timePartition)(TableTxn.Rewrite(m.snap,
        Map.empty, storedData(spark, dir, m).drop("bucket")
          .withColumn("bucket", bucketOf(m.keyCols, m.nBuckets))
          .repartition(col("bucket")),
        (txn, staged) =>
          coreProps(m.keys, m.versionCol, m.deleteCol, m.nBuckets,
            m.schema.json, m.clusterBy) ++
          (evolutionProps(m.snap) -- Seq("tp_unit", "tp_col", "tp_min")) ++
          timePartition.map { case (u, c) =>
            Map("tp_unit" -> u, "tp_col" -> c) }.getOrElse(Map.empty) ++
          rowProps(stagedStats(spark, txn.staging, staged, m.versionCol,
            m.clusterBy, ndvPOf(m.snap))) +
          // durable marker: the feed may now hold batches of BOTH
          // layouts (flat and `_tp=`-nested) — readFeed must take the
          // layout-aware listing route forever after
          ("tp_evolved" -> "true"),
        m.clusterBy, timePartition))
    }

  /** Versions time travel can reconstruct (ascending): every committed
    * manifest still on disk below the live one. A merge with
    * `retainHistory = false` drops all older manifests (its touched
    * buckets' pre-images are gone), so presence on disk IS
    * reconstructibility.
    */
  def versions(spark: SparkSession, dir: String): Seq[Long] =
    TxLog.versionsOnDisk(spark, dir).dropRight(1)

  /** Commit audit log from the retained manifests alone (driver
    * metadata, zero Spark jobs): one row per version still on disk —
    * commit time (manifest mtime), operation, writer txn lineage, and
    * the recorded live row count. The table-format `DESCRIBE HISTORY`
    * surface; reach it from SQL via
    * `GraftTables.sql("DESCRIBE HISTORY t")`.
    */
  /** One tuple per retained commit: (version, commit millis, op,
    * txn_id, base_txn, live rows, dirty buckets) — driver metadata,
    * zero Spark jobs. Shared by [[history]] and the catalog's
    * `t$history` metadata table.
    */
  private[graft] def historyRows(spark: SparkSession, dir: String)
      : Seq[(Long, Long, String, Option[String], Option[String],
          Long, Int)] =
    TxLog.commitTimesOnDisk(spark, dir).map { case (v, ts) =>
      val snap = TxLog.read(spark, dir, v)
      // base rows + staged MoR delta rows: exact on clean tables, an
      // upper bound on dirty ones (a delta may replay or supersede a
      // base key — countRows() folds for the exact live number)
      val rowCount = snap.props.collect {
        case (k, value) if k.startsWith("rows.") ||
          k.startsWith("drows.") => value.toLong
      }.sum
      (v, ts, snap.prop("op").getOrElse("unknown"),
        snap.prop("txn_id"), snap.prop("base_txn"),
        rowCount, snap.deltas.size)
    }

  def history(spark: SparkSession, dir: String): DataFrame = {
    val rows = historyRows(spark, dir).map {
      case (v, ts, op, txn, base, rowCount, dirty) =>
        org.apache.spark.sql.Row(v, new java.sql.Timestamp(ts),
          op, txn.orNull, base.orNull, rowCount, dirty)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("version",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("committed_at",
          org.apache.spark.sql.types.TimestampType, nullable = false),
        org.apache.spark.sql.types.StructField("operation",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("txn_id",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("base_txn",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("live_rows",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("dirty_buckets",
          org.apache.spark.sql.types.IntegerType, nullable = false))))
  }

  /** The greatest committed version whose commit time (manifest mtime,
    * stamped by the atomic publish rename) is at or before
    * `tsMillis` — the resolution step behind SQL
    * `TIMESTAMP AS OF <ts>`. Fails (naming the earliest commit still
    * on disk) for a timestamp before all retained history.
    */
  def versionAsOfTimestamp(spark: SparkSession, dir: String,
      tsMillis: Long): Long = {
    val times = TxLog.commitTimesOnDisk(spark, dir)
    require(times.nonEmpty, s"no committed manifest under $dir")
    val eligible = times.filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"timestamp $tsMillis predates all retained history " +
        s"(earliest commit: v${times.head._1} at ${times.head._2})")
    eligible.last._1
  }

  /** Time travel: the table as it stood at committed version `v`
    * (version 0 = the initial snapshot, each merge adds one). With the
    * manifest protocol this is nothing but "resolve manifest v": data
    * files are immutable, so the old manifest's bucket map still names
    * the exact directories that held the table then — no renames, no
    * pre-image copies, O(1) metadata. Requires every merge since `v`
    * to have run with `retainHistory = true` (a non-retaining merge
    * vacuums older manifests); rows read back in the CURRENT schema
    * (columns added later null-extend, exactly like untouched buckets
    * do after an evolution).
    */
  def readAsOf(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val live = loadMeta(spark, dir)
    val pinned = TxLog.read(spark, dir, version)
    // pre-REPLACE versions read under their OWN meta (schema, keys,
    // bucket count): the live table was re-defined by the replace, so
    // "read old data in the current schema" — the right call for
    // plain evolution — would describe a different table entirely
    val old =
      if (live.snap.prop("lineage_floor").map(_.toLong)
          .exists(version < _)) metaOf(pinned)
      else live.copy(snap = pinned)
    storedData(spark, dir, old).drop("bucket")
  }

  /** RESTORE the table to committed version `version` in ONE
    * metadata-only OCC commit (r12 verdict item 1) — the write-side
    * half of time travel, and the recovery story for the first bad
    * MERGE: data files are immutable, so restoring is nothing but
    * re-pointing the bucket map (and every other piece of table state
    * the manifest owns: schema, evolution mappings, zone maps, MoR
    * delta chains, time-partition spec) at version n's manifest
    * entries under a NEW version. Cost is O(manifest), zero data
    * copies; history between n and the pre-restore head stays
    * reconstructible (restore never vacuums), so a mistaken RESTORE
    * is itself restorable.
    *
    * Fences:
    *  - the target manifest must still be on disk ([[TxLog.read]]
    *    names the oldest reconstructible version otherwise);
    *  - restoring ACROSS a retention floor is refused: a later
    *    RETIRE PARTITIONS (`tp_min`) or SCD2 EXPIRE HISTORY
    *    (`expired_before`) made a durable promise that pre-floor data
    *    is gone, and every consumer-side replay fence is built on it
    *    — floors only ever advance, so "target's floor differs from
    *    the current one" is exactly "a floor moved after version n".
    *
    * CHANGE-FEED semantics (the design decision the operation forces):
    * a restore moves row versions BACKWARD, and the feed's consumers
    * merge by `(version DESC, _order DESC)` — compensating events
    * cannot express the move (a restored row's version is older than
    * the delete/update it undoes, so the stale winner would keep
    * winning every downstream merge). Instead, on a table that ever
    * emitted feed batches the restore:
    *  - reserves and publishes one EMPTY feed batch (full staged-
    *    intent/commit/publish protocol, so a crash between commit and
    *    publish repairs exactly like a merge's), which keeps batch
    *    numbering monotone and — because the view's applied id can now
    *    never equal the base's head — makes [[graft.plans.MvRewrite]]'s
    *    per-query freshness fence serve the BASE until the view
    *    re-seeds, with no extra per-query read;
    *  - bumps the table's `feed_epoch`: [[Replicator.sync]] refuses an
    *    epoch it did not initialize under (re-init converges), and
    *    REFRESH MATERIALIZED VIEW re-seeds the view from the restored
    *    base instead of applying pre-restore events.
    * Raw feed reads (SHOW CHANGES, the changelog stream) are
    * unaffected: the feed is an append-only log of PUBLISHED changes
    * and restore rewinds no published batch.
    *
    * Returns the new table version (restoring to the current version
    * is a no-op and returns it unchanged).
    */
  def restore(spark: SparkSession, dir: String, version: Long): Long = {
    TxLog.withOcc(spark, dir) {
      val cur = TxLog.latest(spark, dir).getOrElse(throw new
        IllegalArgumentException(s"no committed manifest under $dir"))
      if (version == cur.version) return cur.version
      require(version >= 0 && version < cur.version,
        s"cannot restore to v$version: the table is at v${cur.version}")
      val target = TxLog.read(spark, dir, version)
      // a REPLACE TABLE re-defined the table (schema/keys/layout may
      // all differ, and its feed fence already told consumers the old
      // lineage ended): restoring BELOW it would splice the old
      // lineage back under the new one's feed numbering. Pre-replace
      // versions stay readable via VERSION AS OF.
      cur.prop("lineage_floor").map(_.toLong).filter(version < _)
        .foreach(fl => throw new IllegalStateException(
          s"restore to v$version refused: REPLACE TABLE re-defined " +
            s"the table at v$fl; pre-replace versions remain " +
            "readable via VERSION AS OF"))
      Seq("tp_min" -> "RETIRE PARTITIONS",
          "expired_before" -> "EXPIRE HISTORY").foreach {
        case (k, opName) =>
          if (cur.prop(k).isDefined && cur.prop(k) != target.prop(k))
            throw new IllegalStateException(
              s"restore to v$version refused: $opName advanced the " +
                s"'$k' retention floor after that version " +
                s"(${target.prop(k).getOrElse("none")} -> " +
                s"${cur.prop(k).get}); restoring across it would " +
                "resurrect data the floor promised was gone")
      }
      TxLog.sweep(spark, dir)
      val txn = new TableTxn(spark, dir, cur)
      // the target's state, under the CURRENT feed counter and
      // replace-lineage floor (both only ever advance; the commit
      // carries them from its base)
      val props = (TableTxn.tableProps(target) - "feed") ++
        // the feed OPT-IN is operational config, not state: keep the
        // current setting rather than silently re-toggling it to what
        // it was at version n
        (if (feedEnabled(cur)) Map("feed" -> "true") else Map.empty) ++
        // the nested-feed-layout marker is forever once set, and so is
        // the mixed-schema-feed marker: batches written under a
        // post-target ALTER remain on disk, so readFeed must keep the
        // per-epoch (listing) route even though the RESTORED schema
        // predates the alter
        (if (cur.prop("tp_evolved").contains("true"))
          Map("tp_evolved" -> "true") else Map.empty) ++
        (if (cur.prop("schema_altered").isDefined)
          Map("schema_altered" ->
            cur.props("schema_altered")) else Map.empty) +
        // EVERY restore bumps the epoch (r14): a restore is a backward
        // state move whatever the table family — Scd2 histories and
        // AggView dashboards have no feed batches, but a replica chain
        // built on them needs the same "the lineage you initialized
        // under ended" fence a merge-table consumer reads. The empty
        // reserved batch stays feed-table-only.
        ("feed_epoch" -> (cur.counter("feed_epoch") + 1L).toString) +
        ("restored_from" -> version.toString)
      // a table that ever emitted (or currently opts into) the feed
      // reserves one empty batch — see the scaladoc's feed semantics;
      // it publishes only after the state it fences is committed
      txn.commit(target.buckets, props, op = "restore",
        feed = txn.feedStarted)
      txn.newVersion
    }
  }

  /** The table's change-feed EPOCH: bumped by [[restore]] whenever the
    * table state moved backward under its feed consumers; 0 for a
    * table never restored. Version-ordered consumers record the epoch
    * they initialized under and refuse (or re-seed) on a mismatch.
    */
  def feedEpoch(spark: SparkSession, dir: String): Long =
    TxLog.latest(spark, dir).map(_.counter("feed_epoch")).getOrElse(0L)

  /** REPLACE TABLE: adopt the fully-built staged table at `stageDir`
    * (its own committed manifest + data generations, written invisibly
    * by the atomic-RTAS staging of [[graft.catalog.GraftCatalog]]) as
    * THIS table's next version, in ONE OCC manifest commit — the
    * atomic `CREATE OR REPLACE ... AS SELECT` the reference's
    * "recreate the export table" admin flow maps to
    * (`/root/reference/app/database.py` drops and re-creates through
    * the ORM; here the swap is a single commit, readers never observe
    * a missing or half-replaced table).
    *
    * Semantics decided here (and spec-pinned):
    *  - **Lineage carries.** The replace is an `op=replace` commit in
    *    the SAME manifest log: pre-replace versions stay readable via
    *    `VERSION AS OF` until a vacuum bounds them. But the replace is
    *    also a lineage BREAK — `lineage_floor` = the replace version is
    *    stamped (and carried by every later commit), and [[restore]]
    *    refuses to cross it: a restore below the floor would splice the
    *    old lineage back under the new one's feed numbering.
    *  - **Table parameters are the NEW DDL's.** Keys, bucket count,
    *    clustering, time partitions and schema all come from the staged
    *    table's manifest; nothing of the old layout leaks through
    *    (retention floors included — the promises they encoded were
    *    about data this replace superseded, and the restore fence
    *    above is what keeps them un-resurrectable).
    *  - **Feed numbering carries; consumers fence.** A replace is the
    *    ultimate backward state move, so (like [[restore]]) it cannot
    *    be expressed as compensating events. On a table that ever
    *    emitted feed batches the replace reserves and publishes one
    *    EMPTY feed batch (numbering stays monotone; MvRewrite's
    *    freshness fence serves the base until views re-seed) and bumps
    *    `feed_epoch` (Replicator refuses until re-init; REFRESH
    *    MATERIALIZED VIEW re-seeds). The replacement rows themselves
    *    never appear as feed events — consumers re-seed from the
    *    replaced state, they do not replay it. The feed OPT-IN is the
    *    new DDL's (`feed` param).
    *
    * Crash atomicity: the staged generations are adopted (renamed)
    * under this table's data root BEFORE the commit — until the
    * manifest CAS lands, the old table is untouched and fully
    * readable; a crash leaves the adopted dirs unreferenced (swept
    * after the orphan grace, same as any install) and the staging dir
    * reclaimed by the next CTAS/REPLACE of the name. A commit-vs-
    * publish crash repairs through the same staged-intent feed
    * protocol a merge's does.
    */
  def replaceWith(spark: SparkSession, dir: String, stageDir: String,
      feed: Boolean): Long = {
    TxLog.withOcc(spark, dir) {
      val cur = TxLog.latest(spark, dir).getOrElse(throw new
        IllegalArgumentException(s"no committed manifest under $dir " +
          "— the table was dropped while the REPLACE staged; re-run " +
          "(it will plan as a CREATE)"))
      require(cur.prop("table_type").forall(_ == "merge"),
        s"$dir is a ${cur.prop("table_type").getOrElse("merge")} " +
          "table; REPLACE applies to merge tables only")
      val staged = TxLog.latest(spark, stageDir).getOrElse(throw new
        IllegalArgumentException(
          s"no staged manifest under $stageDir"))
      TxLog.sweep(spark, dir)
      val fs = TxLog.fs(spark, dir)
      val txn = new TableTxn(spark, dir, cur)
      // reserve the batch BEFORE the adoption below: from there on only
      // a lost CAS is undone, so nothing that can fail may sit between
      // the moves and the commit
      if (txn.feedStarted) txn.reserveFeed()
      // adopt the staged generations under this table's data root:
      // manifest bucket/delta paths are data-relative, so the staged
      // bucket map resolves unchanged once the dirs move. Generation
      // names embed a uuid — a collision is a loud refusal, never a
      // silent overwrite.
      val stagedData = new Path(s"$stageDir/data")
      val adopted: Seq[(Path, Path)] =
        if (!fs.exists(stagedData)) Nil
        else {
          fs.mkdirs(new Path(s"$dir/data"))
          fs.listStatus(stagedData).toSeq.map { st =>
            val dst = new Path(s"$dir/data/${st.getPath.getName}")
            require(!fs.exists(dst),
              s"replace adopt: generation name collision at $dst")
            require(fs.rename(st.getPath, dst),
              s"replace adopt rename failed: ${st.getPath} -> $dst")
            (st.getPath, dst)
          }
        }
      // same grace-clock re-stamp the commit's install performs: the
      // rename preserves the staging-era mtime, which could make the
      // adopted (about-to-be-live) generations sweep-eligible in the
      // adopt-to-commit window
      TxLog.hygiene {
        val now = System.currentTimeMillis()
        adopted.foreach { case (_, dst) => fs.setTimes(dst, now, -1) }
      }
      val props = (TableTxn.tableProps(staged) - "feed") ++
        (if (feed) Map("feed" -> "true") else Map.empty) ++
        // feed batches already on disk carry the OLD schema (and
        // possibly an old tp layout): keep the per-batch-schema feed
        // read route armed, exactly as ALTER and RESTORE do
        (if (cur.counter("next_feed_batch") > 0L ||
            cur.prop("schema_altered").isDefined)
          Map("schema_altered" -> "true") else Map.empty) ++
        (if (cur.prop("tp_evolved").contains("true"))
          Map("tp_evolved" -> "true") else Map.empty) +
        // like restore (r14): EVERY replace bumps the epoch — the
        // universal "your lineage ended" fence — whether or not the
        // table ever emitted feed batches (the reserved empty batch
        // stays feed-table-only)
        ("feed_epoch" -> (cur.counter("feed_epoch") + 1L).toString) +
        ("replaced_from" -> cur.version.toString) +
        ("lineage_floor" -> txn.newVersion.toString)
      try txn.commit(staged.buckets, props, op = "replace",
        feed = txn.feedStarted)
      catch {
        case e: TxLog.CommitConflict =>
          // un-adopt so the OCC retry re-adopts against the new head
          // (and a swept retry never leaves generations no manifest
          // names)
          TxLog.hygiene { adopted.foreach { case (src, dst) =>
            fs.rename(dst, src) } }
          throw e
      }
      TxLog.hygiene {
        TxLog.invalidate(stageDir)
        fs.delete(new Path(stageDir), true)
      }
      txn.newVersion
    }
  }

  /** Drop history versions below `keepFrom` (and, with `feedBefore`,
    * feed batches below it): the retention knob that bounds time-travel
    * storage. Driver-side manifest deletes + a garbage sweep of the
    * data directories they alone referenced.
    */
  def vacuum(spark: SparkSession, dir: String, keepFromVersion: Long,
      feedBefore: Long = 0L): Unit = {
    val fs = TxLog.fs(spark, dir)
    TxLog.vacuum(spark, dir, keepFromVersion)
    val feedRoot = new Path(s"$dir/feed")
    if (feedBefore > 0L && fs.exists(feedRoot)) {
      // same lost-publish fence as maintain's feed retention: never
      // stamp the horizon past a committed-but-unpublished batch
      val lostCap = stagedIntentIds(spark, dir)
        .minOption.getOrElse(Long.MaxValue)
      val doomed = fs.listStatus(feedRoot).map(_.getPath.getName)
        .collect { case s if s.startsWith("batch=") => s.drop(6).toLong }
        .filter(b => b < feedBefore && b < lostCap)
      if (doomed.nonEmpty) {
        // the horizon records BEFORE any delete (see HorizonMarker);
        // every doomed id is below lostCap, so the stamp never crosses
        // a recoverable lost publish
        writeFeedHorizon(fs, dir, doomed.max + 1L)
        doomed.foreach(b =>
          fs.delete(new Path(s"$dir/feed/batch=$b"), true))
      }
    }
  }

  /** The accumulated change data feed: every feed batch ever emitted,
    * in the table's schema plus `_change_type` (insert /
    * update_preimage / update_postimage / delete) and the partition
    * column `batch` identifying which merge produced each row. Reads
    * are partition-pruned by `batch` — a consumer resuming from batch
    * K scans only the new directories.
    */
  /** THE shared daemon pool for driver-side directory listings —
    * reused across calls and across layers (this object's feed /
    * time-partition reads AND the catalog scan's per-bucket listings
    * reference it), so the listing concurrency against one filesystem
    * has a single bound and no per-query thread churn.
    */
  private[graft] lazy val listingPool
      : java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(32,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-listing-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })

  /** One listStatus per directory through the shared pool: object-store
    * listings are latency-bound, and the evolution-aware feed read and
    * time-partitioned layouts need one per dir — sequential round
    * trips would dominate.
    */
  private def listDirs(fs: org.apache.hadoop.fs.FileSystem,
      dirs: Seq[Path]): Seq[(Path, Array[org.apache.hadoop.fs.FileStatus])] =
    if (dirs.lengthCompare(4) <= 0) dirs.map(p => p -> fs.listStatus(p))
    else {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(listingPool)
      scala.concurrent.Await.result(
        scala.concurrent.Future.traverse(dirs)(p =>
          scala.concurrent.Future(p -> fs.listStatus(p))),
        scala.concurrent.duration.Duration.Inf)
    }

  def readFeed(spark: SparkSession, dir: String): DataFrame = {
    val fs = TxLog.fs(spark, dir)
    val m = loadMeta(spark, dir)
    val root = new Path(s"$dir/feed")
    val logicalFeed = org.apache.spark.sql.types.StructType(
      m.schema.fields :+
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType))
    val emptyFeed = {
      val schema = org.apache.spark.sql.types.StructType(
        logicalFeed.fields :+
          org.apache.spark.sql.types.StructField("batch",
            org.apache.spark.sql.types.IntegerType))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    if (!fs.exists(root)) return emptyFeed
    val batchDirs = fs.listStatus(root).toSeq
      .filter(_.getPath.getName.startsWith("batch="))
      .map(_.getPath)
    if (batchDirs.isEmpty) return emptyFeed
    val altered = m.snap.prop("schema_altered").isDefined
    // fast path: a table never touched by ALTER and never
    // time-partitioned reads every batch under the CURRENT logical
    // feed schema in ONE scan (explicit schema: merge-added columns
    // null-extend by name) — no listing, no per-batch footer pass.
    // Merges widen only the manifest's column SET, never names or
    // types, so the `schema_altered` marker is exactly the
    // per-batch-resolution trigger. Time-partitioned tables (current
    // spec, or any layout in the feed's history — a spec EVOLUTION
    // leaves earlier batches flat) take the listing route: nested and
    // flat batches must read as separate groups.
    if (!altered && m.tp.isEmpty && m.snap.prop("tp_evolved").isEmpty) {
      val withBatch = org.apache.spark.sql.types.StructType(
        logicalFeed.fields :+
          org.apache.spark.sql.types.StructField("batch",
            org.apache.spark.sql.types.IntegerType))
      return spark.read.schema(withBatch).parquet(root.toString)
    }
    // LAYOUT- AND EVOLUTION-AWARE read: batches written before an
    // ALTER carry the old column names (rename) and narrow types
    // (widen), and lack added columns — a plain mergeSchema read would
    // null out a renamed column for every old batch and FAIL outright
    // on a widened one (parquet schema merging refuses int-vs-long).
    // Group batch dirs by (schema EPOCH, layout) — the publish
    // marker's fingerprint of the table schema each batch was written
    // under, plus whether the batch nests a `_tp=` level — so the
    // driver does ONE footer inference per epoch (≈ per ALTER), not
    // one per batch. Each group reads under ITS OWN physical schema
    // with the `batch` (and, when nested, `_tp`) partition columns
    // preserved via basePath, then projects onto the CURRENT logical
    // feed schema: renamed columns resolve through their historical
    // spellings, narrow values cast up, added columns null-extend.
    val listed = listDirs(fs, batchDirs)
    val tpChildren: Map[Path, Seq[org.apache.hadoop.fs.FileStatus]] =
      listDirs(fs, listed.flatMap(_._2).collect {
        case st if st.isDirectory &&
          st.getPath.getName.startsWith("_tp=") => st.getPath
      }.toSeq).map { case (p, a) => p -> a.toSeq }.toMap
    def isData(st: org.apache.hadoop.fs.FileStatus): Boolean =
      st.isFile && st.getLen > 0 &&
        !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_")
    // a zero-effect merge publishes an empty batch dir: no data files,
    // no rows — skip (its id stays visible via the committed counter)
    val withData = listed.flatMap { case (p, sts) =>
      val nested = sts.exists(st => st.isDirectory &&
        st.getPath.getName.startsWith("_tp="))
      val hasRows =
        if (nested) sts.exists(st => st.isDirectory &&
          tpChildren.getOrElse(st.getPath, Nil).exists(isData))
        else sts.exists(isData)
      if (hasRows) Some((p, sts, nested)) else None
    }
    val epochs = withData.groupBy { case (p, sts, nested) =>
      // a pre-marker (legacy) batch keeps its own footer pass
      (sts.iterator.map(_.getPath.getName)
        .collectFirst { case TableTxn.PubMarker(_, h, _) => h }
        .getOrElse(s"legacy:$p"), nested)
    }
    val bySig = epochs.toSeq.map { case ((_, nested), group) =>
      // single-root inference surfaces the partition level as a
      // column; strip it — it is re-declared explicitly per group
      val inferred = spark.read.parquet(group.head._1.toString).schema
      val phys = org.apache.spark.sql.types.StructType(
        inferred.fields.filterNot(f =>
          f.name == "_tp" || f.name == "batch"))
      (phys, nested) -> group.map(_._1.toString)
    }.groupBy(_._1).view.mapValues(_.flatMap(_._2)).toMap
    if (bySig.isEmpty) return emptyFeed
    val events = renameEvents(m.snap.props)
    def spellings(logical: String): Seq[String] =
      historicalSpellings(events, logical)
    bySig.toSeq.map { case ((phys, nested), dirs) =>
      val partFields =
        Seq(org.apache.spark.sql.types.StructField("batch",
          org.apache.spark.sql.types.IntegerType)) ++
        (if (nested) Seq(org.apache.spark.sql.types.StructField("_tp",
          org.apache.spark.sql.types.IntegerType)) else Nil)
      val withParts = org.apache.spark.sql.types.StructType(
        phys.fields ++ partFields)
      val raw = spark.read
        .option("basePath", root.toString)
        .schema(withParts)
        .parquet(dirs: _*)
      val cols = logicalFeed.fields.toSeq.map { f =>
        spellings(f.name)
          .flatMap(sp => phys.fields.find(_.name.equalsIgnoreCase(sp)))
          .headOption match {
          case Some(pf) => col(pf.name).cast(f.dataType).as(f.name)
          case None => lit(null).cast(f.dataType).as(f.name)
        }
      } :+ col("batch")
      raw.select(cols: _*)
    }.reduce(_ unionByName _)
  }

  /** Reinterpret a change-feed slice as a changelog a REPLICA table can
    * merge — the CDC replication chain (source merge → feed → replica
    * merge) closed over this engine's own operators. Postimages and
    * inserts pass through as upserts; `delete` preimages become
    * tombstones carrying the DELETED row's version, which still wins
    * because a change beats the stored row at EQUAL version (the
    * ON-CONFLICT tie-break doubles as the replication delete rule).
    * `update_preimage` rows drop — the postimage carries the new state.
    * Apply each feed batch in order; the replica then equals the
    * source after every batch (ReplicationSpec).
    */
  def feedAsChangelog(feed: DataFrame, deleteCol: String): DataFrame =
    feed.filter(col("_change_type") =!= "update_preimage")
      .withColumn(deleteCol, col("_change_type") === "delete")
      // feed order rides along as the sanctioned `_order` tiebreak:
      // when several batches merge in ONE pass, same-version events
      // for a key (a v2 delete and the insert it supersedes) resolve
      // by publish order instead of arbitrarily
      .withColumn("_order", col("batch").cast("long"))
      .drop("_change_type", "batch")

  /** The path-pruned slice of the snapshot a merge of `touched`
    * buckets reads — factored out so CompactionSpec can assert the
    * scan opens exactly the touched buckets' files and nothing else.
    */
  private[graft] def prunedSnapshot(spark: SparkSession, dir: String,
      touched: Seq[Int]): DataFrame =
    prunedSnapshot(spark, dir, touched, loadMeta(spark, dir))

  private def prunedSnapshot(spark: SparkSession, dir: String,
      touched: Seq[Int], m: Meta): DataFrame =
    // fold-aware: a copy-on-write merge over a bucket carrying deltas
    // reconciles them into its pre-state (and the commit then DROPS
    // the folded delta entries — the merge doubles as a compaction of
    // the buckets it touches)
    liveView(spark, dir, m, touched.toSet)

  /** Apply one change batch to the table at `dir` (see object doc).
    * Changelog rows must carry the table's key/version/delete columns
    * and the same data schema; the highest version per key wins, a
    * change beats the stored row at equal version, and a winning
    * tombstone removes the key.
    *
    * With `emitFeed = true` the merge also materializes a CHANGE DATA
    * FEED batch under `<dir>/feed/batch=N`: one row per row-level
    * effect the merge had on the table, in the table's schema plus a
    * `_change_type` discriminator — `insert` (postimage of a new key),
    * `update_preimage`/`update_postimage` (the replaced row and its
    * replacement), `delete` (preimage of a removed key). Changelog
    * rows that LOSE the version race, and tombstones for absent keys,
    * produce no feed rows — the feed describes the table delta, not
    * the input. This is the downstream-facing half of CDC: the
    * reference EXPORTS per-row operation tags computed from
    * timestamps (`/root/reference/app/services/export.py` delta
    * classifier); a maintained table at scale derives them from what
    * the merge actually did, so consumers can subscribe to `feed/`
    * instead of diffing 100 TB snapshots.
    *
    * Crash safety: every expensive write lands in `.staging` or an
    * uncommitted generation directory; the commit point is the single
    * manifest rename. A crash before it leaves the table (and its
    * metadata) byte-identical; a crash after it leaves a committed
    * merge plus garbage that the next merge sweeps. The one residual
    * window is the feed PUBLISH (a rename immediately after commit):
    * a crash exactly in between loses that feed batch while the table
    * keeps the merge — the at-least-once retry then re-derives a
    * zero-effect delta under the next batch id rather than a
    * duplicate real one.
    */
  def merge(spark: SparkSession, dir: String, changelog: DataFrame,
      emitFeed: Boolean = false, retainHistory: Boolean = false,
      mergeOnRead: Boolean = false,
      expectedBase: Option[Long] = None): MergeStats = {
    // `_order` is the sanctioned intra-version ordering channel: when
    // a changelog carries it (feedAsChangelog stamps the feed batch
    // id), rows tying on (key, version) resolve by _order DESC
    // instead of arbitrarily — a delete event and the same-version
    // insert it supersedes, merged in ONE catch-up pass, land in feed
    // order. The column rides INTO the merge's own ranking window
    // (no extra shuffle on the catch-up path) and is dropped before
    // anything is stored.
    val dataCols = changelog.columns.toSeq
      .filterNot(c => c == "bucket" || c == "_order")
    requireNoReserved(dataCols, "changelog schema")
    // the fences run before the changelog is materialized too: when the
    // table already advanced past the caller's snapshot, that
    // snapshot's files may have been vacuumed — reading them would fail
    // with FILE_NOT_EXIST instead of the actionable StaleBase
    TableTxn.merge(spark, dir, changelog,
      () => mergeBase(spark, dir, dataCols, expectedBase),
      ifEmpty = Some(MergeStats(Nil, Nil, 0L))) {
      (snap, txn, changes, touched) =>
        mergeOnce(spark, dir, metaOf(snap), txn, changes, dataCols,
          touched, emitFeed, retainHistory, mergeOnRead)
    }
  }

  /** The latest manifest, fenced for a merge of `dataCols`. */
  private def mergeBase(spark: SparkSession, dir: String,
      dataCols: Seq[String], expectedBase: Option[Long]): TxLog.Snapshot = {
    val snap = latestSnap(spark, dir)
    // read-modify-write fence: a caller whose changelog was DERIVED
    // from a specific snapshot (SQL UPDATE/DELETE re-emitting current
    // rows at their stored version) pins that version here; if the
    // table advanced, committing the stale pre-images would silently
    // overwrite the concurrent writer (lost update). StaleBase is
    // non-retryable by withOcc on purpose — only the CALLER can
    // rebuild the changelog against the new snapshot.
    expectedBase.filter(_ != snap.version).foreach { want =>
      throw new TxLog.StaleBase(
        s"changelog derived at v$want but table is at v${snap.version}")
    }
    // merge-time evolution fence: a changelog column whose name was
    // DROPPED or is a pre-rename spelling would silently resurrect
    // bytes still present in un-rewritten files under a new meaning
    val fencedNames = snap.prop("dead_cols")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
      .map(_.toLowerCase).toSet ++
      renameEvents(snap.props).map(_._2.toLowerCase)
    val nameClash = dataCols.map(_.toLowerCase).toSet
      .intersect(fencedNames)
    require(nameClash.isEmpty,
      s"changelog columns (${nameClash.mkString(", ")}) reuse dropped/" +
        "pre-rename column names whose data may still exist in " +
        "un-rewritten files; rename the changelog column")
    snap
  }

  private def mergeOnce(spark: SparkSession, dir: String, m: Meta,
      txn: TableTxn, changes: DataFrame, dataCols: Seq[String],
      touched: Seq[Int], emitFeed: Boolean, retainHistory: Boolean,
      mergeOnRead: Boolean): MergeStats = {
    val versionCol = m.versionCol
    // a table that opted into the change feed emits on EVERY merge —
    // the caller flag remains for per-call opt-in on plain tables
    val emitFeedEff = emitFeed || feedEnabled(m.snap)
    val hasOrder = changes.columns.contains("_order")
    if (mergeOnRead) {
      // the MoR path stages the changelog verbatim as delta files, so
      // an _order-carrying batch reduces to one winner per key FIRST
      // (the fold's (version, _seq) order cannot see intra-batch
      // publish order); the CoW path below threads _order through its
      // own ranking window instead — no extra shuffle there. The
      // reduce is persisted: a feed-enabled MoR merge consumes it
      // twice (classification + delta write) and must not pay the
      // window shuffle per consumer.
      if (!hasOrder)
        return morMerge(spark, dir, m, txn, changes, dataCols, touched,
          emitFeedEff, retainHistory)
      val w = Window.partitionBy(m.keyCols: _*)
        .orderBy(col(m.versionCol).desc, col("_order").desc_nulls_last)
      val reduced = changes.withColumn("_ord_rn", row_number().over(w))
        .filter(col("_ord_rn") === 1).drop("_ord_rn", "_order")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try return morMerge(spark, dir, m, txn, reduced, dataCols,
        touched, emitFeedEff, retainHistory)
      finally reduced.unpersist()
    }

    // stored rows never carry tombstones (init/merge drop them), so
    // rank snapshot rows as source=0 vs changelog source=1: on a
    // version tie the change wins — INSERT .. ON CONFLICT DO UPDATE.
    // allowMissingColumns = schema evolution both ways: a changelog
    // that ADDS a column null-fills stored rows (and widens the
    // manifest schema below, so untouched buckets' narrower files read
    // back null-extended); a changelog missing a stored column
    // null-fills its own rows.
    val snapshot = prunedSnapshot(spark, dir, touched, m)
      .withColumn("_src", lit(0))
    val changeCols = (col("bucket") +: dataCols.map(col)) ++
      (if (hasOrder) Seq(col("_order")) else Nil)
    val unioned = snapshot.unionByName(
      changes.select(changeCols: _*)
        .withColumn("_src", lit(1)),
      allowMissingColumns = true) // snapshot rows null-fill _order
    val order = Seq(col(versionCol).desc, col("_src").desc) ++
      (if (hasOrder) Seq(col("_order").desc_nulls_last) else Nil)
    // ONE data exchange for the whole merge (r16, guide §2.4): the
    // union is hash-distributed by bucket up front, and the ranking
    // window partitions by (bucket, keys) — bucket is a pure function
    // of the key tuple, so the per-key groups (and every _rn) are
    // identical, but ClusteredDistribution(bucket ++ keys) is already
    // satisfied by the bucket exchange and the window adds no shuffle
    // of its own. Both staged writes downstream (winners AND feed)
    // then ride this same distribution instead of paying their own
    // repartition(bucket): 3 full-data exchanges -> 1 on a
    // feed-emitting merge, 2 -> 1 otherwise. Critical-path
    // parallelism is unchanged: the staged write was always one task
    // per bucket, so the commit was already nBuckets-wide — the
    // window sort now runs at that same width instead of paying a
    // second shuffle to get there.
    val w = Window.partitionBy((col("bucket") +: m.keyCols): _*)
      .orderBy(order: _*)
    val ranked0 = unioned.repartition(col("bucket"))
      .withColumn("_rn", row_number().over(w))
    // with a feed to emit, the union+shuffle+window feeds TWO outputs
    // (feed classification and table winners) — cache it so the
    // snapshot slice is scanned and ranked once, not per output
    val ranked = if (emitFeedEff)
      ranked0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else ranked0
    try mergeTail(spark, dir, m, txn, ranked, unioned, touched,
      emitFeedEff, retainHistory)
    finally { if (emitFeedEff) ranked.unpersist() }
  }

  /** Classify the table effect of a merge (insert / update_preimage /
    * update_postimage / delete per affected key) and stage it as
    * parquet under `<staging>/feed`; returns the staged row count
    * (footer metadata). Shared verbatim by the copy-on-write and
    * merge-on-read paths — both rank changes against the RECONCILED
    * pre-state, so the feed describes the table delta either way.
    *
    * Per-key preimage = the (unique) stored row, surfaced to the
    * winning changelog row via key-partitioned window aggregates —
    * the SAME hash partitioning as the ranking window, so the feed
    * rides the existing shuffle instead of adding one. The feed is
    * derived from `ranked` (not recomputed) so a pathological
    * changelog with duplicate (key, version) rows can never make
    * the feed disagree with what the table actually stored.
    */
  private def stageFeed(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, staging: String,
      ranked: DataFrame, unioned: DataFrame,
      keys: Seq[String], deleteCol: String, versionCol: String,
      tp: Option[(String, String)]): Long = {
    val allCols = unioned.columns.toSeq
      .filterNot(c => c == "bucket" || c == "_src" || c == "_order")
    val rowStruct = struct(allCols.map(col): _*)
    // a DELETE event's payload is the last-known (pre-image) values,
    // but its VERSION is the tombstone's own: the delete happened AT
    // that version. Carrying the pre-image's version instead would
    // tie a delete against the insert it supersedes when a consumer
    // merges several feed batches in one pass (readStream.table
    // drains, Replicator catch-up), and the tie would resolve
    // arbitrarily — a replica could resurrect a deleted key.
    val delPayload = struct(allCols.map { c =>
      if (c.equalsIgnoreCase(versionCol)) col(c).as(c)
      else col("_pre").getField(c).as(c)
    }: _*)
    // (bucket, keys) — the same grouping as plain keys (bucket is a
    // function of the key tuple) but satisfied by the merge's single
    // bucket exchange, so the pre-image aggregates ride the cached
    // ranked frame with no shuffle AND no re-sort (r16)
    val wKey = Window.partitionBy((col("bucket") +: keys.map(col)): _*)
    val classified = ranked
      .withColumn("_had_stored",
        max(when(col("_src") === 0, 1).otherwise(0)).over(wKey))
      .withColumn("_pre",
        first(when(col("_src") === 0, rowStruct), ignoreNulls = true)
          .over(wKey))
      .filter(col("_rn") === 1 && col("_src") === 1)
      // a tombstone for a key the table never held: no table effect
      .filter(!(isDeleted(deleteCol) && col("_had_stored") === 0))
      .select(col("bucket"), explode(
        when(isDeleted(deleteCol),
          array(struct(lit("delete").as("change_type"),
            delPayload.as("payload"))))
        .when(col("_had_stored") === 1,
          array(
            struct(lit("update_preimage").as("change_type"),
              col("_pre").as("payload")),
            struct(lit("update_postimage").as("change_type"),
              rowStruct.as("payload"))))
        .otherwise(array(struct(lit("insert").as("change_type"),
          rowStruct.as("payload"))))).as("_f"))
      .select(col("_f.payload.*"),
        col("_f.change_type").as("_change_type"), col("bucket"))
    // ONE action: write straight from the cached `ranked` (no
    // separate count pass — the old persist+count materialized the
    // classification twice); feedRows reads back from the staged
    // files' footers, metadata only. TIME-PARTITIONED tables stage
    // feed events under one `_tp=` level too (r10 item 7): a
    // time-bounded consumer (replicate the last 30 days) skips whole
    // out-of-range partition dirs inside every batch by NAME.
    // `ranked` arrives hash-distributed by bucket (both callers
    // repartition the union once, before the ranking window), so the
    // old repartition(bucket) here re-shuffled already-placed rows —
    // dropped (r16): same ≤ nBuckets non-empty output files, one
    // exchange fewer per feed-emitting merge.
    val placed = classified.drop("bucket")
    tp match {
      case None =>
        placed.write.mode("overwrite").parquet(s"$staging/feed")
      case Some((u, c)) =>
        placed.withColumn("_tp", tpColumnChecked(u, c))
          .write.partitionBy("_tp").mode("overwrite")
          .parquet(s"$staging/feed")
    }
    val feedPath = new Path(s"$staging/feed")
    val parts = listTpLeaves(fs, Seq(feedPath)).flatMap(_._2)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-") &&
        st.getLen > 0)
    // a zero-effect merge stages no part files — the batch still
    // publishes, as before. The staged row count comes from the part
    // files' parquet footers on the driver (r15: the old
    // spark.read.count() here launched one extra Spark job per
    // feed-emitting merge only to re-read files this writer just
    // produced; the footer sum is the same number, metadata-only).
    if (parts.isEmpty) 0L
    else {
      // footers read on a small pool, not serially — at scale a wide
      // feed stages buckets × _tp leaves part files and a serial
      // driver loop of remote opens would cost more than the Spark
      // job it replaced (same pattern as driverFooterStats)
      val conf = spark.sessionState.newHadoopConf()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, parts.size))
      try parts.map { st =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(st.getPath, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }
        })
      }.map(_.get()).sum
      finally pool.shutdown()
    }
  }

  /** The `-tp<unit>` suffix of a batch dir's publish marker, if any —
    * one name scan, no file opens.
    */
  private[graft] def batchTpUnit(
      names: Iterable[String]): Option[String] =
    names.collectFirst {
      case TableTxn.PubMarker(_, _, sfx) if sfx != null =>
        sfx.stripPrefix("-tp")
    }

  /** Zero-byte retention-horizon marker `feed/_horizon-<n>`: every
    * batch id below `n` was (or was about to be) released by
    * [[maintain]]/[[vacuum]]. Written BEFORE any deletion, so a crash
    * between the two leaves the horizon conservative (dirs still
    * present), never a consumer silently skipping an unrecorded
    * deletion (r9 advice — dir-mtime expiry was both undurable and
    * unfenced). A marker file instead of a manifest property on
    * purpose: retention must not bump the table version (time travel
    * and version arithmetic stay untouched), and consumers only
    * consult it at stream start and on failure paths — never per
    * trigger.
    */
  private[graft] val HorizonMarker = "^_horizon-([0-9]+)$".r

  /** (recorded retention horizon or 0, oldest surviving batch dir):
    * ONE listing of `feed/`, taken at stream start / failure paths
    * only — THE feed-floor scan every consumer-side retention fence
    * shares (the streaming source, the Replicator, REFRESH
    * MATERIALIZED VIEW).
    */
  private[graft] def feedFloor(spark: SparkSession,
      dir: String): (Long, Option[Long]) = {
    val fs = TxLog.fs(spark, dir)
    val root = new Path(s"$dir/feed")
    if (!fs.exists(root)) (0L, None)
    else {
      val names = fs.listStatus(root).map(_.getPath.getName)
      (names.collect { case HorizonMarker(h) => h.toLong }
        .foldLeft(0L)(math.max),
        names.collect { case s if s.startsWith("batch=") =>
          s.drop(6).toLong }.minOption)
    }
  }

  /** The recorded retention horizon (0 when retention never ran). */
  private[graft] def feedHorizon(spark: SparkSession, dir: String): Long =
    feedFloor(spark, dir)._1

  /** Batch ids whose ONLY copy still sits in a crashed writer's staging
    * (`_batch-<n>` intent marker present, `feed/batch=<n>` absent):
    * committed but unpublished, recoverable via [[repairFeed]]. Feed
    * retention must never stamp its horizon past one — the horizon
    * would reclassify the lost batch as "released by retention" and
    * consumers would skip its changes forever (r10 advice). O(live
    * stagings) listings — a handful at most.
    */
  private[cdc] def stagedIntentIds(spark: SparkSession,
      dir: String): Set[Long] = {
    val fs = TxLog.fs(spark, dir)
    val root = new Path(dir)
    if (!fs.exists(root)) return Set.empty
    fs.listStatus(root).toSeq
      .filter(_.getPath.getName.startsWith(".staging-"))
      .flatMap { st =>
        val feed = new Path(st.getPath, "feed")
        try fs.listStatus(feed).iterator.map(_.getPath.getName)
          .collectFirst { case TableTxn.IntentMarker(b) => b.toLong }
        catch { case _: java.io.FileNotFoundException => None }
      }
      .filterNot(n => fs.exists(new Path(s"$dir/feed/batch=$n")))
      .toSet
  }

  private def writeFeedHorizon(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, horizon: Long): Unit = {
    fs.create(new Path(s"$dir/feed/_horizon-$horizon"), true).close()
    // superseded markers are redundant once the higher one is durable
    TxLog.hygiene {
      fs.listStatus(new Path(s"$dir/feed")).foreach { st =>
        st.getPath.getName match {
          case HorizonMarker(h) if h.toLong < horizon =>
            fs.delete(st.getPath, false)
          case _ => ()
        }
      }
    }
  }

  /** Finish a crashed writer's feed publish: a writer that died between
    * its commit and the feed publish left the ONLY copy of that batch's
    * change events in `.staging-<txn>/feed` — the pre-r10 sweep deleted
    * it, turning the crash into a permanent feed gap. The staging's
    * `_batch-<n>` intent marker must match a committed manifest's
    * (`feed_txn`, `feed_batch`) pair: a staging whose commit never
    * landed (a crashed CAS loser) is NOT republished — publishing
    * uncommitted events would be worse than the gap, which consumers
    * refuse loudly. Returns true when a publish was completed.
    */
  private[cdc] def republishStagedFeed(spark: SparkSession, dir: String,
      txnId: String): Boolean = {
    val fs = TxLog.fs(spark, dir)
    val feedDir = new Path(s"$dir/.staging-$txnId/feed")
    if (!fs.exists(feedDir)) return false
    val n = fs.listStatus(feedDir).iterator.map(_.getPath.getName)
      .collectFirst { case TableTxn.IntentMarker(b) => b.toLong }
      .getOrElse(return false)
    if (fs.exists(new Path(s"$dir/feed/batch=$n")))
      return false // published — by our earlier attempt or the CAS winner
    TxLog.versionsOnDisk(spark, dir).reverse.iterator
      .flatMap(v => scala.util.Try(TxLog.read(spark, dir, v)).toOption)
      .find(s => s.prop("feed_txn").contains(txnId) &&
        s.prop("feed_batch").contains(n.toString)) match {
      case None => false // commit never landed (or manifest vacuumed)
      case Some(snap) =>
        TableTxn.publishFeed(fs, s"$dir/.staging-$txnId", dir, n,
          snap.version, snap.props)
        true
    }
  }

  /** Scan for crashed writers' committed-but-unpublished feed batches
    * and finish their publishes immediately (the sweep does the same,
    * but only after the orphan grace). Returns the number republished.
    * This is the remediation the consumer-side lost-publish fences
    * name.
    */
  def repairFeed(spark: SparkSession, dir: String): Int = {
    val fs = TxLog.fs(spark, dir)
    val root = new Path(dir)
    if (!fs.exists(root)) return 0
    fs.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith(".staging-") =>
        n.stripPrefix(".staging-") }
      .count(republishStagedFeed(spark, dir, _))
  }

  /** Everything from winner selection to commit — split out so the
    * feed cache above it unpersists on EVERY exit (a lost commit CAS
    * included; the OCC retry builds a fresh plan and cache).
    */
  private def mergeTail(spark: SparkSession, dir: String, m: Meta,
      txn: TableTxn, ranked: DataFrame, unioned: DataFrame,
      touched: Seq[Int],
      emitFeed: Boolean, retainHistory: Boolean): MergeStats = {
    val (keys, versionCol, deleteCol, nBuckets) =
      (m.keys, m.versionCol, m.deleteCol, m.nBuckets)
    val fs = TxLog.fs(spark, dir)
    val staging = txn.staging
    // winners has exactly ONE action (the staged write): no persist —
    // row counts come from the staged files' footers afterwards, so
    // the old count-then-write double pass (and its cache) is gone
    val winners = ranked
      .filter(col("_rn") === 1 && !isDeleted(deleteCol))
      .drop("_rn", "_src", "_order") // ordering channel never stores

    val feedRows: Long = if (!emitFeed) 0L
      else prof("merge.stageFeed") {
        stageFeed(spark, fs, staging, ranked, unioned, keys, deleteCol,
          versionCol, m.tp)
      }

    // stage the new bucket contents while every pre-image directory is
    // still live (they stay live until a LATER merge's sweep — commit
    // never deletes): the write job reads the real committed files, so
    // losing cache blocks mid-write merely recomputes. `winners` is
    // already hash-distributed by bucket (the merge's ONE exchange,
    // established before the ranking window) — no repartition here
    val staged = prof("merge.stageWinners") {
      txn.stage(winners, m.keys, m.clusterBy, m.tp)
    }
    // a touched bucket with zero surviving keys staged no partition:
    // it leaves the manifest's bucket map and its old directory is
    // swept once unreferenced
    val emptied = touched.filterNot(staged.toSet)

    val newBuckets = (m.buckets -- touched) ++
      staged.map(b => b -> txn.bucketRel(b))

    // widen the manifest schema when the changelog introduced columns,
    // so future reads project them
    val schemaJson = widenedSchemaJson(winners, m.schema)

    // stats ride the commit: untouched buckets carry their recorded
    // counts AND max-version zone maps forward, touched buckets take
    // the staged generation's footer stats, emptied buckets drop —
    // countRows stays exact and readChangedSince prunes correctly
    // across every merge without ever scanning
    // delta props carry for UNTOUCHED buckets only: a copy-on-write
    // merge folds a touched bucket's deltas into its new base, so the
    // commit drops them (and the sweep reclaims the directories)
    val carriedRows = carriedStats(m.snap.props, touched.toSet)
    val newStats = prof("merge.stagedStats") {
      stagedStats(spark, staging, staged, versionCol, m.clusterBy,
        ndvPOf(m.snap))
    }
    // skew probe (r16, guide §2.5): the merge's window+sort+write all
    // run one-task-per-bucket now, so per-bucket row counts ARE the
    // stage's partition-size distribution — max/median from the stats
    // already in hand (no extra I/O). A sustained ratio >5-10 on a
    // production keyspace is the signal to salt the reconciliation.
    if (profEnabled && newStats.nonEmpty) {
      val rows = newStats.values.map(_.rows).toSeq.sorted
      val med = rows(rows.size / 2).max(1L)
      println(f"GRAFTPROF merge.bucketSkew max=${rows.last} " +
        f"median=$med ratio=${rows.last.toDouble / med}%.2f " +
        f"buckets=${rows.size}")
    }
    // rowsWritten = the staged footer counts — the pass the old
    // pre-write winners.count() made is folded into the stats read
    val rows = newStats.values.map(_.rows).sum
    val props = coreProps(keys, versionCol, deleteCol, nBuckets, schemaJson,
      m.clusterBy) ++ evolutionProps(m.snap) ++
      carriedRows ++ rowProps(newStats)

    // THE commit: one manifest rename publishes data + schema + fence
    // (on a lost CAS the txn reclaims its install and the OCC loop
    // recomputes against the winner's snapshot), then the feed batch
    // (see TableTxn.commit for the publish-failure contract).
    // Retention: a non-retaining merge keeps only the new version —
    // older manifests go, and the sweep reclaims every directory they
    // alone referenced (the touched buckets' pre-images).
    prof("merge.commit") {
      txn.commit(newBuckets, props, op = "merge", vacuum = !retainHistory,
        feed = emitFeed)
    }

    MergeStats(touched, emptied, rows, feedRows)
  }

  /** Driver-side typed max of two stringified stats, compared through
    * the same Catalyst cast-from-string the zone-map prune uses (so
    * timestamps and decimals order correctly, never lexically). A
    * comparison that cannot be evaluated yields None — the stat is
    * dropped and the bucket is conservatively read.
    */
  private[cdc] def typedMax(a: String, b: String,
      dt: org.apache.spark.sql.types.DataType): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, GreaterThanOrEqual, Literal}
    import org.apache.spark.sql.types.StringType
    val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    val la = Cast(Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(a), StringType),
      dt, tz)
    val lb = Cast(Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(b), StringType),
      dt, tz)
    GreaterThanOrEqual(la, lb).eval() match {
      case x: java.lang.Boolean => Some(if (x) a else b)
      case _ => None
    }
  }

  /** The merge-on-read write path: stage the changelog rows THEMSELVES
    * (tagged with the committing version in the internal `_seq`
    * column) as per-bucket DELTA files and commit a manifest in which
    * every base entry — and every previously-committed delta — stays
    * verbatim. Write amplification is O(|changes|) bytes regardless of
    * how scattered the batch is: a 0.1% update spread across all 4096
    * buckets of a 100 TB table writes ~0.1% of the data instead of
    * rewriting every touched bucket (the copy-on-write worst case the
    * round-5 verdict named as the last scale-killer). With
    * `emitFeed = false` the base buckets are never even READ. Readers
    * fold deltas in ([[foldBuckets]]); [[compact]] folds them into the
    * base and restores the zero-reconciliation read path. Zone maps
    * stay live: the committed `dmaxv.<b>` is the typed max of the
    * bucket's delta footers across merges, so incremental consumers
    * keep pruning.
    */
  private def morMerge(spark: SparkSession, dir: String, m: Meta,
      txn: TableTxn, changes: DataFrame, dataCols: Seq[String],
      touched: Seq[Int],
      emitFeed: Boolean, retainHistory: Boolean): MergeStats = {
    // THE delta write — the only data-sized cost of the merge
    val (deltaProps, deltaRows) = txn.appendDeltas(m, changes, dataCols)

    // optional feed: rank the changelog against the RECONCILED
    // pre-state of the touched buckets — reads those buckets (the
    // classification needs preimages) but still WRITES only the delta
    val feedRows: Long = if (!emitFeed) 0L else {
      val snapshot = prunedSnapshot(spark, dir, touched, m)
        .withColumn("_src", lit(0))
      val unioned = snapshot.unionByName(
        changes.select(col("bucket") +: dataCols.map(col): _*)
          .withColumn("_src", lit(1)),
        allowMissingColumns = true)
      // same one-exchange shape as the CoW merge (r16): distribute by
      // bucket once, window over (bucket, keys) — stageFeed's write
      // then rides this distribution with no shuffle of its own
      val w = Window.partitionBy((col("bucket") +: m.keyCols): _*)
        .orderBy(col(m.versionCol).desc, col("_src").desc)
      val ranked = unioned.repartition(col("bucket"))
        .withColumn("_rn", row_number().over(w))
      stageFeed(spark, TxLog.fs(spark, dir), txn.staging, ranked, unioned,
        m.keys, m.deleteCol, m.versionCol, m.tp)
    }

    // a changelog that ADDS columns widens the manifest schema (base
    // and older delta files null-extend under the explicit read
    // schema, exactly like untouched buckets after a CoW evolution)
    val newCols = changes.drop("bucket").schema.fields
      .filterNot(f => m.schema.fieldNames.contains(f.name))
    val schemaJson = if (newCols.isEmpty) m.schema.json
      else org.apache.spark.sql.types.StructType(
        (m.schema.fields ++ newCols).map(_.copy(nullable = true))).json
    val props = coreProps(m.keys, m.versionCol, m.deleteCol, m.nBuckets,
      schemaJson, m.clusterBy) ++ evolutionProps(m.snap) ++ deltaProps

    // the base bucket map is UNCHANGED — that is the whole point
    txn.commit(m.buckets, props, op = "merge-mor", vacuum = !retainHistory,
      feed = emitFeed)
    MergeStats(touched, Nil, deltaRows, feedRows)
  }

  /** Fold every dirty bucket's deltas into a fresh base generation and
    * commit — the lazy compaction that pays merge-on-read's deferred
    * write cost ONCE, on the operator's schedule (off-peak, or when a
    * bucket's delta chain grows past a read-amplification budget; see
    * [[deltaStats]]), instead of on every merge. Untouched (clean)
    * buckets keep their directories verbatim; the committed manifest
    * drops the folded delta entries, restoring the zero-reconciliation
    * read path and full manifest-only counts. Concurrent writers race
    * the same manifest CAS as merges do.
    */
  def compact(spark: SparkSession, dir: String,
      retainHistory: Boolean = false): Unit =
    compact(spark, dir, minDeltas = 1, retainHistory)

  /** Partial compaction: fold only buckets whose delta CHAIN has
    * reached `minDeltas` dirs — the incremental form an operator runs
    * on a cadence (e.g. `minDeltas = 8` keeps worst-case read
    * amplification at 8 extra files per bucket while never rewriting
    * a bucket that has absorbed only one small delta). Buckets below
    * the threshold keep their deltas verbatim; repeated calls
    * converge the same way single-bucket CoW merges do.
    */
  def compact(spark: SparkSession, dir: String, minDeltas: Int,
      retainHistory: Boolean): Unit =
    compactSelected(spark, dir, deltas => deltas.collect {
      case (b, rels) if rels.size >= minDeltas => b
    }.toSet, retainHistory)

  /** Fold exactly `ids` (intersected with the currently-dirty set) —
    * the targeted form partition retention uses to keep retention on a
    * merge-on-read table O(affected buckets): only the buckets whose
    * chains hold doomed partitions pay the fold; every other delta
    * chain stays byte-identical.
    */
  def compactBuckets(spark: SparkSession, dir: String, ids: Set[Int],
      retainHistory: Boolean = false): Unit =
    compactSelected(spark, dir, deltas => ids.intersect(deltas.keySet),
      retainHistory)

  private def compactSelected(spark: SparkSession, dir: String,
      select: Map[Int, Seq[String]] => Set[Int],
      retainHistory: Boolean): Unit =
    TableTxn.rewrite(spark, dir, "compact", retainHistory) {
      val m = loadMeta(spark, dir)
      val dirty = select(m.deltas)
      // bucketed fold: the fold window itself establishes the bucket
      // distribution the staged write needs — no second exchange (r16)
      Option.when(dirty.nonEmpty)(TableTxn.Rewrite(m.snap,
        m.buckets -- dirty, foldBuckets(spark, dir, m, dirty, bucketed = true),
        (txn, staged) =>
          coreProps(m.keys, m.versionCol, m.deleteCol, m.nBuckets,
            m.schema.json, m.clusterBy) ++ evolutionProps(m.snap) ++
          // base stats carry for untouched buckets; delta props carry
          // for dirty-but-below-threshold buckets (their chains stay live)
          carriedStats(m.snap.props, dirty) ++
          rowProps(stagedStats(spark, txn.staging, staged, m.versionCol,
            m.clusterBy, ndvPOf(m.snap))),
        m.clusterBy, m.tp))
    }

  /** Per-bucket stats for a set of COMMITTED clean buckets, computed
    * from the table's live files — the committed-dirs twin of
    * [[stagedStats]] (r15 stats backfill): the same driver-side footer
    * fast path over explicit (bucket, dir) roots, the same Spark
    * aggregate fallback over [[readBuckets]] (rename-aware, retention
    * floor applied) with `_tp` recovered from each file's leaf dir.
    */
  private def committedBucketStats(spark: SparkSession, dir: String,
      m: Meta, ids: Seq[Int], ndvP: Int): Map[Int, BucketStats] = {
    if (ids.isEmpty) return Map.empty
    val rels = ids.map(b => b -> m.buckets(b))
    lazy val df = {
      val base = readBuckets(spark, dir, m, rels.map(_._2))
      if (m.tp.isDefined)
        base.withColumn("_tp",
          regexp_extract(input_file_name(), "/_tp=(\\d+)/", 1)
            .cast("int"))
      else base
    }
    val base = driverFooterStats(spark,
      rels.map { case (b, rel) => b -> new Path(s"$dir/data/$rel") },
      m.versionCol, m.clusterBy, tpFloor = m.tpMin)
      .getOrElse(sparkStatsOf(spark, df, m.versionCol, m.clusterBy))
    addClusterNdv(spark, df, base, m.clusterBy, ndvP)
  }

  /** Which clean buckets the manifest itself says are missing stat
    * families a current-generation writer would have recorded — pure
    * prop inspection, zero I/O, so a no-op maintenance pass costs
    * nothing. A bucket is stale when the sketch precision is being
    * changed, or (time-partitioned layouts) when it carries neither
    * leaf-granular version/cluster zone maps nor the budget-degraded
    * marker a current writer stamps in their place.
    */
  private def statsStaleBuckets(m: Meta, newP: Option[Int]): Seq[Int] = {
    val clean = (m.buckets.keySet -- m.dirty).toSeq.sorted
    if (newP.exists(_ != ndvPOf(m.snap))) return clean
    if (m.tp.isEmpty) return Nil
    def hasKey(prefix: String) = m.snap.props.keysIterator
      .exists(_.startsWith(prefix))
    def leafCmin(b: Int) = m.snap.props.keysIterator.exists { k =>
      k.startsWith(s"cmin.$b.") && {
        val rest = k.drop(s"cmin.$b.".length)
        val seg = rest.takeWhile(_ != '.')
        rest.length > seg.length && seg.nonEmpty && seg.forall(_.isDigit)
      }
    }
    clean.filter { b =>
      val vleafOk = hasKey(s"vminl.$b.") || m.snap.prop(s"lvdeg.$b").isDefined
      val cleafOk = m.clusterBy.isEmpty || leafCmin(b) ||
        m.snap.prop(s"lcdeg.$b").isDefined ||
        // a bucket with no bucket-level cluster bounds at all (every
        // stat column all-null there) records no leaf bounds either
        !m.snap.props.keysIterator.exists(k =>
          k.startsWith(s"cmin.$b.") )
      !(vleafOk && cleafOk)
    }
  }

  /** Re-sketch the per-bucket stat families from the committed files
    * in ONE metadata commit, without rewriting any data (r15, verdict
    * items 4+5): arms leaf-granular zone maps ([[rowProps]] `vminl`/
    * `vmaxl`, `cmin.<b>.<tp>.<col>`) and CBO sketches on tables whose
    * buckets predate those families, and — with `ndvP` — re-derives
    * every cluster-column HLL sketch at a new precision (the
    * stats-only remedy ALTER `ndv_p` routes through instead of
    * refusing with the RTAS recipe). Dirty (merge-on-read) buckets
    * keep their carried stats: their live state is base+delta, which
    * no footer pass over base files alone can state — compact first.
    * A table already fully stated is a no-op with zero Spark jobs and
    * zero commits. Returns the number of buckets restated.
    */
  def refreshStats(spark: SparkSession, dir: String,
      ndvP: Option[Int] = None, force: Boolean = false): Int = {
    ndvP.foreach(v => require(v >= 4 && v <= 12,
      s"ndv_p must be in [4, 12], got $v"))
    TxLog.withOcc(spark, dir) {
      val m = loadMeta(spark, dir)
      require(m.snap.prop("table_type").forall(_ == "merge"),
        s"$dir is a ${m.snap.prop("table_type").getOrElse("merge")} " +
          "table; refreshStats applies to merge tables (Scd2/AggView " +
          "stats are maintained by their own commit paths)")
      val precisionChange = ndvP.exists(_ != ndvPOf(m.snap))
      if (precisionChange)
        require(m.dirty.isEmpty,
          "cannot change ndv_p while merge-on-read deltas are " +
            "unfolded (register widths must match across every " +
            "bucket's sketch) — run compact() first")
      val stale =
        if (force) (m.buckets.keySet -- m.dirty).toSeq.sorted
        else statsStaleBuckets(m, ndvP)
      if (stale.isEmpty && !precisionChange) return 0
      val p = ndvP.getOrElse(ndvPOf(m.snap))
      val fresh = committedBucketStats(spark, dir, m, stale, p)
      val staleSet = stale.toSet
      val props = TableTxn.tableProps(m.snap)
        .filterNot { case (k, _) => StatPrefixes.exists(p0 =>
          k.startsWith(p0) && statBucket(k, p0).exists(staleSet.contains)) } ++
        rowProps(fresh) ++
        ndvP.map(v => Map("ndv_p" -> v.toString)).getOrElse(Map.empty)
      new TableTxn(spark, dir, m.snap).commit(m.buckets, props, op = "restat")
      stale.size
    }
  }

  /** One maintenance pass — the policy that keeps a merge-on-read
    * table's read amplification AND history storage bounded without an
    * operator watching it:
    *
    *  1. partial compaction: every bucket whose delta CHAIN reached
    *     `maxDeltasPerBucket` folds back into its base (one OCC
    *     transaction, only those buckets rewritten; below-threshold
    *     chains stay verbatim) — so a reader never reconciles more
    *     than `maxDeltasPerBucket` extra files per bucket, no matter
    *     how many scattered merges land between passes;
    *  2. age-based retention: committed manifests older than
    *     `maxHistoryAge` (by commit mtime) vacuum away — time travel
    *     stays available inside the window, storage is bounded
    *     outside it. The latest version always survives.
    *
    * Cost when nothing qualifies: two driver-side metadata reads, zero
    * Spark jobs — safe to call on every streaming micro-batch cadence
    * ([[graft.streaming.StreamingCompaction.mergeStream]]'s
    * `maintainEvery`). Returns (buckets folded, manifests vacuumed).
    */
  def maintain(spark: SparkSession, dir: String,
      maxDeltasPerBucket: Int = 8,
      maxHistoryAge: java.time.Duration = null,
      maxFeedAge: java.time.Duration = null,
      maxPartitionAge: java.time.Duration = null,
      refreshStats: Boolean = false): (Int, Int) = {
    val before = loadMeta(spark, dir)
    val toFold = before.deltas.count(_._2.size >= maxDeltasPerBucket)
    if (toFold > 0)
      compact(spark, dir, minDeltas = maxDeltasPerBucket,
        retainHistory = true)
    // stats backfill AFTER the fold: buckets compact just re-stated
    // are no longer candidates, so the pass touches only buckets whose
    // manifest still lacks the current stat families (pre-r14 tables
    // gain leaf zone maps + CBO sketches without a data rewrite);
    // fully-stated tables pay one manifest prop inspection, zero jobs
    if (refreshStats) Compaction.refreshStats(spark, dir)
    // partition retention (time-partitioned tables): drop every
    // partition older than the window, as metadata-first commits
    // (merge-on-read chains holding doomed partitions fold inside —
    // O(affected buckets), never a table-wide compact)
    Option(maxPartitionAge).foreach { age =>
      dropPartitionsBefore(spark, dir, new java.sql.Timestamp(
        System.currentTimeMillis() - age.toMillis))
    }
    val vacuumed = Option(maxHistoryAge).map { age =>
      val cutoff = System.currentTimeMillis() - age.toMillis
      val times = TxLog.commitTimesOnDisk(spark, dir)
      // only the contiguous expired PREFIX: manifest mtimes come from
      // different writers' clocks, and vacuuming past a skew-stamped
      // "old" version would delete younger manifests the retention
      // window promised to keep
      val expired = times.dropRight(1).takeWhile(_._2 < cutoff)
      if (expired.nonEmpty) {
        TxLog.vacuum(spark, dir, expired.map(_._1).max + 1L)
        expired.size
      } else 0
    }.getOrElse(0)
    // feed retention: a feed-enabled table accumulates one batch dir
    // per write FOREVER without a bound — the Kafka-style knob. Only
    // the contiguous expired PREFIX deletes (same clock-skew rule as
    // history, and a mid-stream gap would read as silent data loss to
    // a resuming consumer; a consumer below the retention horizon is
    // out of contract either way, and the numbering never restarts —
    // the batch reservation maxes with the committed counter).
    Option(maxFeedAge).foreach { age =>
      val cutoff = System.currentTimeMillis() - age.toMillis
      val fs = TxLog.fs(spark, dir)
      val root = new Path(s"$dir/feed")
      if (fs.exists(root)) {
        val batches = fs.listStatus(root).toSeq
          .flatMap { st =>
            val n = st.getPath.getName
            if (n.startsWith("batch=")) Some(n.drop(6).toLong -> st)
            else None
          }.sortBy(_._1)
        // expiry clock: the publish marker's wall-clock, stamped by the
        // publisher and riding the atomic rename — dir mtime only for
        // pre-marker batches (object-store directory mtimes are
        // synthetic, and maintainer-vs-publisher clock skew could
        // expire a younger-than-promised batch; r9 advice). Lazy: only
        // the expired prefix (+1 terminator) is ever listed.
        def publishedAt(st: org.apache.hadoop.fs.FileStatus): Long =
          fs.listStatus(st.getPath).iterator.map(_.getPath.getName)
            .collectFirst { case TableTxn.PubMarker(ms, _, _) => ms.toLong }
            .getOrElse(st.getModificationTime)
        // never expire past a committed-but-unpublished batch (its only
        // copy sits in a crashed writer's staging, recoverable via
        // repairFeed): stamping the horizon over it would reclassify
        // the lost batch as retention and consumers would skip it
        // silently — cap the expired prefix below the first such id
        val lostCap = stagedIntentIds(spark, dir)
          .minOption.getOrElse(Long.MaxValue)
        val expired = batches.iterator
          .takeWhile { case (b, st) =>
            b < lostCap && publishedAt(st) < cutoff }.toSeq
        if (expired.nonEmpty) {
          // horizon first, deletes second: a crash in between leaves
          // extra dirs behind, never an unrecorded gap
          writeFeedHorizon(fs, dir, expired.last._1 + 1L)
          expired.foreach { case (b, _) =>
            fs.delete(new Path(s"$dir/feed/batch=$b"), true)
          }
        }
      }
    }
    (toFold, vacuumed)
  }

  /** Per-bucket merge-on-read pressure, manifest-only: (bucket, number
    * of unfolded delta dirs, delta rows) — the zero-cost input to a
    * compaction schedule.
    */
  def deltaStats(spark: SparkSession, dir: String): Seq[(Int, Int, Long)] = {
    val m = loadMeta(spark, dir)
    m.deltas.toSeq.sortBy(_._1).map { case (b, rels) =>
      (b, rels.size, m.snap.counter(s"drows.$b"))
    }
  }
}
