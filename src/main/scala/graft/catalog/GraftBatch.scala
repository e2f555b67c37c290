package graft.catalog

import java.util.OptionalLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BasePredicate, BoundReference, Cast, GenericInternalRow, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, LongType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.{Bucketing, Compaction, TxLog}

/** Driver-side planning metadata for one scan: the committed manifest
  * parsed once — table parameters, live bucket → directory map, and
  * merge-on-read delta chains. Reading it costs zero Spark jobs
  * (manifests are a driver-side file, cached by [[TxLog]]).
  */
private[catalog] final case class ScanMeta(dir: String, version: Long,
    family: String, props: Map[String, String], keys: Seq[String],
    versionCol: Option[String], deleteCol: Option[String],
    nBuckets: Int, schema: StructType,
    buckets: Map[Int, String], deltas: Map[Int, Seq[String]]) {
  def dirty: Set[Int] = deltas.keySet
  def liveIds: Set[Int] = buckets.keySet ++ dirty
}

private[catalog] object ScanMeta {
  def load(spark: SparkSession, dir: String,
      asOf: Option[Long]): ScanMeta = {
    val snap = asOf match {
      case Some(v) => TxLog.read(spark, dir, v)
      case None => TxLog.latest(spark, dir).getOrElse(
        throw new IllegalArgumentException(
          s"no committed manifest under $dir"))
    }
    of(dir, snap, DataType.fromJson(snap.props("schema_json"))
      .asInstanceOf[StructType])
  }

  /** A snapshot the caller already resolved, with its `schema_json`
    * already parsed — the point read plans against the very manifest
    * its bucket hash was computed from.
    */
  def of(dir: String, snap: TxLog.Snapshot, schema: StructType): ScanMeta =
    ScanMeta(dir, snap.version,
      snap.prop("table_type").getOrElse("merge"), snap.props,
      Bucketing.decodeKeys(snap.props("key")),
      snap.prop("version_col"), snap.prop("delete_col"),
      snap.props("n_buckets").toInt, schema, snap.buckets, snap.deltas)
}

/** A bin of clean (no unfolded deltas) files, all from generation
  * directories sharing one SCHEMA EPOCH — the physical column-name
  * vector their files were written under (ALTER RENAME is
  * metadata-only, so older generations carry older names; an epoch's
  * reader requests the epoch's names, and because a rename preserves
  * position and type the output aligns with the logical schema with
  * no per-row rewrite). `epoch` indexes the factory's reader table.
  */
private[catalog] final case class GraftCleanPartition(epoch: Int,
    bucket: Int, files: Array[PartitionedFile]) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  // the hash bucket is the storage-partition value (-1 = a mixed bin,
  // only produced when key-grouped reporting is off)
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

/** One dirty bucket's base + delta files, folded to live state INSIDE
  * the partition reader (see [[GraftFoldSpec]]) — the merge-on-read
  * reconciliation without the window shuffle: a bucket already
  * co-locates every row of its keys, so the fold is partition-local
  * by construction. `epochs(i)` is `files(i)`'s schema epoch.
  */
private[catalog] final case class GraftFoldPartition(bucket: Int,
    epochs: Array[Int], files: Array[PartitionedFile])
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

/** Native DSv2 `Batch` scan over a maintained merge table: the
  * manifest-pruned file set planned driver-side, Spark's own
  * (vectorized, codegen-friendly) parquet reader per file, and
  * merge-on-read buckets folded in their reader. Replaces the former
  * `V1Scan` bridge, which paid a Row↔InternalRow conversion on every
  * output row and was opaque to whole-stage codegen.
  *
  * Planning (all driver-side metadata, no Spark jobs):
  *  1. bucket pruning — key equality/IN pins buckets through the same
  *     xxhash64 the writers partition by; version-range predicates
  *     prune on the manifest's per-bucket [min, max] zone maps
  *     ([[GraftPrune]], the scan-builder twin of
  *     [[graft.plans.MergePruning]]);
  *  2. file listing — only surviving buckets' directories are listed
  *     (parallel, O(kept buckets));
  *  3. clean buckets (no unfolded deltas) pack into Spark's own
  *     `FilePartition` bins (maxPartitionBytes / openCost sizing,
  *     large files split by range) and read COLUMNAR when the schema
  *     supports it; dirty buckets become one [[GraftFoldPartition]]
  *     each, folded row-wise in the reader.
  *
  * Filters are also re-applied by Spark above the scan (every filter
  * is reported as post-scan), so pushdown — bucket pruning, parquet
  * row-group stats, dictionary filtering — is a pure data reduction,
  * never a correctness dependency. At 100 TB the full-scan plan is
  * partition-per-128MB vectorized parquet with zero conversion; the
  * pruned plan opens exactly the directories the programmatic API
  * would.
  */
private[catalog] object GraftScan {
  /** Shared planning-listing pool: daemon threads, one per local
    * core class — per-scan pools caused thread churn on
    * catalog-heavy workloads (a fresh 32-thread pool per EXPLAIN).
    */
  /** One shared listing pool across layers — see
    * [[graft.cdc.Compaction.listingPool]].
    */
  lazy val listingPool: java.util.concurrent.ExecutorService =
    Compaction.listingPool
}

/** `spark` is the session the scan plans and reads for: its confs size
  * the splits and its filesystem lists the buckets. `resolved` hands in
  * a snapshot the caller already read, and `pin` restricts the scan to
  * the buckets a point read's key hash selected (composite-key IN lists
  * included, which the pushed filters cannot pin).
  */
private[catalog] final class GraftScan(spark: SparkSession, dir: String,
    asOf: Option[Long], required: StructType, pushed: Array[Filter],
    tracker: Option[GraftRowTracker] = None,
    streamOptions: org.apache.spark.sql.util.CaseInsensitiveStringMap =
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty(),
    resolved: Option[ScanMeta] = None,
    pin: Option[Set[Int]] = None)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  // ONE manifest snapshot per scan: filterAttributes / filter /
  // planning / stats all answer against the same committed version,
  // and a commit landing mid-planning cannot shift the scan under us
  private lazy val scanMeta: ScanMeta =
    resolved.getOrElse(ScanMeta.load(spark, dir, asOf))

  override def readSchema(): StructType = required

  override def toBatch: Batch = {
    // `_order` (publish order) exists only on the changelog STREAM;
    // stored table rows have none — refuse rather than null-extend
    require(!required.fieldNames.exists(_.equalsIgnoreCase("_order")),
      "_order is a streaming-only metadata column: it is the change " +
        "feed's publish order, which stored table rows do not have — " +
        "select it on spark.readStream.table(...) reads")
    this
  }

  /** `spark.readStream.table("graft.ns.t")`: the change data feed as
    * a CHANGELOG stream in the TABLE schema — insert and
    * update-postimage events as their rows, deletes as the pre-image
    * row with the table's own tombstone column set true (the
    * [[Compaction.feedAsChangelog]] shape, so `readStream.table(src)
    * .writeStream.toTable(dst)` closes the replication loop through
    * nothing but standard API). Offsets are feed batch ids —
    * checkpoint-resumed, rate-limited with
    * `.option("maxBatchesPerTrigger", n)`, fenced for fresh
    * checkpoints with `.option("startingBatch", b)`. Raw events
    * (`_change_type`, preimages, batch ids) stream via
    * [[graft.plans.GraftTables.changeStream]].
    *
    * Ordering: every row additionally carries the `_order` publish
    * order (the feed batch id) as the LAST field — surfaced by the
    * table's `_order` METADATA COLUMN, so
    * `.select($"*", $"_order").writeStream.toTable(dst)` threads the
    * sanctioned [[graft.cdc.Compaction.feedAsChangelog]] tiebreak
    * through standard API: two events for one key at the SAME version
    * (a v2 DELETE's tombstone against the insert it supersedes),
    * drained in one multi-batch micro-batch, resolve by publish order
    * in the downstream merge instead of arbitrarily. A query that does
    * not select `_order` binds only the table columns and the trailing
    * field is ignored (the analyzer appends requested metadata columns
    * after the table output, so alignment is positional either way).
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(asOf.isEmpty,
      "cannot stream a time-travel (AS OF) table")
    val meta = scanMeta
    require(meta.props.get("feed").contains("true"),
      s"the table at $dir has no change data feed: create it with " +
        "TBLPROPERTIES ('feed'='true') or enable it with ALTER TABLE " +
        "... SET TBLPROPERTIES ('feed'='true') — the feed starts at " +
        "the next commit")
    val deleteCol = meta.deleteCol.getOrElse(throw new IllegalStateException(
      s"merge table at $dir lacks a delete column"))
    // historical spellings per logical column, so feed batches
    // published before an ALTER RENAME still resolve by (old) name
    val events = Compaction.renameEvents(meta.props)
    val spellings: Map[String, Seq[String]] =
      meta.schema.fieldNames.map(n =>
        n.toLowerCase -> Compaction.historicalSpellings(events, n)).toMap
    new graft.streaming.FeedBatchStream(dir,
      Option(streamOptions.get("maxBatchesPerTrigger")).map(_.toLong),
      Option(streamOptions.get("startingBatch")).map(_.toLong)
        .getOrElse(-1L),
      // `_order` rides as the trailing field whether or not the query
      // selected the metadata column (see the ordering note above)
      rowSchema = Some(required.add("_order",
        org.apache.spark.sql.types.LongType, nullable = false)),
      changelogDeleteCol = Some(deleteCol),
      spellings = spellings,
      // time-bounded changelog consumption (replicate the last N
      // days): `_tp` dirs outside the bounds never plan a partition
      tpPrune = graft.streaming.FeedBatchSource.tpPruneOf(dir,
        Option(streamOptions.get("timeLowerBound")),
        Option(streamOptions.get("timeUpperBound"))))
  }

  // ----- storage-partitioned joins -----------------------------------
  // With spark.sql.sources.v2.bucketing.enabled, the scan reports
  // KeyGroupedPartitioning over the catalog's own bucket(n, keys)
  // function: two maintained tables bucketed identically join WITHOUT
  // a shuffle (each partition is one hash bucket, both sides
  // co-locate a key's rows by construction). Opt-in because the
  // per-bucket partition layout trades away cross-bucket small-file
  // binning; plain-scan runtime filtering steps aside in this mode
  // (mutating the partition set under key-grouped reporting would
  // desync the reported and planned partition values).

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val p = planned
    if (p.spj)
      new org.apache.spark.sql.connector.read.partitioning
        .KeyGroupedPartitioning(Array(
          org.apache.spark.sql.connector.expressions.Expressions
            .bucket(p.meta.nBuckets, p.meta.keys: _*)),
          p.cleanParts.length + p.foldParts.length)
    else new org.apache.spark.sql.connector.read.partitioning
      .UnknownPartitioning(p.cleanParts.length + p.foldParts.length)
  }

  // ----- runtime bucket filtering -----------------------------------
  // Two producers, one mechanism: row-level operations push the MERGE
  // source / DELETE condition keys (so a DML replaces only the
  // buckets holding matched keys), and DYNAMIC PRUNING pushes the
  // build side's join keys on equi-joins against this table (so a
  // "join the 100 TB table to a filtered dim on the key" plan opens
  // only the dim keys' buckets — the v2 form of dynamic partition
  // pruning, with the hash bucket as the partition). Single-key
  // tables only: one column of a composite key cannot pin the tuple
  // hash. Unknown predicate shapes prune nothing, and Spark joins
  // re-filter rows anyway, so this is purely a data reduction.

  @volatile private var runtimeBuckets: Option[Set[Int]] = None

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // Advertised under STOCK confs too: Spark 4.1 executes v2 runtime
    // filters under AQE + dynamicPartitionPruning.reuseBroadcastOnly
    // (round-8 declined them there against an earlier "no subquery
    // result at translateRuntimeFilterV2" failure that 4.1.2 does not
    // reproduce — re-verified by RuntimePruningSpec's default-conf
    // case: correct result, runtime IN filter planned, 2/32 buckets
    // opened). Only SPJ-mode scans decline (mutating the partition
    // set under key-grouped reporting would desync the reported and
    // planned partition values).
    if (tracker.isEmpty && planned.spj)
      return Array.empty
    val meta = scanMeta
    // composite keys advertise every key column: a join binding the
    // whole tuple delivers one single-column IN per key, combined by
    // filter() into tuple-hash pruning; a join binding only part of
    // the tuple prunes nothing (runtimeBucketsOf/Composite decline)
    // but Spark re-applies the filter above the scan regardless.
    meta.keys.map(k => org.apache.spark.sql.connector.expressions
      .Expressions.column(k)).toArray
  }

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    val meta = scanMeta
    val sets = predicates.toSeq
      .flatMap(p => GraftPrune.runtimeBucketsOf(meta, p)) ++
      GraftPrune.runtimeBucketsComposite(meta, predicates.toSeq)
    if (sets.nonEmpty) runtimeBuckets = Some(sets.reduce(_ intersect _))
  }

  override def description(): String = {
    val p = planned
    s"GraftScan $dir${asOf.map(v => s" asOf=$v").getOrElse("")} " +
      s"buckets=${p.keptIds.size}/${p.meta.liveIds.size} " +
      s"fold=${p.foldParts.length} columnar=${p.columnar}"
  }

  /** Everything planInputPartitions/createReaderFactory/statistics
    * share, computed once per scan. `epochSigs(e)` is epoch e's
    * physical name for every field of the table schema (one epoch,
    * the identity, unless ALTER RENAME events exist).
    */
  private final case class Planned(meta: ScanMeta, keptIds: Set[Int],
      epochSigs: Vector[Seq[String]],
      cleanParts: Array[GraftCleanPartition],
      foldParts: Array[GraftFoldPartition], columnar: Boolean,
      spj: Boolean, files: Seq[(String, Long)]) {
    def totalBytes: Long = files.map(_._2).sum
  }

  /** Every file the plan opens, with its length (clean and fold). */
  private[catalog] def plannedFiles: Seq[(String, Long)] = planned.files

  // re-planned when a runtime filter arrives after an earlier plan
  // (estimateStatistics/EXPLAIN may force planning pre-execution)
  private var plannedCache: Option[(Option[Set[Int]], Planned)] = None

  private def planned: Planned = synchronized {
    val key = runtimeBuckets
    plannedCache match {
      case Some((k, p)) if k == key => p
      case _ =>
        val p = computePlanned()
        plannedCache = Some((key, p))
        tracker.foreach { t =>
          t.version = p.meta.version
          t.buckets = p.keptIds
        }
        p
    }
  }

  // per-bucket listing cache: a scan that plans more than once (an
  // EXPLAIN or estimateStatistics pass before a runtime filter
  // arrives, then the filtered re-plan) pays the FS listing for each
  // bucket at most ONCE — the re-plan after filter() only touches a
  // subset of already-listed buckets. Keyed by bucket id, valid for
  // the life of this scan (one manifest snapshot, see scanMeta).
  private val listingCache = new java.util.concurrent.ConcurrentHashMap[
    Int, Seq[(String, Long, Long, Int)]]()
  // schema-epoch registry shared across re-plans so cached listings'
  // epoch indices stay valid (the map only grows; an index never
  // changes meaning once assigned)
  private val sigIdx = scala.collection.mutable.LinkedHashMap
    .empty[Seq[String], Int]

  private def computePlanned(): Planned = {
    val s = spark
    val meta = scanMeta
    val kept = GraftPrune.allowedBuckets(meta, pushed)
      .intersect(runtimeBuckets.getOrElse(meta.liveIds))
      .intersect(pin.getOrElse(meta.liveIds))
    val fs = TxLog.fs(s, dir)
    val events = Compaction.renameEvents(meta.props)

    // schema epoch of a generation dir: the physical name vector its
    // files were written under (identity when no renames exist)
    def epochOf(rel: String): Int = {
      val genV = Compaction.genVersionOf(rel)
      val sig =
        if (events.isEmpty) meta.schema.fieldNames.toSeq
        else meta.schema.fieldNames.toSeq
          .map(n => Compaction.physicalName(events, genV, n))
      sigIdx.synchronized(sigIdx.getOrElseUpdate(sig, sigIdx.size))
    }

    // time-partition pruning (r9 item 3): the partition bounds the
    // pushed filters imply for the table's partition source column —
    // whole `_tp=` dirs outside them (or below the retention floor)
    // are skipped BY NAME, before any footer or data page is touched.
    // Pruning is purely a data reduction: Spark re-applies every
    // filter above the scan.
    val tpSpec: Option[(String, String)] =
      for { u <- meta.props.get("tp_unit"); c <- meta.props.get("tp_col") }
        yield (u, c)
    val tpFloor: Option[Int] = meta.props.get("tp_min").map(_.toInt)
    // bounds compile to a UNION of closed `_tp` intervals (r10 item 2):
    // AND intersects, OR unions, IN is a union of points — so
    // `ts IN (t1, t2)` and `(ts BETWEEN a AND b) OR (ts BETWEEN c AND
    // d)` prune too, not just AND-chains of ranges. Anything the walk
    // cannot type lands on the all-covering interval, which both
    // operations propagate conservatively (see Compaction.TpAll).
    val tpIvs: Seq[(Int, Int)] = tpSpec match {
      case None => Compaction.TpAll
      case Some((u, c)) =>
        Compaction.tpIvsFromFilters(pushed.toSeq, u, c)
    }
    // `rangeOk = false` for DIRTY (merge-on-read) buckets: their fold
    // decides winners over the full surviving history, so only the
    // retention floor may prune — a range prune on the fold INPUT
    // would resurrect superseded rows (same invariant as
    // Compaction.foldBuckets)
    // cluster-LEAF admission (r13) composes with the range admission:
    // a leaf inside the time bounds whose per-(bucket, leaf) cluster
    // bounds refute a pushed conjunct is skipped by name too — same
    // rangeOk gate (clean buckets only)
    def tpAdmit(b: Int)(n: Int, rangeOk: Boolean): Boolean =
      tpFloor.forall(n >= _) &&
        (!rangeOk || (Compaction.tpAdmits(tpIvs, n) &&
          GraftPrune.leafAdmits(meta, pushed, b, n)))

    def listFiles(b: Int, rel: String, rangeOk: Boolean)
        : Seq[(String, Long, Long, Int)] = {
      val p = new Path(s"${meta.dir}/data/$rel")
      val e = epochOf(rel)
      // time-partitioned layout: one `_tp=` level inside the bucket —
      // the shared lister descends admitted partitions. pooled = false:
      // this runs ON the shared listing pool already (one future per
      // bucket below), so a nested pooled Await could starve it.
      Compaction.listTpLeaves(fs, Seq(p),
          tpAdmit(b)(_, rangeOk), pooled = false)
        .flatMap(_._2)
        .filter(st => st.isFile &&
          !st.getPath.getName.startsWith(".") &&
          !st.getPath.getName.startsWith("_"))
        .map(st => (st.getPath.toString, st.getLen,
          st.getModificationTime, e))
    }

    // parallel listing: one FS call per kept bucket directory — the
    // only I/O planning does (manifest and stats are already local).
    // The pool is shared across scans (no per-query thread churn) and
    // results are memoized per bucket (no double listing on re-plan).
    val cleanIds = (kept -- meta.dirty).toSeq.sorted
    val dirtyIds = kept.intersect(meta.dirty).toSeq.sorted
    def listed(b: Int, rangeOk: Boolean,
        rels: => Seq[String]): Seq[(String, Long, Long, Int)] = {
      val hit = listingCache.get(b)
      if (hit != null) hit
      else {
        val r = rels.flatMap(listFiles(b, _, rangeOk))
        listingCache.put(b, r)
        r
      }
    }
    val (cleanFiles, foldFiles) = {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext
          .fromExecutor(GraftScan.listingPool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val cleanF = Future.traverse(cleanIds)(b => Future {
        b -> listed(b, rangeOk = true, meta.buckets.get(b).toSeq)
      })
      val dirtyF = Future.traverse(dirtyIds)(b => Future {
        b -> listed(b, rangeOk = false, meta.buckets.get(b).toSeq ++
          meta.deltas.getOrElse(b, Nil))
      })
      (Await.result(cleanF, Duration.Inf),
        Await.result(dirtyF, Duration.Inf))
    }

    def pf(path: String, start: Long, len: Long, mod: Long,
        size: Long): PartitionedFile =
      PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
        start, len, Array.empty[String], mod, size)

    // clean files: split large ones by range (the parquet reader
    // assigns row groups by midpoint, Spark's own rule), then pack
    // with Spark's bin-packing so partition sizing matches what a
    // FileSourceScanExec would do at the same confs. Packing is
    // per-epoch: one partition's files share one reader schema.
    val openCost = s.sessionState.conf.filesOpenCostInBytes
    val flatClean = cleanFiles.flatMap(_._2)
    val totalClean = flatClean.map(_._2).sum
    val maxSplit = FilePartition.maxSplitBytes(s,
      totalClean + openCost * flatClean.size)
    // key-grouped (storage-partitioned-join) layout only when no
    // bucket is coarser than a normal split: the per-bucket task can
    // then never LOSE read parallelism against the binned layout, so
    // Spark 4's default-on v2 bucketing gets shuffle-free co-located
    // joins with no full-scan regression. An oversized bucket (or a
    // row-level scan, which needs runtime filtering) declines and
    // takes the bin-packed layout.
    val spj = s.sessionState.conf.v2BucketingEnabled && tracker.isEmpty &&
      cleanFiles.forall(_._2.map(_._2).sum <=
        s.sessionState.conf.filesMaxPartitionBytes)
    val cleanParts =
      if (spj)
        // key-grouped layout: one partition per clean bucket (its
        // whole file set) — the storage-partition unit SPJ zips on
        cleanFiles.filter(_._2.nonEmpty).map { case (b, fs0) =>
          GraftCleanPartition(fs0.head._4, b,
            fs0.map { case (p2, len, mod, _) =>
              pf(p2, 0, len, mod, len)
            }.toArray)
        }.toArray
      else flatClean.groupBy(_._4).toSeq.flatMap {
        case (epoch, fsOfEpoch) =>
          val splitFiles = fsOfEpoch.flatMap { case (p2, len, mod, _) =>
            (0L until len by maxSplit).map { off =>
              pf(p2, off, math.min(maxSplit, len - off), mod, len)
            }
          }.sortBy(-_.length)
          FilePartition.getFilePartitions(s, splitFiles, maxSplit)
            .map(fp => GraftCleanPartition(epoch, -1, fp.files))
      }.toArray

    val folds = foldFiles.map { case (b, files) =>
      GraftFoldPartition(b, files.map(_._4).toArray,
        files.map { case (p, len, mod, _) => pf(p, 0, len, mod, len) }
          .toArray)
    }.toArray

    // DSv2 requires every partition of one scan to agree on
    // columnar-vs-row, so a scan touching any dirty bucket reads
    // row-wise (still through the vectorized parquet decoder — only
    // the hand-off is per-row); a compacted table reads columnar.
    // Renames don't break columnar: epochs differ only in NAMES, and
    // the batch layout is positional.
    val columnar = folds.isEmpty && required.nonEmpty &&
      new ParquetFileFormat().supportBatch(s, required)
    val files = (flatClean ++ foldFiles.flatMap(_._2))
      .map(f => (f._1, f._2))
    Planned(meta, kept, sigIdx.keys.toVector, cleanParts, folds,
      columnar, spj, files)
  }

  override def planInputPartitions(): Array[InputPartition] =
    (planned.cleanParts.toSeq ++ planned.foldParts.toSeq)
      .toArray[InputPartition]

  override def createReaderFactory(): PartitionReaderFactory = {
    val s = spark
    val p = planned
    val meta = p.meta
    val fmt = new ParquetFileFormat()
    val hadoopConf = s.sessionState.newHadoopConf()
    // logical -> physical field name, per epoch ("_seq" is reserved,
    // never renamed)
    val logicalNames = meta.schema.fieldNames.toSeq
    def physOf(epoch: Int, logical: String): String =
      if (logical == "_seq") "_seq"
      else {
        // `required` binds at ANALYSIS time; meta.schema is the scan
        // snapshot — a concurrent ALTER RENAME committed in between
        // makes the lookup miss. Fail with the actionable error, not
        // an ArrayIndexOutOfBounds from indexOf's -1.
        val i = logicalNames.indexWhere(_.equalsIgnoreCase(logical))
        if (i < 0) throw new IllegalStateException(
          s"column '$logical' is not in $dir's committed schema " +
            s"(${logicalNames.mkString(", ")}): the table schema " +
            "changed since the query was analyzed (concurrent ALTER " +
            "TABLE?) — re-run the query")
        p.epochSigs(epoch)(i)
      }
    def physSchema(epoch: Int, logical: StructType): StructType =
      StructType(logical.fields.map(f =>
        f.copy(name = physOf(epoch, f.name))))
    def readerFor(epoch: Int, logical: StructType,
        batch: Boolean): PartitionedFile => Iterator[InternalRow] = {
      val physRequired = physSchema(epoch, logical)
      // parquet filters reference column names: hand each epoch only
      // the filters whose references it stores under the same name
      // (the rest still apply post-scan — pushdown is a reduction)
      val physFilters =
        if (physRequired.fieldNames.sameElements(logical.fieldNames))
          pushed.toSeq
        else pushed.toSeq.filter(_.references.forall(r =>
          physOf(epoch, r) == r))
      // a FRESH conf per closure: buildReaderWithPartitionValues
      // writes the requested schema INTO the conf it is given, so a
      // shared instance would leak the last epoch's schema into every
      // earlier closure's broadcast
      fmt.buildReaderWithPartitionValues(s,
        dataSchema = physSchema(epoch, meta.schema),
        partitionSchema = new StructType(),
        requiredSchema = physRequired,
        filters = physFilters,
        options = Map(FileFormat.OPTION_RETURNING_BATCH ->
          batch.toString),
        hadoopConf =
          new org.apache.hadoop.conf.Configuration(hadoopConf))
    }
    // each reader family is built only when a planned partition uses
    // it: every build broadcasts the session's Hadoop conf, and a
    // point read on one dirty bucket needs the fold readers alone
    val cleanReaders =
      if (p.cleanParts.isEmpty)
        Array.empty[PartitionedFile => Iterator[InternalRow]]
      else p.epochSigs.indices
        .map(e => readerFor(e, required, p.columnar)).toArray
    val foldSpec = if (p.foldParts.isEmpty) None else {
      // the fold needs the key/version/delete columns and the commit
      // sequence regardless of projection; winners project down after.
      // Scd2's stored interval columns are RECOMPUTED by the fold, so
      // they are never read; AggView needs its full (keys, cnt, total)
      // state regardless of projection and carries no sequence.
      val generated: Set[String] = meta.family match {
        case "scd2" => Set("valid_to", "is_current")
        case _ => Set.empty
      }
      val needed = (required.fieldNames ++ meta.keys ++
        meta.versionCol.toSeq ++ meta.deleteCol.toSeq ++
        (if (meta.family == "aggview") Seq("cnt", "total", "nncnt")
         else Nil))
        .map(_.toLowerCase).toSet -- generated
      val dataFields =
        meta.schema.fields.filter(f => needed(f.name.toLowerCase))
      val foldInput =
        if (meta.family == "aggview") StructType(dataFields)
        else StructType(dataFields :+
          StructField("_seq", LongType, nullable = true))
      val foldReaders = p.epochSigs.indices.map { e =>
        val phys = physSchema(e, foldInput)
        fmt.buildReaderWithPartitionValues(s,
          dataSchema = phys, partitionSchema = new StructType(),
          requiredSchema = phys, filters = Nil,
          options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
          hadoopConf =
            new org.apache.hadoop.conf.Configuration(hadoopConf))
      }.toArray
      Some(GraftFoldSpec(meta.family, foldReaders, foldInput, meta.keys,
        meta.versionCol, meta.deleteCol, required,
        meta.props.get("expired_before")))
    }
    new GraftReaderFactory(p.columnar, cleanReaders, foldSpec)
  }

  /** Size from the pruned listing, rows from the manifest's exact
    * per-bucket counts when nothing filters them (clean buckets only —
    * a dirty bucket's fold outcome is not knowable from metadata) —
    * the numbers AQE and broadcast planning act on. On top of that,
    * COLUMN-level statistics from the same manifest, for CBO join
    * reordering and broadcast decisions at 100 TB:
    *
    *  - merge keys are UNIQUE by construction (every commit folds to
    *    latest-state per key), so distinctCount = numRows and
    *    nullCount = 0 — the exact NDV a join-cardinality estimate
    *    needs, with no sampling pass;
    *  - the version column's global min/max fold the per-bucket zone
    *    maps (typed through the same Catalyst cast the pruning uses,
    *    never string order).
    */
  override def estimateStatistics(): Statistics = {
    val p = planned
    // pushed filters withhold the manifest-exact stats (the scan's
    // output is no longer the manifest's row set) — except pushes
    // that provably filter nothing (GraftPrune.noopPushes)
    val exact = p.foldParts.isEmpty && (pushed.isEmpty ||
      GraftPrune.noopPushes(p.meta, p.keptIds, pushed))
    val rows: OptionalLong =
      if (!exact) OptionalLong.empty()
      else {
        val counts = p.keptIds.toSeq.map(b =>
          p.meta.props.get(s"rows.$b").map(_.toLong))
        if (counts.exists(_.isEmpty)) OptionalLong.empty()
        else OptionalLong.of(counts.flatten.sum)
      }
    val colStats = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    if (rows.isPresent) {
      val n = rows.getAsLong
      val requiredNames = required.fieldNames.map(_.toLowerCase).toSet
      // SINGLE-key tables only: uniqueness is a property of the key
      // TUPLE — claiming per-column NDV = rows on a composite key
      // would overstate each column's cardinality by orders of
      // magnitude and flip CBO's join estimates the wrong way
      if (p.meta.keys.size == 1) {
        p.meta.keys.filter(k => requiredNames(k.toLowerCase)).foreach { k =>
          colStats.put(
            org.apache.spark.sql.connector.expressions.Expressions
              .column(k),
            new org.apache.spark.sql.connector.read.colstats
                .ColumnStatistics {
              override def distinctCount(): OptionalLong =
                OptionalLong.of(n)
            })
        }
      }
      // min/max for a column whose per-bucket zone maps are recorded
      // under `prefixFor(bucket)`: typed through the same Catalyst
      // cast the pruning uses, reported only when EVERY kept bucket
      // carries both bounds (a partial fold would understate a range)
      def putMinMax(colName: String, minKey: Int => String,
          maxKey: Int => String,
          ndv: OptionalLong = OptionalLong.empty(),
          nulls: OptionalLong = OptionalLong.empty()): Unit = {
        val cType = p.meta.schema.fields
          .find(_.name.equalsIgnoreCase(colName)).map(_.dataType)
        val mins = p.keptIds.toSeq.map(b => p.meta.props.get(minKey(b)))
        val maxs = p.keptIds.toSeq.map(b => p.meta.props.get(maxKey(b)))
        var bounds: Option[(Any, Any)] = None
        if (cType.isDefined && p.keptIds.nonEmpty &&
            !mins.exists(_.isEmpty) && !maxs.exists(_.isEmpty)) {
          val dt = cType.get
          val ord = org.apache.spark.sql.catalyst.types
            .PhysicalDataType.ordering(dt)
            .asInstanceOf[Ordering[Any]]
          def typed(s: String): Option[Any] = {
            val tz = Some(SQLConf.get.sessionLocalTimeZone)
            val c = org.apache.spark.sql.catalyst.expressions.Cast(
              org.apache.spark.sql.catalyst.expressions.Literal(
                org.apache.spark.unsafe.types.UTF8String.fromString(s),
                org.apache.spark.sql.types.StringType), dt, tz)
            if (!c.resolved) None else Option(c.eval())
          }
          val lo = mins.flatten.flatMap(typed(_))
          val hi = maxs.flatten.flatMap(typed(_))
          if (lo.size == p.keptIds.size && hi.size == p.keptIds.size)
            bounds = Some((lo.min(ord), hi.max(ord)))
        }
        if (bounds.isDefined || ndv.isPresent) {
          colStats.put(
            org.apache.spark.sql.connector.expressions.Expressions
              .column(colName),
            new org.apache.spark.sql.connector.read.colstats
                .ColumnStatistics {
              override def min(): java.util.Optional[Object] =
                bounds.map(b => java.util.Optional.of(
                  b._1.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty[Object]())
              override def max(): java.util.Optional[Object] =
                bounds.map(b => java.util.Optional.of(
                  b._2.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty[Object]())
              override def distinctCount(): OptionalLong = ndv
              override def nullCount(): OptionalLong = nulls
            })
        }
      }
      /** Cluster-column NDV (r13): register-wise max of the kept
        * buckets' per-bucket HLL sketches (`cndv.<b>.<col>`) — the
        * sketch merge — then the standard estimate. Reported only
        * when EVERY kept bucket carries a sketch (a partial merge
        * would understate the table). Merge-on-read delta rows are
        * not sketched; an estimate slightly stale on dirty buckets
        * is still join-strategy grade.
        */
      def ndvOf(colName: String): OptionalLong = {
        val regs = p.keptIds.toSeq.map(b =>
          p.meta.props.get(s"cndv.$b.$colName"))
        if (p.keptIds.isEmpty || regs.exists(_.isEmpty))
          return OptionalLong.empty()
        val decoded = regs.flatten.map(Compaction.decodeRegisters)
        val m = decoded.map(_.length).min
        if (m == 0) return OptionalLong.empty()
        val merged = Array.tabulate(m)(i => decoded.map(_(i)).max)
        // only non-zero registers: the estimator counts absent entries
        // as zeros for its small-range linear-counting correction
        val est = graft.operators.DetSketch.hllEstimate(
          merged.zipWithIndex.collect {
            case (r, i) if r > 0L => (i.toLong, r) }.toSeq,
          p = Integer.numberOfTrailingZeros(m))
        OptionalLong.of(math.max(1L, math.round(est)))
      }
      /** Cluster-column null count (r13): exact sum of the kept
        * buckets' recorded tallies — CBO's count-stats gate needs it
        * alongside the NDV. All-or-nothing like the NDV fold.
        */
      def nullsOf(colName: String): OptionalLong = {
        val ns = p.keptIds.toSeq.map(b =>
          p.meta.props.get(s"cnul.$b.$colName"))
        if (p.keptIds.isEmpty || ns.exists(_.isEmpty)) OptionalLong.empty()
        else OptionalLong.of(ns.flatten.map(_.toLong).sum)
      }
      p.meta.versionCol
        .filter(vc => requiredNames(vc.toLowerCase))
        .foreach(vc =>
          putMinMax(vc, b => s"minv.$b", b => s"maxv.$b"))
      // clusterBy columns (r12): the per-bucket cmin/cmax zone maps
      // fold to a global range — exactly the predicates clustering
      // was declared to accelerate get CBO-visible bounds; with the
      // per-bucket HLL sketches (r13) they get a distinct count too
      GraftPrune.clusterCols(p.meta)
        .filter(c => requiredNames(c.toLowerCase))
        .foreach(c =>
          putMinMax(c, b => s"cmin.$b.$c", b => s"cmax.$b.$c",
            ndvOf(c), nullsOf(c)))
    }
    new Statistics {
      override def sizeInBytes(): OptionalLong =
        OptionalLong.of(math.max(p.totalBytes, 1L))
      override def numRows(): OptionalLong = rows
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }
}

/** Serializable fold recipe shipped to executors: the parquet reader
  * closure over the fold input schema, plus the column names the
  * latest-state rule needs. The fold is [[graft.cdc.Compaction]]'s
  * merge rule applied reader-side: highest version per key wins, at
  * equal version a later commit (`_seq`, null for base files) beats an
  * earlier one, winning tombstones drop. Memory is one bucket's live
  * keys — the same working set a merge shuffle partition holds.
  */
private[catalog] final case class GraftFoldSpec(family: String,
    readers: Array[PartitionedFile => Iterator[InternalRow]],
    foldInput: StructType, keys: Seq[String],
    versionCol: Option[String], deleteCol: Option[String],
    required: StructType,
    // scd2 only: the committed history-retention floor — the fold
    // re-applies expire's predicate so a merge-on-read replay of a
    // pre-floor batch cannot resurrect retired history in catalog
    // reads (Scd2.dropExpired's native twin)
    expiredBefore: Option[String] = None,
    // rows (in `foldInput` layout) failing this never enter the fold;
    // only a key predicate is fold-safe (every version of a key shares
    // the key) — the driver point read's filter
    prefilter: Option[BasePredicate] = None)

private[catalog] final class GraftReaderFactory(val columnar: Boolean,
    cleanReaders: Array[PartitionedFile => Iterator[InternalRow]],
    val foldSpec: Option[GraftFoldSpec]) extends PartitionReaderFactory {

  /** This factory with `f` filtering the fold input (see
    * [[GraftFoldSpec.prefilter]]).
    */
  def withFoldPrefilter(f: BasePredicate): GraftReaderFactory =
    new GraftReaderFactory(columnar, cleanReaders,
      foldSpec.map(_.copy(prefilter = Some(f))))

  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnar

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case f: GraftCleanPartition =>
        new GraftIteratorReader(
          new GraftFileIterator(f.files.length,
            i => cleanReaders(f.epoch)(f.files(i))))
      case f: GraftFoldPartition =>
        val spec = foldSpec.getOrElse(throw new IllegalStateException(
          "fold partition without a fold spec"))
        new GraftIteratorReader(GraftFold.fold(spec, f.epochs, f.files))
      case other => throw new IllegalStateException(
        s"unexpected partition $other")
    }

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] =
    partition match {
      case f: GraftCleanPartition =>
        // with OPTION_RETURNING_BATCH=true the FileFormat contract
        // yields ColumnarBatch values through the InternalRow-typed
        // iterator (Spark's own FileScanRDD relies on the same cast)
        new GraftColumnarReader(
          new GraftFileIterator(f.files.length,
            i => cleanReaders(f.epoch)(f.files(i))))
      case other => throw new IllegalStateException(
        s"columnar read of non-file partition $other")
    }
}

/** The rows of `files` in order, one file open at a time. Spark's
  * file-format readers release a file's streams only when their
  * iterator is exhausted or closed (`FileScanRDD` closes them for file
  * source scans); a DSv2 reader has to do it itself. Each file's
  * iterator is closed when the next file opens and by [[close]], so a
  * vectorized parquet read that fails or stops early leaves no stream
  * open. Only a closeable iterator can be closed: Spark's row-based
  * parquet reader (vectorized reader off, or a schema it cannot batch)
  * hands back a plain mapped iterator, whose file stays open until it
  * is exhausted or collected. Generic so that a columnar reader's
  * batches, typed as rows by the FileFormat contract, pass through
  * uncast.
  */
private[catalog] final class GraftFileIterator[T](nFiles: Int,
    open: Int => Iterator[T]) extends Iterator[T] with AutoCloseable {
  private var i = 0
  private var cur: Iterator[T] = Iterator.empty
  override def hasNext: Boolean = {
    while (!cur.hasNext) {
      close()
      if (i == nFiles) return false
      cur = open(i)
      i += 1
    }
    true
  }
  override def next(): T =
    if (hasNext) cur.next() else Iterator.empty.next()
  override def close(): Unit = {
    GraftFileIterator.closeIfCloseable(cur)
    cur = Iterator.empty
  }
}

private[catalog] object GraftFileIterator {
  def closeIfCloseable(it: Iterator[_]): Unit = it match {
    case c: AutoCloseable => c.close()
    case _ =>
  }
}

private[catalog] final class GraftIteratorReader(
    it: Iterator[InternalRow]) extends PartitionReader[InternalRow] {
  private var cur: InternalRow = _
  override def next(): Boolean =
    if (it.hasNext) { cur = it.next(); true } else false
  override def get(): InternalRow = cur
  override def close(): Unit = GraftFileIterator.closeIfCloseable(it)
}

private[catalog] final class GraftColumnarReader(
    it: Iterator[InternalRow]) extends PartitionReader[ColumnarBatch] {
  private var cur: ColumnarBatch = _
  override def next(): Boolean =
    if (it.hasNext) { cur = it.next().asInstanceOf[ColumnarBatch]; true }
    else false
  override def get(): ColumnarBatch = cur
  override def close(): Unit = GraftFileIterator.closeIfCloseable(it)
}

private[catalog] object GraftFold {

  /** Fold one dirty bucket's base + delta rows to the family's live
    * state and project to the scan's required columns — partition-
    * local by construction (a bucket co-locates every row of its
    * keys), so no fold ever shuffles:
    *
    *  - merge: hash-map latest-state (highest version per key, `_seq`
    *    tie-break — any delta beats the base, later deltas beat
    *    earlier), winning tombstones drop;
    *  - scd2: `(key, version)` replay-dedup by `_seq`, then per-key
    *    interval re-derivation (valid_to = next version, is_current =
    *    open ∧ not tombstone) — the reader-side form of Scd2's
    *    window;
    *  - aggview: per-key partial summation (cnt, total, nncnt) and,
    *    on a min/max view, min-of-mins / max-of-maxes (vmin, vmax);
    *    zero-count keys leave the view.
    */
  def fold(spec: GraftFoldSpec, epochs: Array[Int],
      files: Array[PartitionedFile]): Iterator[InternalRow] =
    spec.family match {
      case "scd2" => foldScd2(spec, epochs, files)
      case "aggview" => foldAgg(spec, epochs, files)
      case _ => foldMerge(spec, epochs, files)
    }

  /** Feed every fold input row passing `spec.prefilter` to `f`, with
    * each file closed as soon as it is read, or on failure.
    */
  private def eachRow(spec: GraftFoldSpec, epochs: Array[Int],
      files: Array[PartitionedFile])(f: InternalRow => Unit): Unit = {
    val it = new GraftFileIterator(files.length,
      i => spec.readers(epochs(i))(files(i)))
    try spec.prefilter match {
      case None => it.foreach(f)
      case Some(p) => it.foreach(r => if (p.eval(r)) f(r))
    } finally it.close()
  }

  private def keyProjOf(spec: GraftFoldSpec): UnsafeProjection = {
    val in = spec.foldInput
    UnsafeProjection.create(spec.keys.map(k =>
      BoundReference(in.fieldIndex(k),
        in.fields(in.fieldIndex(k)).dataType, nullable = true)))
  }

  private def foldMerge(spec: GraftFoldSpec, epochs: Array[Int],
      files: Array[PartitionedFile]): Iterator[InternalRow] = {
    val in = spec.foldInput
    val vIdx = in.fieldIndex(spec.versionCol.get)
    val seqIdx = in.fieldIndex("_seq")
    val delIdx = in.fieldIndex(spec.deleteCol.get)
    val vType = in.fields(vIdx).dataType
    val vOrd = PhysicalDataType.ordering(vType)
      .asInstanceOf[Ordering[Any]]
    val keyProj = keyProjOf(spec)

    // candidate beats incumbent: version strictly higher, or equal
    // version with a later (non-null, larger) commit sequence — the
    // same total order Compaction.merge resolves by
    def beats(cand: InternalRow, inc: InternalRow): Boolean = {
      val c = vOrd.compare(cand.get(vIdx, vType), inc.get(vIdx, vType))
      if (c != 0) return c > 0
      val cs = if (cand.isNullAt(seqIdx)) Long.MinValue
        else cand.getLong(seqIdx)
      val is = if (inc.isNullAt(seqIdx)) Long.MinValue
        else inc.getLong(seqIdx)
      cs > is
    }

    val best = new java.util.HashMap[UnsafeRow, InternalRow]()
    eachRow(spec, epochs, files) { r =>
      val k = keyProj(r)
      val inc = best.get(k)
      if (inc == null) best.put(k.copy(), r.copy())
      else if (beats(r, inc)) best.put(k, r.copy())
    }
    val outProj = UnsafeProjection.create(
      spec.required.fields.map(f =>
        BoundReference(in.fieldIndex(f.name), f.dataType,
          nullable = true)).toSeq)
    import scala.jdk.CollectionConverters._
    best.values().iterator().asScala
      .filter(r => r.isNullAt(delIdx) || !r.getBoolean(delIdx))
      .map(outProj)
  }

  private def foldScd2(spec: GraftFoldSpec, epochs: Array[Int],
      files: Array[PartitionedFile]): Iterator[InternalRow] = {
    val in = spec.foldInput
    val vIdx = in.fieldIndex(spec.versionCol.get)
    val seqIdx = in.fieldIndex("_seq")
    val delIdx = in.fieldIndex(spec.deleteCol.get)
    val vType = in.fields(vIdx).dataType
    val vOrd = PhysicalDataType.ordering(vType)
      .asInstanceOf[Ordering[Any]]
    val keyProj = keyProjOf(spec)

    // key -> (version -> (seq, state row)); a replayed (key, version)
    // keeps the LATEST writer's record (_seq desc, null = base)
    val byKey = new java.util.HashMap[UnsafeRow,
      java.util.HashMap[Any, (Long, InternalRow)]]()
    eachRow(spec, epochs, files) { raw =>
      val r = raw.copy() // versions index into the row's buffer
      val k = keyProj(r)
      var inner = byKey.get(k)
      if (inner == null) {
        inner = new java.util.HashMap[Any, (Long, InternalRow)]()
        byKey.put(k.copy(), inner)
      }
      val v = r.get(vIdx, vType)
      val seq = if (r.isNullAt(seqIdx)) Long.MinValue
        else r.getLong(seqIdx)
      val inc = inner.get(v)
      if (inc == null || seq > inc._1) inner.put(v, (seq, r))
    }

    // required projection with the generated interval columns
    // RECOMPUTED (never read): tag each output field
    val fields = spec.required.fields.map { f =>
      if (f.name.equalsIgnoreCase("valid_to")) ("valid_to", -1, f.dataType)
      else if (f.name.equalsIgnoreCase("is_current"))
        ("is_current", -1, f.dataType)
      else ("in", in.fieldIndex(f.name), f.dataType)
    }
    val unsafe = UnsafeProjection.create(spec.required)
    // retention floor as a version-typed value (expire's predicate,
    // re-applied at fold time — see GraftFoldSpec.expiredBefore)
    val floor: Option[Any] = spec.expiredBefore.flatMap { f =>
      scala.util.Try(org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(f),
          org.apache.spark.sql.types.StringType),
        vType, Some(org.apache.spark.sql.internal.SQLConf.get
          .sessionLocalTimeZone)).eval()).toOption.filter(_ != null)
    }
    import scala.jdk.CollectionConverters._
    byKey.values().iterator().asScala.flatMap { inner =>
      val history = inner.values().asScala.toSeq.map(_._2)
        .sortBy(_.get(vIdx, vType))(vOrd)
      history.indices.iterator.filter { i =>
        floor.forall { cut =>
          val r = history(i)
          val validTo = if (i + 1 < history.size)
            history(i + 1).get(vIdx, vType) else null
          val deleted = !r.isNullAt(delIdx) && r.getBoolean(delIdx)
          // keep unless expire would have dropped it: fully-superseded
          // before the floor, or a tombstone at/below it
          !((validTo != null && vOrd.lteq(validTo, cut)) ||
            (deleted && vOrd.lteq(r.get(vIdx, vType), cut)))
        }
      }.map { i =>
        val r = history(i)
        val validTo = if (i + 1 < history.size)
          history(i + 1).get(vIdx, vType) else null
        val isCurrent = i + 1 == history.size &&
          !(!r.isNullAt(delIdx) && r.getBoolean(delIdx))
        val out = new GenericInternalRow(fields.length)
        var j = 0
        while (j < fields.length) {
          fields(j) match {
            case ("valid_to", _, _) => out.update(j, validTo)
            case ("is_current", _, _) => out.update(j, isCurrent)
            case (_, idx, dt) =>
              out.update(j, if (r.isNullAt(idx)) null else r.get(idx, dt))
          }
          j += 1
        }
        unsafe(out)
      }
    }
  }

  private def foldAgg(spec: GraftFoldSpec, epochs: Array[Int],
      files: Array[PartitionedFile]): Iterator[InternalRow] = {
    val in = spec.foldInput
    val cntIdx = in.fieldIndex("cnt")
    val totIdx = in.fieldIndex("total")
    val nnIdx = in.fieldIndex("nncnt")
    val totType = in.fields(totIdx).dataType.asInstanceOf[DecimalType]
    // a min/max view's extremes, when the scan reads them
    val minIdx = in.fieldNames.indexOf("vmin")
    val maxIdx = in.fieldNames.indexOf("vmax")
    def extreme(r: InternalRow, i: Int): Decimal =
      if (i < 0 || r.isNullAt(i)) null
      else {
        val t = in.fields(i).dataType.asInstanceOf[DecimalType]
        r.getDecimal(i, t.precision, t.scale)
      }
    val keyProj = keyProjOf(spec)

    // key -> (sum cnt, sum total, sum nncnt, min vmin, max vmax, a
    // representative row for key values); null extremes are skipped,
    // as Spark's min/max skip them in AggView.foldPartials
    final case class Acc(var cnt: Long,
        var total: java.math.BigDecimal, var nncnt: Long,
        var vmin: Decimal, var vmax: Decimal, row: InternalRow)
    val sums = new java.util.HashMap[UnsafeRow, Acc]()
    eachRow(spec, epochs, files) { raw =>
      val k = keyProj(raw)
      val c = raw.getLong(cntIdx)
      val t = if (raw.isNullAt(totIdx)) null
        else raw.getDecimal(totIdx, totType.precision, totType.scale)
          .toJavaBigDecimal
      val nn = raw.getLong(nnIdx)
      val lo = extreme(raw, minIdx)
      val hi = extreme(raw, maxIdx)
      val acc = sums.get(k)
      if (acc == null) sums.put(k.copy(), Acc(c, t, nn, lo, hi, raw.copy()))
      else {
        acc.cnt += c
        if (t != null)
          acc.total = if (acc.total == null) t else acc.total.add(t)
        acc.nncnt += nn
        if (lo != null && (acc.vmin == null || lo < acc.vmin)) acc.vmin = lo
        if (hi != null && (acc.vmax == null || hi > acc.vmax)) acc.vmax = hi
      }
    }
    val outExprs = spec.required.fields.map(f =>
      BoundReference(in.fieldIndex(f.name), f.dataType,
        nullable = true): org.apache.spark.sql.catalyst.expressions
        .Expression)
    val unsafe = UnsafeProjection.create(outExprs.toSeq)
    import scala.jdk.CollectionConverters._
    sums.values().iterator().asScala
      .filter(_.cnt != 0L) // fully-retracted keys leave the view
      .map { acc =>
        val patched = new GenericInternalRow(in.length)
        var j = 0
        while (j < in.length) {
          patched.update(j,
            if (j == cntIdx) acc.cnt
            else if (j == totIdx) {
              if (acc.total == null) null
              else Decimal(acc.total, totType.precision, totType.scale)
            } else if (j == nnIdx) acc.nncnt
            else if (j == minIdx) acc.vmin
            else if (j == maxIdx) acc.vmax
            else if (acc.row.isNullAt(j)) null
            else acc.row.get(j, in.fields(j).dataType))
          j += 1
        }
        unsafe(patched)
      }
  }
}

/** Zero-scan aggregates: COUNT(*) / MIN(version) / MAX(version)
  * answered from the manifest's per-bucket row counts and zone maps
  * alone — [[graft.cdc.Compaction.countRows]]'s O(nBuckets) driver
  * arithmetic, reached from plain SQL through
  * `SupportsPushDownAggregates`. Only offered when the table is fully
  * compacted and every live bucket carries the needed stat (a dirty
  * bucket's fold outcome is not metadata-derivable); otherwise the
  * builder declines and the normal scan answers.
  */
private[catalog] final class GraftStatsScan(dir: String,
    schema: StructType, values: Array[Any])
    extends Scan with Batch {

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftStatsScan $dir (manifest stats, zero file reads)"

  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftLocalPartition(values))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(
          p: InputPartition): PartitionReader[InternalRow] = {
        val vals = p.asInstanceOf[GraftLocalPartition].values
        new GraftIteratorReader(Iterator.single(
          new GenericInternalRow(vals.clone())))
      }
    }
}

private[catalog] final case class GraftLocalPartition(values: Array[Any])
    extends InputPartition

/** Driver-side bucket pruning from pushed v1 filters — the
  * scan-builder twin of [[graft.plans.MergePruning]] (which serves
  * registered-view SQL over the same layout): key equality/IN pins
  * buckets through the writers' own hash; version-range predicates
  * prune on the manifest zone maps with a TYPED comparison (the
  * stringified stat casts back to the column's type through Catalyst,
  * so timestamp/decimal order is never string order). Every decision
  * errs keep-side: unknown filter shapes, type-promoted comparands,
  * or missing stats leave buckets in.
  */
private[catalog] object GraftPrune {

  def allowedBuckets(meta: ScanMeta, pushed: Array[Filter]): Set[Int] = {
    val live = meta.liveIds
    if (pushed.isEmpty) return live
    // the pushed array is a conjunction: intersect every prunable
    // conjunct's allowed set; composite keys additionally prune when
    // the conjuncts bind the whole tuple
    val perFilter = pushed.toSeq.flatMap(f => allowed(meta, f))
    val comp = compositeBucket(meta, pushed)
    (perFilter ++ comp.toSeq).foldLeft(live)(_ intersect _)
  }

  /** External filter value as a typed Catalyst literal, only when its
    * type matches the column's exactly (a promoted comparison must not
    * hash/compare under the wrong physical type).
    */
  private def typedLit(meta: ScanMeta, col: String,
      v: Any): Option[Literal] = {
    if (v == null) return None
    val f = meta.schema.fields.find(_.name.equalsIgnoreCase(col))
      .getOrElse(return None)
    scala.util.Try(Literal(v)).toOption.filter(_.dataType == f.dataType)
  }

  private def isKey(meta: ScanMeta, a: String): Boolean =
    meta.keys.size == 1 && a.equalsIgnoreCase(meta.keys.head)

  private def isVersion(meta: ScanMeta, a: String): Boolean =
    meta.versionCol.exists(a.equalsIgnoreCase)

  private[catalog] def clusterCols(meta: ScanMeta): Seq[String] =
    meta.props.get("cluster_by")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  /** The stored-name spelling of a clusterBy column matching pushed
    * attribute `a`, or None when `a` is not a cluster column. */
  private def clusterOf(meta: ScanMeta, a: String): Option[String] =
    clusterCols(meta).find(a.equalsIgnoreCase)

  /** Same physical hash the writers bucket by
    * ([[graft.cdc.Bucketing]]: `pmod(xxhash64(keys…), n)`), folded on
    * already-internal Catalyst literals driver-side.
    */
  private def bucketOf(meta: ScanMeta, l: Literal): Int =
    Bucketing.bucketOfLiterals(Seq(l), meta.nBuckets)

  /** True iff the stored stringified stat, cast back to the column's
    * type, satisfies `op(stat, lit)` — missing stat or null/failed
    * comparison keeps the bucket.
    */
  private def statHolds(meta: ScanMeta, stat: Option[String], l: Literal,
      op: (org.apache.spark.sql.catalyst.expressions.Expression,
           org.apache.spark.sql.catalyst.expressions.Expression) =>
           org.apache.spark.sql.catalyst.expressions.Expression)
      : Boolean =
    stat match {
      case None => true
      case Some(s) =>
        val typed = Cast(Literal(UTF8String.fromString(s),
          org.apache.spark.sql.types.StringType), l.dataType,
          Some(SQLConf.get.sessionLocalTimeZone))
        scala.util.Try(op(typed, l).eval()).toOption match {
          case Some(b: Boolean) => b
          case _ => true
        }
    }

  /** A bucket's zone-mapped components: base files ([minv, maxv]) and
    * the merge-on-read delta union (max only).
    */
  private def comps(meta: ScanMeta,
      b: Int): Seq[(Option[String], Option[String])] =
    meta.buckets.get(b).map(_ =>
      (meta.props.get(s"minv.$b"), meta.props.get(s"maxv.$b"))).toSeq ++
    meta.deltas.get(b).map(_ =>
      (None, meta.props.get(s"dmaxv.$b"))).toSeq

  /** Cluster-column zone components (r12): base files carry
    * `cmin.<b>.<col>` / `cmax.<b>.<col>`; merge-on-read delta files
    * record no cluster stats, so a dirty bucket contributes an
    * unbounded component and is always kept.
    */
  private def clusterComps(meta: ScanMeta, b: Int,
      c: String): Seq[(Option[String], Option[String])] =
    meta.buckets.get(b).map(_ =>
      (meta.props.get(s"cmin.$b.$c"),
        meta.props.get(s"cmax.$b.$c"))).toSeq ++
    meta.deltas.get(b).map(_ =>
      (None: Option[String], None: Option[String])).toSeq

  private def clusterZonePass(meta: ScanMeta, c: String)(
      keep: ((Option[String], Option[String])) => Boolean): Set[Int] =
    meta.liveIds.filter { b =>
      val cs = clusterComps(meta, b, c)
      cs.isEmpty || cs.exists(keep)
    }

  private def zonePass(meta: ScanMeta)(
      keep: ((Option[String], Option[String])) => Boolean): Set[Int] =
    meta.liveIds.filter { b =>
      val cs = comps(meta, b)
      cs.isEmpty || cs.exists(keep)
    }

  import org.apache.spark.sql.catalyst.expressions.{GreaterThan => GT, GreaterThanOrEqual => GTE, LessThan => LT, LessThanOrEqual => LTE}
  import org.apache.spark.sql.{sources => s}

  /** True when every pushed filter provably filters NOTHING: an
    * IsNotNull on a cluster column whose recorded per-bucket null
    * tallies (`cnul.<b>.<col>`) over the kept buckets all read zero.
    * Join planning inserts exactly that shape under every equi-join,
    * so without this carve-out a join's scan would never report the
    * manifest-exact row count or the cluster-column NDV (r13).
    */
  private[catalog] def noopPushes(meta: ScanMeta, kept: Iterable[Int],
      pushed: Array[Filter]): Boolean =
    kept.nonEmpty && pushed.forall {
      case s.IsNotNull(a) => clusterOf(meta, a).exists { c =>
        val ns = kept.toSeq.map(b => meta.props.get(s"cnul.$b.$c"))
        !ns.exists(_.isEmpty) && ns.flatten.forall(_.toLong == 0L)
      }
      case _ => false
    }

  /** Per-(`_tp` leaf) cluster admission (r13): true unless some pushed
    * conjunct's leaf bounds for (bucket `b`, leaf `tp`) refute it —
    * missing bounds (flat layout, capped bucket, pre-r13 manifest)
    * admit. The pushed array is a conjunction, so every element must
    * hold for any matching row; a leaf whose recorded [cmin, cmax]
    * refutes one conjunct cannot hold a match, and Spark re-applies
    * every filter above the scan. Callers gate on rangeOk — CLEAN
    * buckets only, the same fold invariant as the `_tp` range
    * admission (a dirty bucket's fold decides winners over full
    * history).
    */
  private[catalog] def leafAdmits(meta: ScanMeta, pushed: Array[Filter],
      b: Int, tp: Int): Boolean =
    pushed.forall(leafAdmit(meta, _, b, tp))

  private def leafBound(meta: ScanMeta, b: Int, tp: Int,
      c: String): (Option[String], Option[String]) =
    (meta.props.get(s"cmin.$b.$tp.$c"),
      meta.props.get(s"cmax.$b.$tp.$c"))

  /** Leaf-granular VERSION bounds (r14): `vminl.<b>.<tp>` /
    * `vmaxl.<b>.<tp>` — the version-range twin of the cluster leaf
    * maps, for tables whose version does not correlate with time.
    */
  private def leafVBound(meta: ScanMeta, b: Int,
      tp: Int): (Option[String], Option[String]) =
    (meta.props.get(s"vminl.$b.$tp"), meta.props.get(s"vmaxl.$b.$tp"))

  private def leafAdmit(meta: ScanMeta, f: Filter, b: Int,
      tp: Int): Boolean = f match {
    case s.And(l, r) =>
      leafAdmit(meta, l, b, tp) && leafAdmit(meta, r, b, tp)
    case s.GreaterThan(a, v) if isVersion(meta, a) =>
      typedLit(meta, a, v).forall(l =>
        statHolds(meta, leafVBound(meta, b, tp)._2, l, GT))
    case s.GreaterThanOrEqual(a, v) if isVersion(meta, a) =>
      typedLit(meta, a, v).forall(l =>
        statHolds(meta, leafVBound(meta, b, tp)._2, l, GTE))
    case s.LessThan(a, v) if isVersion(meta, a) =>
      typedLit(meta, a, v).forall(l =>
        statHolds(meta, leafVBound(meta, b, tp)._1, l, LT))
    case s.LessThanOrEqual(a, v) if isVersion(meta, a) =>
      typedLit(meta, a, v).forall(l =>
        statHolds(meta, leafVBound(meta, b, tp)._1, l, LTE))
    case s.EqualTo(a, v) if isVersion(meta, a) =>
      typedLit(meta, a, v).forall { l =>
        val (mn, mx) = leafVBound(meta, b, tp)
        statHolds(meta, mn, l, LTE) && statHolds(meta, mx, l, GTE)
      }
    case s.GreaterThan(a, v) if clusterOf(meta, a).isDefined =>
      val c = clusterOf(meta, a).get
      typedLit(meta, a, v).forall(l =>
        statHolds(meta, leafBound(meta, b, tp, c)._2, l, GT))
    case s.GreaterThanOrEqual(a, v) if clusterOf(meta, a).isDefined =>
      val c = clusterOf(meta, a).get
      typedLit(meta, a, v).forall(l =>
        statHolds(meta, leafBound(meta, b, tp, c)._2, l, GTE))
    case s.LessThan(a, v) if clusterOf(meta, a).isDefined =>
      val c = clusterOf(meta, a).get
      typedLit(meta, a, v).forall(l =>
        statHolds(meta, leafBound(meta, b, tp, c)._1, l, LT))
    case s.LessThanOrEqual(a, v) if clusterOf(meta, a).isDefined =>
      val c = clusterOf(meta, a).get
      typedLit(meta, a, v).forall(l =>
        statHolds(meta, leafBound(meta, b, tp, c)._1, l, LTE))
    case s.EqualTo(a, v) if clusterOf(meta, a).isDefined =>
      val c = clusterOf(meta, a).get
      typedLit(meta, a, v).forall { l =>
        val (mn, mx) = leafBound(meta, b, tp, c)
        statHolds(meta, mn, l, LTE) && statHolds(meta, mx, l, GTE)
      }
    // OR branches and every other shape: admit — the bucket-level
    // zone pass already handled whatever was prunable there
    case _ => true
  }

  /** The allowed-bucket set one filter implies (None = not prunable).
    * AND intersects with None-as-residual; OR unions only when both
    * branches prune (an unprunable branch could match anywhere).
    */
  private def allowed(meta: ScanMeta, f: Filter): Option[Set[Int]] =
    f match {
      case s.And(l, r) => (allowed(meta, l), allowed(meta, r)) match {
        case (Some(a), Some(b)) => Some(a.intersect(b))
        case (a, b) => a.orElse(b)
      }
      case s.Or(l, r) =>
        for { a <- allowed(meta, l); b <- allowed(meta, r) }
          yield a.union(b)
      case s.EqualTo(a, v) if isKey(meta, a) =>
        typedLit(meta, a, v).map(l => Set(bucketOf(meta, l)))
      case s.EqualNullSafe(a, v) if isKey(meta, a) && v != null =>
        typedLit(meta, a, v).map(l => Set(bucketOf(meta, l)))
      case s.In(a, vs) if isKey(meta, a) && vs.nonEmpty =>
        // same driver-side hashing cost guard as the runtime path: an
        // IN list bigger than the bucket space cannot prune much —
        // skip rather than fold xxhash64 over a huge literal set here
        if (vs.length > 4 * meta.nBuckets + 1) None
        else {
          val ls = vs.toSeq.map(typedLit(meta, a, _))
          if (ls.exists(_.isEmpty)) None
          else Some(ls.flatten.map(bucketOf(meta, _)).toSet)
        }
      case s.GreaterThan(a, v) if isVersion(meta, a) =>
        typedLit(meta, a, v).map(l =>
          zonePass(meta)(c => statHolds(meta, c._2, l, GT)))
      case s.GreaterThanOrEqual(a, v) if isVersion(meta, a) =>
        typedLit(meta, a, v).map(l =>
          zonePass(meta)(c => statHolds(meta, c._2, l, GTE)))
      case s.LessThan(a, v) if isVersion(meta, a) =>
        typedLit(meta, a, v).map(l =>
          zonePass(meta)(c => statHolds(meta, c._1, l, LT)))
      case s.LessThanOrEqual(a, v) if isVersion(meta, a) =>
        typedLit(meta, a, v).map(l =>
          zonePass(meta)(c => statHolds(meta, c._1, l, LTE)))
      case s.EqualTo(a, v) if isVersion(meta, a) =>
        typedLit(meta, a, v).map(l => zonePass(meta)(c =>
          statHolds(meta, c._1, l, LTE) &&
            statHolds(meta, c._2, l, GTE)))
      // cluster-column zone maps (r12): the range predicates
      // clusterBy lays data out for prune whole buckets from the
      // manifest's per-bucket [cmin, cmax] bounds — the same typed
      // conservative compare as the version maps
      case s.GreaterThan(a, v) if clusterOf(meta, a).isDefined =>
        val c = clusterOf(meta, a).get
        typedLit(meta, a, v).map(l =>
          clusterZonePass(meta, c)(x => statHolds(meta, x._2, l, GT)))
      case s.GreaterThanOrEqual(a, v) if clusterOf(meta, a).isDefined =>
        val c = clusterOf(meta, a).get
        typedLit(meta, a, v).map(l =>
          clusterZonePass(meta, c)(x => statHolds(meta, x._2, l, GTE)))
      case s.LessThan(a, v) if clusterOf(meta, a).isDefined =>
        val c = clusterOf(meta, a).get
        typedLit(meta, a, v).map(l =>
          clusterZonePass(meta, c)(x => statHolds(meta, x._1, l, LT)))
      case s.LessThanOrEqual(a, v) if clusterOf(meta, a).isDefined =>
        val c = clusterOf(meta, a).get
        typedLit(meta, a, v).map(l =>
          clusterZonePass(meta, c)(x => statHolds(meta, x._1, l, LTE)))
      case s.EqualTo(a, v) if clusterOf(meta, a).isDefined =>
        val c = clusterOf(meta, a).get
        typedLit(meta, a, v).map(l => clusterZonePass(meta, c)(x =>
          statHolds(meta, x._1, l, LTE) &&
            statHolds(meta, x._2, l, GTE)))
      case s.In(a, vs) if clusterOf(meta, a).isDefined && vs.nonEmpty =>
        val c = clusterOf(meta, a).get
        if (vs.length > 4 * meta.nBuckets + 1) None
        else {
          val ls = vs.toSeq.map(typedLit(meta, a, _))
          if (ls.exists(_.isEmpty)) None
          else Some(clusterZonePass(meta, c)(x => ls.flatten.exists(l =>
            statHolds(meta, x._1, l, LTE) &&
              statHolds(meta, x._2, l, GTE))))
        }
      case s.In(a, vs) if isVersion(meta, a) && vs.nonEmpty =>
        // cap for the same reason: the zone pass is O(|vs| * buckets)
        // on the driver and a huge IN rarely narrows a version range
        if (vs.length > 4 * meta.nBuckets + 1) None
        else {
          val ls = vs.toSeq.map(typedLit(meta, a, _))
          if (ls.exists(_.isEmpty)) None
          else Some(zonePass(meta)(c => ls.flatten.exists(l =>
            statHolds(meta, c._1, l, LTE) &&
              statHolds(meta, c._2, l, GTE))))
        }
      case _ => None
    }

  /** Runtime (v2 Predicate) bucket pruning for row-level operations:
    * the IN / equality predicates Spark pushes after evaluating the
    * MERGE source or DELETE condition subquery. Single-key tables
    * only (guarded by `filterAttributes`); unknown shapes mean
    * "cannot prune" (None), never "prune everything".
    */
  def runtimeBucketsOf(meta: ScanMeta,
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[Set[Int]] = {
    import org.apache.spark.sql.connector.expressions.{Expression => VExpr, Literal => VLit, NamedReference}
    if (meta.keys.size != 1) return None
    val key = meta.keys.head
    val keyType = meta.schema.fields
      .find(_.name.equalsIgnoreCase(key)).map(_.dataType)
      .getOrElse(return None)
    def isKeyRef(e: VExpr): Boolean = e match {
      case r: NamedReference =>
        r.fieldNames.length == 1 && r.fieldNames()(0).equalsIgnoreCase(key)
      case _ => false
    }
    def litBucket(e: VExpr): Option[Int] = e match {
      case l: VLit[_] if l.dataType == keyType && l.value != null =>
        Some(Bucketing.bucketOfLiterals(Seq(Literal(l.value, l.dataType)),
          meta.nBuckets))
      case _ => None
    }
    p.name() match {
      // driver-side hashing cost guard: a runtime IN-set bigger than
      // the bucket space can't prune much anyway — skip rather than
      // fold hashes over millions of literals on the driver
      case "IN" if p.children().length > 4 * meta.nBuckets + 1 => None
      case "IN" if p.children().nonEmpty && isKeyRef(p.children()(0)) =>
        val lits = p.children().drop(1).toSeq.map(litBucket)
        if (lits.exists(_.isEmpty)) None else Some(lits.flatten.toSet)
      case "=" | "<=>" if p.children().length == 2 =>
        val Array(a, b) = p.children()
        if (isKeyRef(a)) litBucket(b).map(Set(_))
        else if (isKeyRef(b)) litBucket(a).map(Set(_))
        else None
      case "AND" =>
        val kids = p.children().toSeq.collect {
          case c: org.apache.spark.sql.connector.expressions.filter
            .Predicate => runtimeBucketsOf(meta, c)
        }
        val known = kids.flatten
        if (known.isEmpty) None else Some(known.reduce(_ intersect _))
      case "OR" =>
        val kids = p.children().toSeq.collect {
          case c: org.apache.spark.sql.connector.expressions.filter
            .Predicate => runtimeBucketsOf(meta, c)
        }
        if (kids.size == 2 && kids.forall(_.isDefined))
          Some(kids.flatten.reduce(_ union _))
        else None
      case _ => None
    }
  }

  /** Composite-key RUNTIME pruning: dynamic partition pruning on a
    * composite-keyed table arrives as one single-column IN per join
    * key (Spark plans each equi-join key's DPP filter independently).
    * One column alone cannot pin a tuple hash, but when EVERY key
    * column carries a bounded literal set, the actual join tuples are
    * a subset of the sets' cross product — hashing the product is
    * sound (it can only keep extra buckets, never drop a real one).
    * The product is capped like the single-key path: beyond
    * 4·nBuckets tuples the driver-side hashing cannot pay for itself.
    */
  def runtimeBucketsComposite(meta: ScanMeta,
      predicates: Seq[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Option[Set[Int]] = {
    import org.apache.spark.sql.connector.expressions.{Expression => VExpr, Literal => VLit, NamedReference}
    if (meta.keys.size <= 1) return None
    def flat(p: org.apache.spark.sql.connector.expressions.filter
        .Predicate): Seq[org.apache.spark.sql.connector.expressions
        .filter.Predicate] =
      if (p.name() == "AND")
        p.children().toSeq.collect {
          case c: org.apache.spark.sql.connector.expressions.filter
            .Predicate => c
        }.flatMap(flat)
      else Seq(p)
    def keyRef(e: VExpr): Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        meta.keys.find(_.equalsIgnoreCase(r.fieldNames()(0)))
      case _ => None
    }
    def lit(e: VExpr, key: String): Option[Literal] = {
      val keyType = meta.schema.fields
        .find(_.name.equalsIgnoreCase(key)).map(_.dataType)
      e match {
        case l: VLit[_] if keyType.contains(l.dataType) && l.value != null =>
          Some(Literal(l.value, l.dataType))
        case _ => None
      }
    }
    // per-key literal sets from the predicates' IN / = / <=> atoms;
    // several atoms on one key intersect (all must hold)
    val perKey = scala.collection.mutable.Map.empty[String, Set[Literal]]
    def bind(key: String, vals: Set[Literal]): Unit =
      perKey(key) = perKey.get(key).map(_ intersect vals).getOrElse(vals)
    predicates.flatMap(flat).foreach { p =>
      p.name() match {
        case "IN" if p.children().nonEmpty =>
          keyRef(p.children()(0)).foreach { k =>
            val ls = p.children().drop(1).toSeq.map(lit(_, k))
            if (!ls.exists(_.isEmpty)) bind(k, ls.flatten.toSet)
          }
        case "=" | "<=>" if p.children().length == 2 =>
          val Array(a, b) = p.children()
          keyRef(a).foreach(k => lit(b, k).foreach(l => bind(k, Set(l))))
          keyRef(b).foreach(k => lit(a, k).foreach(l => bind(k, Set(l))))
        case _ => ()
      }
    }
    if (!meta.keys.forall(perKey.contains)) return None
    val sets = meta.keys.map(perKey)
    if (sets.exists(_.isEmpty))
      return Some(Set.empty) // a key bound to nothing
    // overflow-safe product cap: multiply with an early exit — a
    // plain .product of four ~55k-literal sets wraps a Long negative
    // and would sail past the guard into an astronomic cross product
    val cap = 4L * meta.nBuckets + 1
    var product = 1L
    sets.foreach { s =>
      product = product * s.size
      if (product > cap || product <= 0) return None
    }
    def cross(ss: Seq[Set[Literal]]): Seq[Seq[Literal]] = ss match {
      case Seq() => Seq(Seq.empty)
      case head +: tail =>
        for (h <- head.toSeq; t <- cross(tail)) yield h +: t
    }
    Some(cross(sets).map(tuple =>
      Bucketing.bucketOfLiterals(tuple, meta.nBuckets)).toSet)
  }

  /** Composite-key point pruning: conjuncts binding EVERY key column
    * to a same-typed literal pin exactly one bucket (the SQL form of
    * the tuple lookup). Conflicting duplicate bindings pick one
    * arbitrarily — sound, the residual filter matches nothing.
    */
  private def compositeBucket(meta: ScanMeta,
      pushed: Array[Filter]): Option[Set[Int]] = {
    if (meta.keys.size <= 1) return None
    def conjuncts(f: Filter): Seq[Filter] = f match {
      case s.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case o => Seq(o)
    }
    val bindings: Map[String, Literal] = pushed.toSeq.flatMap(conjuncts)
      .flatMap {
        case s.EqualTo(a, v) => typedLit(meta, a, v)
          .map(a.toLowerCase -> _)
        case s.EqualNullSafe(a, v) if v != null =>
          typedLit(meta, a, v).map(a.toLowerCase -> _)
        case _ => None
      }.toMap
    if (meta.keys.forall(k => bindings.contains(k.toLowerCase)))
      Some(Set(Bucketing.bucketOfLiterals(
        meta.keys.map(k => bindings(k.toLowerCase)), meta.nBuckets)))
    else None
  }
}
