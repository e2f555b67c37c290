package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BasePredicate, BoundReference, CreateStruct, InSet, Literal, Predicate, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.read.{LocalScan, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.SparkDataStream
import org.apache.spark.sql.execution.FileRelation
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType

import graft.cdc.{Bucketing, TxLog}

/** A local relation that also names the files its rows came from, so
  * `Dataset.inputFiles` still reports what a point read opened. It is
  * returned bare: a Filter or Project above it would be folded by
  * `ConvertToLocalRelation` into a plain `LocalRelation`, which drops
  * the file list. `files` rides through tree copies as an extra
  * constructor argument.
  */
private[graft] class GraftPointRelation(output: Seq[Attribute],
    data: Seq[InternalRow], isStreaming: Boolean,
    stream: Option[SparkDataStream], val files: Seq[String])
    extends LocalRelation(output, data, isStreaming, stream)
    with FileRelation {
  override def inputFiles: Array[String] = files.toArray
  override protected def otherCopyArgs: Seq[AnyRef] = Seq(files)
}

/** A catalog SELECT whose pushed filters bind every key column and pin
  * at most one bucket ([[GraftPrune.pointTuples]]). Spark plans a `LocalScan` as a
  * `LocalTableScanExec`, whose `collect()` and `take()` run no Spark
  * job. The rows are [[GraftPointRead.rows]] of the one manifest the
  * scan builder resolved (`meta`: the latest, or the `VERSION AS OF`
  * one), projected to the pruned columns. They are read the first
  * time Spark asks for them or for statistics, which is while the
  * query is planned, EXPLAIN included.
  */
private[catalog] final class GraftPointScan(val spark: SparkSession,
    val meta: ScanMeta, asOf: Option[Long], required: StructType,
    tuples: Seq[Seq[Literal]]) extends LocalScan
    with SupportsReportStatistics {

  GraftScan.refuseOrder(required)

  private lazy val read = GraftPointRead.rows(spark, meta, required, tuples)

  override def readSchema(): StructType = required

  override def rows(): Array[InternalRow] = read.rows.toArray

  /** Every file the read opened, with its length. */
  def plannedFiles: Seq[(String, Long)] = read.files

  override def description(): String =
    s"GraftPointScan ${meta.dir}" +
      s"${asOf.map(v => s" asOf=$v").getOrElse("")} keys=${tuples.size}"

  /** Exact rows, and the opened files' bytes, as [[GraftScan]] reports
    * its pruned listing: a point select stays small to join planning.
    */
  override def estimateStatistics(): Statistics = {
    val r = read
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(r.files.map(_._2).sum, 1L))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(r.rows.size.toLong)
    }
  }
}

/** Driver-local point read of a maintained table of any kind (merge,
  * scd2, aggview): the catalog scan ([[GraftScan]]) plans the pinned
  * buckets and the planned partitions are then read and folded
  * ([[GraftFold]]) on the calling thread instead of in a Spark job.
  * Rows are filtered to the looked-up keys before the fold. Key
  * equality is fold-safe, because every row a key folds from carries
  * the key, so driver memory stays at those keys' rows. [[rows]] is
  * the read itself, shared by the API lookups ([[read]], which wraps
  * the rows in a [[GraftPointRelation]]) and the catalog's SQL point
  * select ([[GraftPointScan]]): neither runs a Spark job or analyzes
  * a fold plan.
  */
private[graft] object GraftPointRead {

  /** A point read's live rows, in the layout of the columns it was
    * asked for, and every file it opened with its length.
    */
  final case class Rows(rows: Vector[InternalRow], files: Seq[(String, Long)])

  /** The live rows of `keyValues`, read from the buckets they hash
    * into, planned and read under `spark`'s confs. A key value is the
    * bare value on a single-key table, or the key TUPLE as a Seq in
    * `snap`'s key order (a Seq of one also works); each is cast to the
    * key columns' types in `schema` ([[Bucketing.keyLiterals]]).
    */
  def read(spark: SparkSession, dir: String, snap: TxLog.Snapshot,
      schema: StructType, keyValues: Seq[Any]): DataFrame = {
    val meta = ScanMeta.of(dir, snap, schema)
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val tuples = keyValues.map { v =>
      val vals = v match {
        case s: Seq[_] => s.toSeq
        case x => Seq(x)
      }
      require(vals.size == meta.keys.size, s"key tuple arity ${vals.size} " +
        s"!= table key (${meta.keys.mkString(", ")})")
      Bucketing.keyLiterals(schema, meta.keys, vals, tz)
    }
    val got = rows(spark, meta, schema, tuples)
    val output = DataTypeUtils.toAttributes(GraftBridge.asNullable(schema))
    GraftBridge.ofRows(spark, new GraftPointRelation(output, got.rows,
      isStreaming = false, stream = None, got.files.map(_._1)))
  }

  /** The live rows of the key `tuples` (literals typed as the key
    * columns, in `meta.keys` order) in `meta`'s snapshot, projected to
    * `required`. A tuple holding a null matches no key. The key
    * columns are read whether or not `required` holds them, since the
    * rows are filtered on them here.
    */
  def rows(spark: SparkSession, meta: ScanMeta, required: StructType,
      tuples: Seq[Seq[Literal]]): Rows = {
    val wanted = tuples.filterNot(_.exists(_.value == null))
    val missing = meta.keys.filterNot(k =>
      required.fieldNames.exists(_.equalsIgnoreCase(k)))
    val readSchema = StructType(required.fields ++ missing.map(k =>
      meta.schema.fields.find(_.name.equalsIgnoreCase(k)).get))
    val scan = new GraftScan(spark, meta.dir, None, readSchema,
      pushedOf(meta.keys, wanted), resolved = Some(meta),
      pin = Some(wanted.map(Bucketing.bucketOfLiterals(_, meta.nBuckets))
        .toSet))
    val files = scan.plannedFiles
    val read =
      if (files.isEmpty) Vector.empty[InternalRow]
      else {
        val factory = scan.createReaderFactory()
          .asInstanceOf[GraftReaderFactory]
        readAll(factory, scan.planInputPartitions().toSeq, meta.keys,
          wanted, readSchema)
      }
    if (missing.isEmpty) Rows(read, files)
    else {
      val proj = UnsafeProjection.create(required.fields.indices.map(i =>
        BoundReference(i, required.fields(i).dataType, nullable = true)))
      Rows(read.map(r => proj(r).copy()), files)
    }
  }

  private def readAll(factory: GraftReaderFactory,
      parts: Seq[org.apache.spark.sql.connector.read.InputPartition],
      keys: Seq[String], tuples: Seq[Seq[Literal]],
      schema: StructType): Vector[InternalRow] = {
    val out = Vector.newBuilder[InternalRow]
    val keep = keyPredicate(schema, keys, tuples)
    lazy val folding = factory.withFoldPrefilter(keyPredicate(
      factory.foldSpec.get.foldInput, keys, tuples))
    // every reader closes its open file on failure too: there is no
    // task here whose completion would release it
    parts.foreach {
      case p: GraftCleanPartition =>
        if (factory.columnar) {
          val r = factory.createColumnarReader(p)
          try while (r.next())
            r.get().rowIterator().asScala.foreach(row =>
              if (keep.eval(row)) out += row.copy())
          finally r.close()
        } else {
          val r = factory.createReader(p)
          try while (r.next()) {
            val row = r.get()
            if (keep.eval(row)) out += row.copy()
          } finally r.close()
        }
      case p: GraftFoldPartition =>
        // the fold reads every file before it returns a row, and
        // closes each file as it goes
        val r = folding.createReader(p)
        try while (r.next()) out += r.get().copy()
        finally r.close()
      case other => throw new IllegalStateException(
        s"unexpected partition $other")
    }
    out.result()
  }

  /** Key membership in `tuples`, bound to `in`: a hash-set probe on
    * the key column, or on the struct of the key columns for a
    * composite key (ordered-set probe, SQL equality). Interpreted: the
    * literals differ on every call, so a generated class would be
    * compiled per lookup.
    */
  private def keyPredicate(in: StructType, keys: Seq[String],
      tuples: Seq[Seq[Literal]]): BasePredicate = {
    val refs = keys.map { k =>
      val i = in.fields.indexWhere(_.name.equalsIgnoreCase(k))
      BoundReference(i, in.fields(i).dataType, nullable = true)
    }
    val e =
      if (refs.size == 1) InSet(refs.head, tuples.map(_.head.value).toSet)
      else InSet(CreateStruct(refs),
        tuples.map(t => InternalRow.fromSeq(t.map(_.value)): Any).toSet)
    val p = Predicate.createInterpreted(e)
    p.initialize(0)
    p
  }

  /** The key values as source filters for the clean readers' parquet
    * pushdown, one flat `IN` per key column (a superset for composite
    * keys). Row-group pruning only: rows are filtered on the driver
    * regardless.
    */
  private def pushedOf(keys: Seq[String],
      tuples: Seq[Seq[Literal]]): Array[sources.Filter] =
    if (tuples.isEmpty) Array.empty
    else keys.indices.map { i =>
      val vs = tuples.map(t =>
        CatalystTypeConverters.convertToScala(t(i).value, t(i).dataType))
        .distinct
      if (vs.size == 1) sources.EqualTo(keys(i), vs.head)
      else sources.In(keys(i), vs.toArray)
    }.toArray
}
