package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BasePredicate, BoundReference, CreateStruct, InSet, Literal, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
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

/** Driver-local point read of a maintained table of any kind (merge,
  * scd2, aggview): the catalog scan ([[GraftScan]]) plans the pinned
  * buckets, exactly as it would for a SQL point select, and the
  * planned partitions are then read and folded ([[GraftFold]]) on the
  * calling thread instead of in a Spark job. Rows are filtered to the
  * looked-up keys before the fold. Key equality is fold-safe, because
  * every row a key folds from carries the key, so driver memory stays
  * at those keys' rows. The result is a
  * [[GraftPointRelation]] holding the rows already read: collecting it
  * runs no Spark job and analyzes no fold plan.
  */
private[graft] object GraftPointRead {

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
    // a null key value equals no key
    val wanted = tuples.filterNot(_.exists(_.value == null))
    val scan = new GraftScan(spark, dir, None, schema,
      pushedOf(meta.keys, wanted), resolved = Some(meta),
      pin = Some(wanted.map(Bucketing.bucketOfLiterals(_, meta.nBuckets))
        .toSet))
    val files = scan.plannedFiles
    val rows =
      if (files.isEmpty) Vector.empty[InternalRow]
      else {
        val factory = scan.createReaderFactory()
          .asInstanceOf[GraftReaderFactory]
        readAll(factory, scan.planInputPartitions().toSeq, meta.keys,
          wanted, schema)
      }
    val output = DataTypeUtils.toAttributes(GraftBridge.asNullable(schema))
    GraftBridge.ofRows(spark, new GraftPointRelation(output, rows,
      isStreaming = false, stream = None, files.map(_._1)))
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
