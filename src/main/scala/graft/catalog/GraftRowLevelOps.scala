package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.cdc.{Compaction, TxLog}

/** What the row-level SCAN resolved, handed to the WRITE: the snapshot
  * version it planned against (the lost-update fence) and the bucket
  * set it read (the groups the replace must cover). Populated at
  * partition-planning time — strictly before any task runs, so the
  * driver-side commit always sees the final (runtime-filtered) set.
  */
private[catalog] final class GraftRowTracker {
  @volatile var version: Long = -1L
  @volatile var buckets: Set[Int] = Set.empty
}

/** GROUP-based v2 row-level operations for maintained merge tables —
  * the standard-connector route for MERGE/UPDATE/DELETE, so a session
  * WITHOUT the [[graft.plans.GraftDml]] extension rule (or a
  * third-party engine planning through the connector API) still gets
  * correct DML:
  *
  *  - the SCAN is the same native [[GraftScan]] every read uses, plus
  *    runtime group filtering (`SupportsRuntimeV2Filtering` on the
  *    merge key): Spark pushes the source/condition keys at runtime,
  *    so a MERGE/DELETE touching k keys replaces ≤ k buckets, not the
  *    table;
  *  - the WRITE stages Spark's computed post-image rows as parquet
  *    (one file per partition) and commits ONE
  *    [[Compaction.replaceBuckets]] — group replace with the
  *    `expectedBase` lost-update fence, tombstone drop, and the
  *    key-immutability guard.
  *
  * The GraftDml lowering remains the primary route (it additionally
  * emits change-feed events, which a group replace cannot — Spark
  * hands over post-images only); this path exists for planner
  * compatibility and refuses nothing it cannot honor.
  */
private[catalog] final class GraftRowLevelOperation(dir: String,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  private val tracker = new GraftRowTracker

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"GraftRowLevelOperation $cmd $dir"

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.active
    val schema = {
      val props = TxLog.latest(spark, dir).getOrElse(
        throw new IllegalArgumentException(
          s"no committed manifest under $dir")).props
      org.apache.spark.sql.types.DataType.fromJson(props("schema_json"))
        .asInstanceOf[StructType]
    }
    new GraftScanBuilder(spark, dir, None, schema, Some(tracker))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // Decide marker handling from the PLAN, not per-row arity, when
    // the write schema makes it visible: a future Spark that exposes
    // the __row_operation marker in LogicalWriteInfo gets a
    // build-time strip decision; the current one (marker present in
    // physical rows but absent from info.schema()) falls back to a
    // validated arity check in the writer that fails loudly on any
    // unexpected shape instead of silently mis-projecting.
    val opCol =
      org.apache.spark.sql.catalyst.util.RowDeltaUtils.OPERATION_COLUMN
    val declared = info.schema()
    val (dataSchema, knownStrip) =
      if (declared.nonEmpty && declared.head.name == opCol)
        (StructType(declared.tail), Some(true))
      else (declared, None)
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new GraftReplaceBatchWrite(dir, dataSchema, tracker,
            allowInserts = cmd == RowLevelOperation.Command.MERGE,
            knownStrip = knownStrip)
      }
    }
  }
}

/** The replace write: staged parquet per partition, one fenced
  * [[Compaction.replaceBuckets]] at commit. An all-rows-deleted group
  * commits an EMPTY replacement (the groups must still be rewritten).
  */
private[catalog] final class GraftReplaceBatchWrite(dir: String,
    writeSchema: StructType, tracker: GraftRowTracker,
    allowInserts: Boolean,
    knownStrip: Option[Boolean] = None) extends BatchWrite {

  private def spark: SparkSession = SparkSession.active

  private val stagingRoot =
    s"$dir/.rowop-${java.util.UUID.randomUUID().toString.take(8)}"

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val (owf, confEntries) = GraftStage.prepare(spark, writeSchema)
    new GraftReplaceWriterFactory(stagingRoot, writeSchema, owf,
      confEntries, knownStrip)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.collect {
      case m: GraftStagedFile if m.rows > 0 => m.path
    }
    val s = spark
    require(tracker.version >= 0,
      "row-level write committed before its scan planned — cannot " +
        "determine the replaced groups")
    val replacement =
      if (staged.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          writeSchema)
      else s.read.schema(writeSchema).parquet(staged.toSeq: _*)
    try Compaction.replaceBuckets(s, dir, replacement,
      tracker.buckets, tracker.version,
      insertsOutsideGroups = allowInserts)
    finally TxLog.hygiene {
      TxLog.fs(s, dir).delete(new Path(stagingRoot), true)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    TxLog.hygiene {
      TxLog.fs(spark, dir).delete(new Path(stagingRoot), true)
    }
}

private[catalog] final class GraftReplaceWriterFactory(
    stagingRoot: String, schema: StructType,
    owf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    confEntries: Map[String, String],
    knownStrip: Option[Boolean]) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val inner = GraftStage.writer(
      f"$stagingRoot/part-$partitionId%05d-$taskId.parquet",
      partitionId, taskId, schema, owf, confEntries)
    // Spark's group-based ReplaceData query PREPENDS a __row_operation
    // marker column (RowDeltaUtils.OPERATION_COLUMN) that the
    // execution layer only strips when the connector declares metadata
    // columns (DataAndMetadataWritingSparkTask; metadata-less plans
    // take the plain task and hand the marker through) — project it
    // off here so the staged files carry exactly the data schema.
    new org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] {
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
      private lazy val stripOp = UnsafeProjection.create(
        schema.fields.zipWithIndex.map { case (f, i) =>
          BoundReference(i + 1, f.dataType, nullable = true)
        }.toSeq)
      // strip decided at BUILD time when the plan exposed the marker
      // (knownStrip), otherwise from the first row's arity — the only
      // two legal arities are the data schema and data+marker; any
      // other shape means Spark changed the physical row layout, and
      // silently projecting would shift every column by one, so fail.
      private var strip = knownStrip.map(b => if (b) 1 else 0).getOrElse(-1)
      private def decide(n: Int): Int =
        if (n == schema.length) 0
        else if (n == schema.length + 1) 1
        else throw new IllegalStateException(
          s"row-level write received rows of arity $n for a " +
            s"${schema.length}-column table: the physical row layout " +
            "does not match data or data+__row_operation — refusing " +
            "to mis-project staged rows")
      override def write(r: InternalRow): Unit = {
        if (strip < 0) strip = decide(r.numFields)
        else if (r.numFields != schema.length + strip)
          throw new IllegalStateException(
            s"row-level write arity changed mid-stream: expected " +
              s"${schema.length + strip} fields, got ${r.numFields}")
        inner.write(if (strip == 1) stripOp(r) else r)
      }
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
  }
}
