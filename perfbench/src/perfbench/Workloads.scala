package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.{col, lit, sum, when}

import graft.cdc.{CdcEngine, Compaction, Replicator, Schemas, Seeder, WatermarkStore}

/** A benchmark workload: a set-up that builds its tables from the seed,
  * closed-loop clients that call the engine until a deadline, and the
  * checks and end-to-end numbers of one measured phase.
  */
trait Workload {
  /** Build fresh tables and client state under `dir` from the seed. */
  def build(dir: String): Unit
  /** Warm-up calls on the built state, before any measurement. */
  def warmUp(): Unit
  def clients: Seq[Long => Unit]
  /** End-to-end numbers of one measured phase. */
  def endToEnd(phase: String): Seq[Metric]
  /** Output checks after the last phase. */
  def finish(): Unit

  /** `space_amp`, taken at a fixed point of the first phase. */
  protected var space: Option[Double] = None
  def spaceAmpMetric: Metric = Metric("space_amp", space.getOrElse(Double.NaN), "ratio", 0, Some("space_amp"))

  protected def latency(ctx: Ctx, phase: String, op: String, name: String,
      key: Option[String], scale: Double, unit: String): Metric = {
    val xs = ctx.walls(phase, op)
    Metric(name, if (xs.isEmpty) Double.NaN else Stats.median(xs) * scale, unit, xs.size, key)
  }

  /** `space_amp`: bytes on disk under a table dir ÷ bytes of the same
    * live rows written once as plain parquet.
    */
  protected def spaceAmp(ctx: Ctx, onDisk: Long, live: org.apache.spark.sql.DataFrame): Double = {
    val plain = ctx.dir("space-amp-plain")
    live.write.mode("overwrite").parquet(plain)
    val b = Harness.du(plain)
    Harness.deleteTree(plain)
    onDisk.toDouble / b
  }

  /** Counts of a completed export job, read before its CSV is checked. */
  protected def exportCounts(outDir: String)(j: graft.cdc.ExportJob): Map[String, Double] =
    Map("rows_exported" -> j.rowsExported.toDouble,
      "csv_bytes" -> (if (j.outputFilename.isEmpty) 0.0
        else new java.io.File(s"$outDir/${j.outputFilename}").length.toDouble))

  /** Time one manifest resolution of the table or store at `dir` and
    * count its manifests. `latest` is the thinnest public call that
    * resolves it: one `TxLog.latest` plus a property lookup.
    */
  protected def probe(ctx: Ctx, dir: String)(latest: => Any): Unit =
    ctx.op("txlog.latest")(latest) { _ =>
      val d = new java.io.File(s"$dir/manifest")
      Map("manifests" -> Option(d.list()).map(_.length.toDouble).getOrElse(0.0))
    }

  /** Checks an export's CSV against its job record and deletes it. */
  protected def checkCsv(ctx: Ctx, name: String, outDir: String,
      job: graft.cdc.ExportJob, header: Seq[String]): Harness.Csv =
    if (job.rowsExported == 0) {
      ctx.verify(s"$name.no_file", job.outputFilename.isEmpty, s"empty export wrote ${job.outputFilename}")
      Harness.Csv(header.mkString(","), 0L, Map.empty)
    } else {
      val path = s"$outDir/${job.outputFilename}"
      val csv = Harness.scanCsv(path)
      new java.io.File(path).delete()
      ctx.verify(s"$name.header", csv.header == header.mkString(","), csv.header)
      ctx.verify(s"$name.rows", csv.rows == job.rowsExported,
        s"csv has ${csv.rows} rows, job reported ${job.rowsExported}")
      csv
    }
}

/** `ingest`: copy-on-write merges of 2,000-row changelogs with uniform
  * keys into a feed-on table, each followed by a replica sync; every 2nd
  * step an incremental export over the maintained table (every 2nd rather
  * than every 5th so that a short run still holds one). Closed loop, one
  * client. Uniform keys make every merge rewrite every bucket, so the
  * write path's Spark jobs (task time, bytes rewritten) should dominate.
  */
final class Ingest(ctx: Ctx) extends Workload {
  val Rows = 60000L
  val Buckets = 32
  val BatchRows = 2000
  val ExportEvery = 2
  /** `space_amp` is read after this many measured steps, so it does not
    * depend on how many steps fit in the run.
    */
  val SpaceAtStep = 2

  private val spark = ctx.spark
  private var src, replica, wmDir, outDir = ""
  private var model: KeyModel = _
  private var gen: ChangeGen = _
  private var engine: CdcEngine = _
  private var steps = 0
  private var lastHead = -1L
  private val Consumer = "ingest"

  def build(dir: String): Unit = {
    src = s"$dir/users"; replica = s"$dir/replica"
    wmDir = s"$dir/watermarks"; outDir = s"$dir/out"
    val seeded = Seeder.users(spark, Rows, ChangeGen.Base, ctx.seed).withColumn("tomb", lit(false))
    Compaction.init(seeded, src, Seq("id"), "updated_at", "tomb", Buckets, Nil, feed = true)
    Replicator.init(spark, src, replica)
    lastHead = Replicator.lastApplied(spark, replica)
    model = KeyModel.ofSeed(seeded)
    gen = new ChangeGen(ctx.seed, ChangeGen.BaseMicros + 86400L * 1000000L)
    engine = new CdcEngine(spark, () => Compaction.read(spark, src), wmDir, outDir)
    new WatermarkStore(spark, wmDir).upsert(Consumer, ChangeGen.Base)
    steps = 0
    space = None
  }

  def warmUp(): Unit = step(export = true)

  private def step(export: Boolean): Unit = ctx.tracer.span("ingest.step") {
    val batch = gen.batch(model, BatchRows)
    val df = Change.toDF(spark, batch)
    val merged = ctx.op("compaction.merge")(
      Compaction.merge(spark, src, df, emitFeed = true)) { s =>
      Map("rows_written_per_changed_row" -> s.rowsWritten.toDouble / BatchRows,
        "touched_buckets" -> s.touchedBuckets.size.toDouble,
        "feed_rows" -> s.feedRows.toDouble)
    }
    if (merged.isDefined) model.apply(batch)
    ctx.op("replicator.sync")(Replicator.sync(spark, src, replica)) { head =>
      val n = head - lastHead
      lastHead = head
      Map("batches_applied" -> n.toDouble)
    }
    if (export) exportStep()
    probe(ctx, src)(Compaction.version(spark, src))
  }()

  private def exportStep(): Unit = {
    val wm = engine.watermark(Consumer).get
    val expected = model.countChangedSince(DateTimeUtils.fromJavaTimestamp(wm), activeOnly = true)
    ctx.op("cdc_engine.incremental")(engine.incrementalExport(Consumer))(exportCounts(outDir))
      .foreach { job =>
      ctx.verify("incremental.rows", job.rowsExported == expected,
        s"exported ${job.rowsExported}, model expects $expected after $wm")
      checkCsv(ctx, "incremental", outDir, job, Schemas.exportColumns)
    }
  }

  def clients: Seq[Long => Unit] = Seq { deadline =>
    while (System.nanoTime() < deadline) {
      steps += 1
      step(export = steps % ExportEvery == 0)
      if (steps == SpaceAtStep)
        space = Some(spaceAmp(ctx, Harness.du(src), Compaction.read(spark, src)))
    }
  }

  def endToEnd(phase: String): Seq[Metric] = {
    val stepWall = ctx.walls(phase, "ingest.step").sum
    val merged = ctx.walls(phase, "compaction.merge").size
    Seq(
      latency(ctx, phase, "compaction.merge", "merge_p50_s", Some("op1_p50_ms"), 1.0, "s"),
      latency(ctx, phase, "replicator.sync", "replica_lag_p50_s", Some("op2_p50_ms"), 1.0, "s"),
      latency(ctx, phase, "cdc_engine.incremental", "incremental_export_p50_s", Some("op3_p50_ms"), 1.0, "s"),
      Metric("ingest_rows_per_s", merged * BatchRows / stepWall, "1/s", 0, Some("throughput_per_s")))
  }

  def finish(): Unit = {
    val want = (model.size.toLong, model.hashSum)
    val srcDigest = RowHash.digest(Compaction.read(spark, src))
    ctx.check("ingest.source_matches_model")(srcDigest == want, s"source $srcDigest, model $want")
    val repDigest = RowHash.digest(Compaction.read(spark, replica))
    ctx.check("ingest.replica_matches_model")(repDigest == want, s"replica $repDigest, model $want")
    val counted = Compaction.countRows(spark, src)
    ctx.check("ingest.count_rows")(counted == srcDigest._1, s"countRows $counted, read().count() ${srcDigest._1}")
  }
}

/** `serve`: reads beside writes. One closed-loop client works in rounds: a
  * compaction, then twice a 20-row merge-on-read merge (about 17 of 64
  * buckets touched) followed by ten reads, with a replica sync after the
  * second merge. The ten reads, in a seeded order, are eight point lookups
  * (half on keys of the last merge, half uniform), one SQL point select
  * through the catalog on a key of the last merge and one changed-since
  * count. Keys of the last merge always sit in buckets with unfolded
  * deltas, which keeps the share of lookups that fold above half and their
  * median on one side of the fold/no-fold split. Each call moves
  * almost no data, so per-statement cost (planning, manifest resolution,
  * job scheduling, the MoR fold) should dominate.
  */
final class Serve(ctx: Ctx) extends Workload {
  val Rows = 30000L
  val Buckets = 64
  val BatchRows = 20
  val MergesPerRound = 2

  private val spark = ctx.spark
  private var table, replica, catalog = ""
  private var lastHead = -1L
  private var model: KeyModel = _
  private var gen: ChangeGen = _
  private var rng: SplittableRandom = _
  /** Keys of the last merge: their buckets hold unfolded deltas. */
  private var recent = IndexedSeq.empty[Long]
  private var clocks = Vector.empty[Long]
  private var builds = 0

  def build(dir: String): Unit = {
    builds += 1
    catalog = s"pb$builds"
    val wh = s"$dir/warehouse"
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.warehouse", wh)
    graft.plans.MergePruning.ensureRegistered(spark)
    table = s"$wh/users"
    replica = s"$dir/replica"
    val seeded = Seeder.users(spark, Rows, ChangeGen.Base, ctx.seed).withColumn("tomb", lit(false))
    Compaction.init(seeded, table, Seq("id"), "updated_at", "tomb", Buckets, Nil, feed = true)
    Replicator.init(spark, table, replica)
    lastHead = Replicator.lastApplied(spark, replica)
    model = KeyModel.ofSeed(seeded)
    gen = new ChangeGen(ctx.seed, ChangeGen.BaseMicros + 86400L * 1000000L)
    rng = new SplittableRandom(ctx.seed)
    recent = IndexedSeq.empty
    clocks = Vector.empty
    space = None
  }

  /** A merge, a replica sync and ten reads. */
  def warmUp(): Unit = {
    write()
    sync()
    reads()
  }

  private def sync(): Unit =
    ctx.op("replicator.sync")(Replicator.sync(spark, table, replica)) { head =>
      val n = head - lastHead
      lastHead = head
      Map("batches_applied" -> n.toDouble)
    }

  private def write(): Unit = {
    val batch = gen.batch(model, BatchRows)
    val df = Change.toDF(spark, batch)
    val merged = ctx.op("compaction.merge")(
      Compaction.merge(spark, table, df, emitFeed = true, mergeOnRead = true)) { s =>
      Map("rows_written_per_changed_row" -> s.rowsWritten.toDouble / BatchRows,
        "touched_buckets" -> s.touchedBuckets.size.toDouble,
        "feed_rows" -> s.feedRows.toDouble)
    }
    if (merged.isDefined) model.apply(batch)
    recent = batch.map(_.id).toIndexedSeq
    clocks = (clocks :+ gen.now).takeRight(8)
  }

  private def lookupKey(): Long = ChangeGen.lookupKey(rng, recent, model.maxId)

  /** Check a point read of `id` against the model. */
  private def checkPoint(name: String, id: Long, rows: Array[org.apache.spark.sql.Row]): Unit = {
    ctx.verify(s"$name.at_most_one_row", rows.length <= 1, s"id $id returned ${rows.length} rows")
    val want = model.get(id).map(_.hash)
    val got = rows.headOption.map(RowHash.of)
    ctx.verify(s"$name.matches_model", rows.length > 1 || got == want,
      s"id $id: got ${rows.headOption}, model hash $want")
  }

  private def lookup(): Unit = {
    val id = lookupKey()
    ctx.op("compaction.lookup")(Compaction.lookup(spark, table, id).collect())()
      .foreach(rows => checkPoint("lookup", id, rows))
  }

  /** On a key of the last merge, so every select folds deltas in the
    * catalog's reader.
    */
  private def sqlPoint(): Unit = {
    val id = recent(rng.nextInt(recent.size))
    ctx.op("catalog.sql_point")(
      spark.sql(s"SELECT * FROM $catalog.users WHERE id = $id").collect())()
      .foreach(rows => checkPoint("sql_point", id, rows))
  }

  private def changedSince(): Unit = {
    val since = clocks(rng.nextInt(clocks.size))
    ctx.op("compaction.changed_since")(
      Compaction.readChangedSince(spark, table, DateTimeUtils.toJavaTimestamp(since)).count())()
      .foreach { n =>
        val want = model.countChangedSince(since, activeOnly = false)
        ctx.verify("changed_since.count", n == want, s"since $since: got $n, model $want")
      }
  }

  /** The 80/10/10 read mix, dealt as a round of ten in a seeded order. */
  private def reads(): Unit = {
    val start = rng.nextInt(10)
    (0 until 10).map(i => (start + i) % 10).foreach { k =>
      if (k < 8) lookup() else if (k == 8) sqlPoint() else changedSince()
    }
  }

  /** Rounds start only while time remains and always complete, so every
    * round goes through the same table states (clean after its compaction,
    * then one and two merges of deltas) however many fit in a run.
    */
  def clients: Seq[Long => Unit] = Seq { deadline =>
    while (System.nanoTime() < deadline) {
      ctx.op("compaction.compact")(Compaction.compact(spark, table))()
      (1 to MergesPerRound).foreach { m =>
        write()
        if (m == MergesPerRound) {
          sync()
          if (space.isEmpty)
            space = Some(spaceAmp(ctx, Harness.du(table), Compaction.read(spark, table)))
        }
        probe(ctx, table)(Compaction.version(spark, table))
        reads()
      }
    }
  }

  def endToEnd(phase: String): Seq[Metric] = {
    val lookups = ctx.walls(phase, "compaction.lookup")
    val readOps = Seq("compaction.lookup", "catalog.sql_point", "compaction.changed_since")
    val reads = readOps.map(op => ctx.walls(phase, op).size).sum
    Seq(
      latency(ctx, phase, "compaction.merge", "merge_p50_s", Some("op1_p50_ms"), 1.0, "s"),
      latency(ctx, phase, "compaction.lookup", "lookup_p50_ms", Some("op2_p50_ms"), 1e3, "ms"),
      latency(ctx, phase, "catalog.sql_point", "sql_point_p50_ms", Some("op3_p50_ms"), 1e3, "ms"),
      latency(ctx, phase, "compaction.changed_since", "changed_since_p50_ms", None, 1e3, "ms"),
      // a percentile above p50 only where ten samples lie beyond it
      Metric("lookup_p90_ms",
        if (lookups.size >= 100) Stats.quantile(lookups, 0.9) * 1e3 else Double.NaN,
        "ms", lookups.size),
      Metric("serve_reads_per_s", reads / readOps.map(op => ctx.walls(phase, op).sum).sum,
        "1/s", 0, Some("throughput_per_s")))
  }

  def finish(): Unit = {
    val want = (model.size.toLong, model.hashSum)
    val folded = RowHash.digest(Compaction.read(spark, table))
    ctx.check("serve.table_matches_model")(folded == want, s"table $folded, model $want")
    val scanned = RowHash.digest(spark.table(s"$catalog.users"))
    ctx.check("serve.catalog_matches_model")(scanned == want, s"catalog scan $scanned, model $want")
    val counted = Compaction.countRows(spark, table)
    ctx.check("serve.count_rows")(counted == want._1, s"countRows $counted, model ${want._1}")
    sync()
    val copied = RowHash.digest(Compaction.read(spark, replica))
    ctx.check("serve.replica_matches_model")(copied == want, s"replica $copied, model $want")
  }
}

/** `export`: the reference's own job over a parquet `users` snapshot. Each
  * cycle runs a full export for a fresh consumer, rewinds its watermark by
  * 1-3 days and runs an incremental export, rewinds again and runs a delta
  * export. Closed loop, one client. Scan, sort and the single-file CSV
  * write should do nearly all the work; no maintained-table path runs.
  */
final class Export(ctx: Ctx) extends Workload {
  val Rows = 100000L

  private val spark = ctx.spark
  private var snapshot, wmDir, outDir = ""
  private var engine: CdcEngine = _
  private var store: WatermarkStore = _
  private var rewindAt = 0.0
  private var cycles = 0
  /** (kind, watermark or None for full, reported rows, CSV tag counts). */
  private val done = scala.collection.mutable.ArrayBuffer.empty[(String, Option[Timestamp], Long, Map[String, Long])]

  def build(dir: String): Unit = {
    snapshot = s"$dir/users"; wmDir = s"$dir/watermarks"; outDir = s"$dir/out"
    Seeder.users(spark, Rows, ChangeGen.Base, ctx.seed).write.parquet(snapshot)
    engine = new CdcEngine(spark, snapshot, wmDir, outDir)
    store = new WatermarkStore(spark, wmDir)
    rewindAt = new SplittableRandom(ctx.seed).nextDouble()
    cycles = 0
  }

  def warmUp(): Unit = {
    cycle()
    done.clear()
  }

  /** The consumer's watermark moved back by 1-3 days. Successive rewinds
    * walk a golden-ratio sequence from a seeded start, so every run covers
    * the whole range evenly and export sizes do not depend on the luck of
    * a few draws.
    */
  private def rewind(consumer: String): Option[Timestamp] =
    engine.watermark(consumer).flatMap { wm =>
      rewindAt = (rewindAt + 0.6180339887498949) % 1.0
      val back = 86400000000L + (rewindAt * 2 * 86400000000L).toLong
      val to = DateTimeUtils.toJavaTimestamp(DateTimeUtils.fromJavaTimestamp(wm) - back)
      ctx.op("watermark_store.upsert")(store.upsert(consumer, to))().map(_ => to)
    }

  private def run(kind: String, consumer: String, wm: Option[Timestamp],
      header: Seq[String])(f: => graft.cdc.ExportJob): Unit =
    ctx.op(s"cdc_engine.$kind")(f)(exportCounts(outDir)).foreach { job =>
      val csv = checkCsv(ctx, kind, outDir, job, header)
      done += ((kind, wm, job.rowsExported, csv.firstField))
    }

  private def cycle(): Unit = ctx.tracer.span("export.cycle") {
    cycles += 1
    val consumer = s"c$cycles"
    run("full", consumer, None, Schemas.exportColumns)(engine.fullExport(consumer))
    rewind(consumer).foreach { wm =>
      run("incremental", consumer, Some(wm), Schemas.exportColumns)(engine.incrementalExport(consumer))
    }
    rewind(consumer).foreach { wm =>
      run("delta", consumer, Some(wm), Schemas.deltaExportColumns)(engine.deltaExport(consumer))
    }
    probe(ctx, wmDir)(store.get(consumer))
  }()

  def clients: Seq[Long => Unit] = Seq { deadline =>
    while (System.nanoTime() < deadline) cycle()
  }

  def endToEnd(phase: String): Seq[Metric] = {
    val exports = Seq("full", "incremental", "delta").flatMap(k => ctx.spans(phase, s"cdc_engine.$k")).filter(_.ok)
    val rows = exports.map(_.counts.getOrElse("rows_exported", 0.0)).sum
    Seq(
      latency(ctx, phase, "cdc_engine.full", "full_export_p50_s", Some("op1_p50_ms"), 1.0, "s"),
      latency(ctx, phase, "cdc_engine.incremental", "incremental_export_p50_s", Some("op2_p50_ms"), 1.0, "s"),
      latency(ctx, phase, "cdc_engine.delta", "delta_export_p50_s", Some("op3_p50_ms"), 1.0, "s"),
      Metric("export_rows_per_s", rows / exports.map(_.wallS).sum, "1/s", 0, Some("throughput_per_s")))
  }

  /** The snapshot and the watermark state are all the export path keeps. */
  override def spaceAmpMetric: Metric =
    Metric("space_amp", spaceAmp(ctx, Harness.du(snapshot) + Harness.du(wmDir),
      spark.read.parquet(snapshot)), "ratio", 0, Some("space_amp"))

  def finish(): Unit = {
    // every expected count in one aggregation over the snapshot, with
    // predicates written here rather than taken from Ops
    val users = spark.read.schema(Schemas.users).parquet(snapshot)
    val tag = when(col("is_deleted"), "DELETE")
      .when(col("created_at") === col("updated_at"), "INSERT").otherwise("UPDATE")
    def countIf(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    val Tags = Seq("DELETE", "INSERT", "UPDATE")
    val wanted: Seq[(String, org.apache.spark.sql.Column)] = done.zipWithIndex.toSeq.flatMap {
      case (("full", _, _, _), i) => Seq(s"$i" -> countIf(!col("is_deleted")))
      case (("incremental", wm, _, _), i) =>
        Seq(s"$i" -> countIf(col("updated_at") > lit(wm.get) && !col("is_deleted")))
      case (("delta", wm, _, _), i) =>
        Tags.map(t => s"$i.$t" -> countIf(col("updated_at") > lit(wm.get) && tag === t))
    }
    val row = users.agg(wanted.head._2, wanted.tail.map(_._2): _*).head()
    val want = wanted.map(_._1).zipWithIndex.map { case (k, j) => k -> row.getLong(j) }.toMap
    done.zipWithIndex.foreach { case ((kind, wm, rows, tags), i) =>
      if (kind == "delta") {
        val w = Tags.map(t => t -> want(s"$i.$t")).filter(_._2 > 0).toMap
        ctx.check(s"export.delta.$i")(tags == w && rows == w.values.sum,
          s"after ${wm.get}: csv tags $tags, snapshot $w")
      } else
        ctx.check(s"export.$kind.$i")(rows == want(s"$i"),
          s"$kind after ${wm.getOrElse("-")}: exported $rows, snapshot has ${want(s"$i")}")
    }
  }
}
