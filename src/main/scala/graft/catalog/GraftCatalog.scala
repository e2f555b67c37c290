package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.cdc.{Compaction, Scd2, TxLog}

/** A DataSource-v2 `TableCatalog` over [[graft.cdc.Compaction]]
  * maintained tables — the step from "library with a SQL hijack" to
  * "table format". Register once:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /data/graft
  * }}}
  *
  * and plain SQL manages and reads maintained tables with no
  * per-session `register()` call:
  *
  * {{{
  *   CREATE TABLE graft.users (id BIGINT, name STRING,
  *     version BIGINT, deleted BOOLEAN)
  *     TBLPROPERTIES ('keys'='id', 'buckets'='64')
  *   INSERT INTO graft.users SELECT ...          -- upsert merge
  *   SELECT * FROM graft.users WHERE id = 7      -- bucket-pruned
  *   SELECT * FROM graft.users VERSION AS OF 2   -- time travel
  *   SHOW TABLES IN graft
  *   MERGE INTO graft.users USING changes ON ... -- via GraftDml
  * }}}
  *
  * Analog in the reference: its ORM resolves table names against the
  * database catalog (`/root/reference/app/models.py` declares `users`
  * once, every query resolves it by name) — this is the maintained-
  * table catalog for Spark SQL users.
  *
  * Read path: a NATIVE DSv2 Batch scan ([[GraftScan]]) — input
  * partitions are the manifest-pruned file set computed driver-side
  * (key-equality/IN bucket pruning through the writers' own hash,
  * typed zone-map pruning on version ranges), read by Spark's
  * vectorized parquet reader; compacted tables stream COLUMNAR
  * batches into whole-stage codegen, merge-on-read buckets fold in
  * their partition reader. Pushed filters are also re-applied by
  * Spark above the scan (we return every filter as post-scan), so
  * pushdown here is a data reduction, never a correctness
  * dependency. Scd2/AggView tables route through the same scan with
  * their own fold readers, read-only.
  *
  * Write path: `V1Write` → `InsertableRelation` → one
  * [[Compaction.merge]] (append = upsert-by-version, the reference's
  * ON CONFLICT) or a full re-init (INSERT OVERWRITE / truncate),
  * keeping every table invariant (OCC fence, manifest stats, feed
  * counter) because the only write route IS the engine's own.
  *
  * Layout: `<warehouse>/<namespace...>/<table>` is the table dir; a
  * `CREATE TABLE ... LOCATION '<dir>'` writes a `.location` redirect
  * so existing tables attach without moving data.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      org.apache.spark.sql.internal.SQLConf.get.warehousePath
        .stripSuffix("/") + s"/$name")
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  /** The managed directory for an identifier (before any `.location`
    * redirect).
    */
  private def managedDir(ident: Identifier): String =
    (warehouse.stripSuffix("/") +: (ident.namespace() :+ ident.name()))
      .mkString("/")

  private def redirectPath(ident: Identifier) =
    new Path(managedDir(ident), ".location")

  /** Durable publish-intent marker for an external-LOCATION CTAS
    * (r14): the publish is rename-then-redirect across two
    * filesystems, and a crash between the two used to strand committed
    * data at the LOCATION with no catalog entry. The intent (written
    * BEFORE the rename, warehouse side) plus a `.publish-<txn>` marker
    * that rides the rename let [[completeCrashedPublish]] finish the
    * redirect — the feed publisher's own staged-intent pattern.
    */
  private def intentPath(ident: Identifier) =
    new Path(managedDir(ident), ".location-intent")

  /** Complete (or retire) a crashed external-LOCATION CTAS publish.
    * Three states the intent can witness:
    *  - rename landed, redirect missing → the crash window: write the
    *    redirect (the committed table at LOCATION becomes this
    *    identifier, exactly as the crashed CTAS intended), drop the
    *    marker and the intent;
    *  - redirect present → the normal path's cleanup lost a race:
    *    drop the stale intent;
    *  - rename never happened → leave it until the writer grace
    *    expires (a LIVE writer is mid-publish), then drop it — the
    *    markerless staging is reclaimed by the `.stage-` sweep.
    * Invoked on the table-resolution miss path and before any new
    * CTAS/REPLACE staging of the name; pure metadata, hygiene-safe.
    */
  private def completeCrashedPublish(ident: Identifier): Unit =
    TxLog.hygiene {
      val wf = TxLog.fs(spark, warehouse)
      val ip = intentPath(ident)
      if (wf.exists(ip)) {
        val st = wf.getFileStatus(ip)
        val in = wf.open(ip)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().toList
          finally in.close()
        lines.map(_.trim).filter(_.nonEmpty) match {
          case loc :: txn :: Nil =>
            val lf = TxLog.fs(spark, loc)
            val marker = new Path(loc, s".publish-$txn")
            if (isTable(ident)) {
              // the name already resolves — a later CREATE (managed or
              // LOCATION elsewhere) won the name while this intent sat
              // crashed. Completing now would write a redirect OVER the
              // live table and silently repoint its data dir; retire
              // the intent and its marker instead (the crashed CTAS
              // lost the race; its data stays at loc, unadopted).
              wf.delete(ip, false)
              lf.delete(marker, false)
            } else if (lf.exists(marker) &&
                TxLog.latestVersion(spark, loc).isDefined) {
              val out = wf.create(redirectPath(ident), true)
              try out.write(loc.getBytes("UTF-8")) finally out.close()
              lf.delete(marker, false)
              wf.delete(ip, false)
              TxLog.invalidate(loc)
            } else if (System.currentTimeMillis() -
                st.getModificationTime > TxLog.orphanGraceMs) {
              wf.delete(ip, false)
            }
          case _ =>
            // unreadable: either junk or a writer mid-create (open but
            // not yet flushed). Deleting on first sight would disarm
            // the recovery for the interleaving where the writer's
            // rename lands right after — age it with the same grace a
            // live staging gets, then reclaim.
            if (System.currentTimeMillis() -
                st.getModificationTime > TxLog.orphanGraceMs)
              wf.delete(ip, false)
        }
      }
    }

  /** Durable intent marker for an in-flight MOVE TABLE (r15). Its own
    * file (not `.location-intent`): a move's source table is LIVE the
    * whole time, so the CTAS recovery's "name already resolves →
    * retire" rule would cancel a move it should resume. Content:
    * target dir, txn id, and the source version the copy fenced on.
    */
  private def moveIntentPath(ident: Identifier) =
    new Path(managedDir(ident), ".move-intent")

  /** Atomic MOVE TABLE (r15, `ALTER TABLE t SET LOCATION '<dir>'`):
    * relocate the table's whole directory — manifest history, data
    * generations, feed batches — across filesystems with the source
    * serving until one redirect swap:
    *
    *  1. durable `.move-intent` (target, txn, fence version);
    *  2. cross-fs copy into a target-side `.stage-` sibling, with the
    *     `.publish-<txn>` completion marker written INTO the staging;
    *  3. fence — the source advanced during the copy? clean up, fail,
    *     retry copies fresh (never publish a stale copy);
    *  4. ONE same-fs rename makes the target complete (marker rides);
    *  5. redirect swap — the first instant readers see the new dir;
    *  6. late-commit re-check (a writer that raced the swap committed
    *     into the source: swap BACK and fail loudly, never silently
    *     strand a commit), then retire intent+marker and free the old
    *     location.
    *
    * Crash anywhere before 5 leaves the source serving untouched;
    * re-running the same MOVE resumes at the earliest sound step
    * (a completed rename with a still-current fence skips the copy).
    */
  private def moveTable(ident: Identifier, newLoc0: String): Unit = {
    val newLoc = newLoc0.stripSuffix("/")
    val wf = TxLog.fs(spark, warehouse)
    val srcDir = tableDir(ident)
    val conf = spark.sessionState.newHadoopConf()
    val sf = TxLog.fs(spark, srcDir)
    val lf = TxLog.fs(spark, newLoc)
    val mi = moveIntentPath(ident)
    if (srcDir == newLoc) {
      // already serving the requested location — either a no-op or the
      // retry of a move that crashed AFTER its swap: retire remnants
      // idempotently and report success
      if (wf.exists(mi)) {
        val in = wf.open(mi)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().toList
          finally in.close()
        lines.map(_.trim).filter(_.nonEmpty) match {
          case loc :: txn :: _ if loc == newLoc =>
            lf.delete(new Path(newLoc, s".publish-$txn"), false)
          case _ => ()
        }
        wf.delete(mi, false)
        TxLog.hygiene {
          if (srcDir != managedDir(ident))
            wf.listStatus(new Path(managedDir(ident))).foreach { st =>
              if (!st.getPath.getName.startsWith(".location"))
                wf.delete(st.getPath, true)
            }
        }
      }
      return
    }
    if (wf.exists(mi)) {
      val in = wf.open(mi)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toList
        finally in.close()
      lines.map(_.trim).filter(_.nonEmpty) match {
        case loc :: txn :: v0 :: Nil if loc == newLoc &&
            lf.exists(new Path(loc, s".publish-$txn")) &&
            TxLog.latestVersion(spark, loc).isDefined &&
            TxLog.latestVersion(spark, srcDir).contains(v0.toLong) =>
          // the rename landed and the source never advanced past the
          // fence: only the swap + cleanup are left
          finishMove(ident, srcDir, loc, txn, Some(v0.toLong))
          return
        case loc :: _ =>
          // stale (different target, source advanced past the fence,
          // or rename never landed): un-adopt the dead copy and start
          // fresh — the source is still the table
          if (loc == newLoc &&
              TxLog.latestVersion(spark, loc).isDefined)
            lf.delete(new Path(loc), true)
          wf.delete(mi, false)
        case _ => wf.delete(mi, false)
      }
    }
    require(TxLog.latestVersion(spark, newLoc).isEmpty,
      s"$newLoc already holds a committed table — MOVE refuses to " +
        "adopt or clobber it")
    val target = new Path(newLoc)
    if (lf.exists(target)) {
      require(lf.listStatus(target).isEmpty,
        s"$newLoc is not empty — MOVE needs a fresh target directory")
      lf.delete(target, false) // the publish rename must create it
    }
    val mvRoot = new Path(s"$srcDir/_mv")
    require(!sf.exists(mvRoot) || sf.listStatus(mvRoot).isEmpty,
      s"$srcDir carries materialized views whose sidecars pin the " +
        "base dir — DROP them before MOVE and re-CREATE after")
    val txn = java.util.UUID.randomUUID().toString.take(8)
    val v0 = TxLog.latestVersion(spark, srcDir).get
    wf.mkdirs(new Path(managedDir(ident)))
    val out = wf.create(mi, true)
    try out.write(s"$newLoc\n$txn\n$v0".getBytes("UTF-8"))
    finally out.close()
    val stage = new Path(newStageDir(newLoc))
    lf.mkdirs(stage)
    sf.listStatus(new Path(srcDir)).foreach { st =>
      val n = st.getPath.getName
      if (!n.startsWith(".staging-") && !n.startsWith(".location") &&
          !n.startsWith(".move-intent") && !n.startsWith(".publish-") &&
          n != "_mv")
        org.apache.hadoop.fs.FileUtil.copy(sf, st.getPath, lf,
          new Path(stage, n), false, conf)
    }
    lf.create(new Path(stage, s".publish-$txn"), true).close()
    if (!TxLog.latestVersion(spark, srcDir).contains(v0)) {
      lf.delete(stage, true)
      wf.delete(mi, false)
      throw new IllegalStateException(
        s"table at $srcDir advanced during the move copy — the copy " +
          "is stale; retry MOVE")
    }
    require(lf.rename(stage, target),
      s"move publish rename failed: $stage -> $target")
    GraftCatalog.afterMoveRename() // test-only crash injection
    finishMove(ident, srcDir, newLoc, txn, Some(v0))
  }

  /** Steps 5-6 of [[moveTable]]: redirect swap, late-commit check,
    * intent/marker retirement, old-location hygiene.
    */
  private def finishMove(ident: Identifier, srcDir: String,
      newLoc: String, txn: String, v0: Option[Long]): Unit = {
    val wf = TxLog.fs(spark, warehouse)
    val sf = TxLog.fs(spark, srcDir)
    val lf = TxLog.fs(spark, newLoc)
    val rp = redirectPath(ident)
    val prevRedirect: Option[String] =
      if (wf.exists(rp)) {
        val in = wf.open(rp)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim)
        finally in.close()
      } else None
    val out = wf.create(rp, true)
    try out.write(newLoc.getBytes("UTF-8")) finally out.close()
    TxLog.invalidate(srcDir); TxLog.invalidate(newLoc)
    GraftCatalog.afterMoveSwap() // test-only crash injection
    v0.foreach { v =>
      if (!TxLog.latestVersion(spark, srcDir).contains(v)) {
        // a commit raced the swap into the source dir: the copy no
        // longer carries it — swap BACK (the source stays the table,
        // nothing lost) and fail loudly
        prevRedirect match {
          case Some(loc) =>
            val o2 = wf.create(rp, true)
            try o2.write(loc.getBytes("UTF-8")) finally o2.close()
          case None => wf.delete(rp, false)
        }
        TxLog.invalidate(srcDir); TxLog.invalidate(newLoc)
        lf.delete(new Path(newLoc), true)
        wf.delete(moveIntentPath(ident), false)
        throw new IllegalStateException(
          s"a commit landed at $srcDir while MOVE was publishing — " +
            "the move was rolled back; retry")
      }
    }
    wf.delete(moveIntentPath(ident), false)
    lf.delete(new Path(newLoc, s".publish-$txn"), false)
    // the move is committed (redirect durable); freeing the old
    // location is hygiene — a crash here leaves unreferenced files,
    // never a broken table
    TxLog.hygiene {
      if (srcDir == managedDir(ident))
        sf.listStatus(new Path(srcDir)).foreach { st =>
          if (!st.getPath.getName.startsWith(".location"))
            sf.delete(st.getPath, true)
        }
      else sf.delete(new Path(srcDir), true)
    }
  }

  /** The table's data directory: the managed path, unless a
    * `.location` redirect (written by CREATE ... LOCATION) points at
    * an external one.
    */
  def tableDir(ident: Identifier): String = {
    val f = TxLog.fs(spark, warehouse)
    val rp = redirectPath(ident)
    if (f.exists(rp)) {
      val in = f.open(rp)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    } else managedDir(ident)
  }

  private def isTable(ident: Identifier): Boolean =
    TxLog.latestVersion(spark, tableDir(ident)).isDefined

  /** The self-described family of the table at `dir` (`table_type`
    * manifest prop; pre-tag manifests can only be merge tables — the
    * other families never existed untagged).
    */
  private def tableTypeOf(dir: String): String =
    TxLog.latest(spark, dir).flatMap(_.prop("table_type"))
      .getOrElse("merge")

  /** Writable-table guard: DML/ALTER/attach carry MERGE (latest-state)
    * semantics — an Scd2 history or AggView dir reached through a
    * write path would silently get the wrong semantics stamped over
    * it. Reads route by type instead ([[loadTable]]).
    */
  private def requireMergeTable(dir: String): Unit = {
    val t = tableTypeOf(dir)
    require(t == "merge",
      s"$dir is a $t table; writes/DML apply to merge (latest-state) " +
        "tables — Scd2/AggView tables are read-only through the " +
        "catalog (maintain them via their own APIs)")
  }

  override def tableExists(ident: Identifier): Boolean = isTable(ident)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val f = TxLog.fs(spark, warehouse)
    val nsDir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    if (!f.exists(nsDir)) {
      if (namespace.isEmpty) return Array.empty
      throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)
    }
    f.listStatus(nsDir).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      // an in-flight (or crash-orphaned) CTAS staging is a committed
      // table under a sibling name — never a listable one (r13)
      .filterNot(_.contains(".stage-"))
      .filter(n => isTable(Identifier.of(namespace, n)))
      .map(n => Identifier.of(namespace, n))
      .toArray
  }

  /** Reads route by the table's self-described family: merge tables
    * get the full native read/write table; Scd2 history and AggView
    * dashboard tables are served READ-ONLY (`SELECT * FROM
    * graft.ns.hist` with no registry call — DML/INSERT refuse with a
    * clear message, their maintenance stays with their own APIs).
    */
  override def loadTable(ident: Identifier): Table = {
    if (!isTable(ident)) {
      // miss path only (one exists() probe): a crashed external-CTAS
      // publish completes here, so the first SELECT after the crash
      // already sees the committed table — no retry or manual attach
      completeCrashedPublish(ident)
      if (!isTable(ident))
        return metaTableOf(ident).getOrElse(
          throw new NoSuchTableException(ident))
    }
    val dir = tableDir(ident)
    tableTypeOf(dir) match {
      case "merge" => new GraftTable(fullName(ident), dir, None)
      case t => new GraftReadOnlyTable(fullName(ident), dir, t)
    }
  }

  /** Metadata-table resolution ([[MetaTables]]): `graft.ns.t.history`
    * (the Iceberg dotted spelling — the base table rides as the LAST
    * namespace element) or `` graft.ns.`t$history` `` (the Delta
    * suffix spelling). Only reached when `ident` itself is not a
    * table, so a real table can never be shadowed.
    */
  private def metaTableOf(ident: Identifier): Option[Table] = {
    val name = ident.name()
    val cand: Option[(Identifier, String)] = name.split('$') match {
      case Array(base, kind)
          if base.nonEmpty && MetaTables.Names(kind.toLowerCase) =>
        Some((Identifier.of(ident.namespace(), base), kind.toLowerCase))
      case _ if ident.namespace().nonEmpty &&
          MetaTables.Names(name.toLowerCase) =>
        Some((Identifier.of(ident.namespace().dropRight(1),
          ident.namespace().last), name.toLowerCase))
      case _ => None
    }
    cand.collect { case (base, kind) if isTable(base) =>
      MetaTables.table(kind, fullName(ident), tableDir(base))
    }
  }

  /** SQL `VERSION AS OF <v>` — resolves straight onto
    * [[Compaction.readAsOf]] (manifests are immutable; time travel is
    * "read manifest v"). Merge tables only: an Scd2/AggView table IS
    * its own history.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!isTable(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    requireMergeTable(dir)
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft version must be a commit number, got '$version'")
    }
    new GraftTable(fullName(ident), dir, Some(v))
  }

  /** SQL `TIMESTAMP AS OF <ts>` (micros since epoch) — the greatest
    * version committed at or before the timestamp, by manifest mtime.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!isTable(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    requireMergeTable(dir)
    val v = Compaction.versionAsOfTimestamp(spark, dir, timestamp / 1000L)
    new GraftTable(fullName(ident), dir, Some(v))
  }

  private def fullName(ident: Identifier): String =
    (catalogName +: (ident.namespace() :+ ident.name())).mkString(".")

  private def prop(properties: util.Map[String, String],
      key: String): Option[String] =
    Option(properties.get(key))
      .orElse(Option(properties.get(TableCatalog.OPTION_PREFIX + key)))

  /** The parsed table-parameter DDL shared by CREATE TABLE and the
    * staged CTAS path — one parse, identical semantics on both (r13).
    */
  private final case class TableDdl(
      timePartition: Option[(String, String)], keys: Seq[String],
      versionCol: String, deleteCol: String, nBuckets: Int,
      clusterBy: Seq[String], feed: Boolean, ndvP: Option[Int])

  private def parseDdl(partitions: Array[Transform],
      properties: util.Map[String, String]): TableDdl = {
    // PARTITIONED BY (days(ts) | months(ts) | hours(ts)) — the
    // Iceberg-style TIME partition level composing with the bucket
    // hash (see Compaction's time-partitions note); anything else
    // (identity columns, bucket transforms) stays refused: buckets
    // come from the 'buckets' property.
    val timePartition: Option[(String, String)] = partitions match {
      case Array() => None
      case Array(t) if Set("years", "days", "months", "hours")(t.name) &&
          t.arguments.length == 1 =>
        t.arguments.head match {
          case r: org.apache.spark.sql.connector.expressions.NamedReference
              if r.fieldNames.length == 1 =>
            Some(t.name -> r.fieldNames.head)
          case _ => throw new IllegalArgumentException(
            s"PARTITIONED BY (${t.name}(...)) needs a plain column")
        }
      case _ => throw new IllegalArgumentException(
        "graft tables are hash-bucketed on their merge keys " +
          "('buckets' property); PARTITIONED BY accepts only one " +
          "years|months|days|hours(col) time transform")
    }
    TableDdl(timePartition,
      prop(properties, "keys").orElse(prop(properties, "key"))
        .map(_.split(",").map(_.trim).toSeq.filter(_.nonEmpty))
        .getOrElse(throw new IllegalArgumentException(
          "graft tables need TBLPROPERTIES " +
            "('keys'='<merge key column(s)>')")),
      prop(properties, "version_col").getOrElse("version"),
      prop(properties, "delete_col").getOrElse("deleted"),
      prop(properties, "buckets").map(_.toInt).getOrElse(256),
      prop(properties, "cluster_by")
        .map(_.split(",").map(_.trim).toSeq.filter(_.nonEmpty))
        .getOrElse(Nil),
      prop(properties, "feed").exists(_.toBoolean),
      // 'ndv_p': cluster-column NDV sketch precision (4-12, default 6
      // ~13% stderr); ALTER re-derives the sketches at a new width as
      // a stats-only commit (see Compaction.refreshStats)
      prop(properties, "ndv_p").map(_.toInt))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // same intent retirement as stageCreate/stageReplace: a crashed
    // external-CTAS publish of this name either completes here (then
    // CREATE correctly fails with exists — the CTAS semantically
    // succeeded) or, once this CREATE wins the name, can never be
    // "completed" over it by a later staging
    completeCrashedPublish(ident)
    if (isTable(ident)) throw new TableAlreadyExistsException(ident)
    val ddl = parseDdl(partitions, properties)
    val TableDdl(timePartition, keys, versionCol, deleteCol, nBuckets,
      clusterBy, feed, ndvP) = ddl
    val location = prop(properties, TableCatalog.PROP_LOCATION)
    val dir = location.getOrElse(managedDir(ident))
    // `CREATE TABLE h (...) USING scd2` — the SQL form for a
    // maintained SCD2 history (r9 item 4): commits an empty history
    // whose state schema is the declared column list (the engine adds
    // the generated valid_to/is_current pair), keyed/versioned by the
    // same TBLPROPERTIES a merge table uses. Served read-only through
    // the catalog like every scd2 table; populate with Scd2.merge.
    if (prop(properties, TableCatalog.PROP_PROVIDER)
        .exists(_.equalsIgnoreCase("scd2"))) {
      require(timePartition.isEmpty,
        "scd2 histories are not time-partitioned (history layout is " +
          "interval-keyed); drop the PARTITIONED BY clause")
      if (TxLog.latestVersion(spark, dir).isDefined) {
        require(tableTypeOf(dir) == "scd2",
          s"existing table at $dir is a ${tableTypeOf(dir)} table, " +
            "CREATE declared USING scd2")
        val snap = TxLog.latest(spark, dir).get
        require(snap.prop("key").contains(
            graft.cdc.Bucketing.encodeKeys(keys)),
          s"existing scd2 table at $dir has keys " +
            s"(${snap.prop("key").getOrElse("")}), CREATE declared " +
            s"(${keys.mkString(",")})")
      } else {
        require(schema.nonEmpty,
          "CREATE TABLE ... USING scd2 needs a column list (the " +
            "history's STATE schema; valid_to/is_current are generated)")
        // resolve declared parameter names to the schema's EXACT case:
        // SQL resolution is case-insensitive, Scd2.init is not
        def exact(c: String, what: String): String =
          schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
            throw new IllegalArgumentException(
              s"$what column '$c' missing from the declared schema"))
        Scd2.init(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            schema),
          dir, keys.map(exact(_, "key")), exact(versionCol, "version"),
          exact(deleteCol, "delete"), nBuckets)
      }
      location.foreach { loc =>
        val f = TxLog.fs(spark, warehouse)
        f.mkdirs(new Path(managedDir(ident)))
        val out = f.create(redirectPath(ident), true)
        try out.write(loc.getBytes("UTF-8")) finally out.close()
      }
      return new GraftReadOnlyTable(fullName(ident), dir, "scd2")
    }
    // validate BEFORE registering anything: a failed CREATE must leave
    // no phantom table behind (redirect written then require-throw
    // would make tableExists true for a table the user was told failed)
    if (TxLog.latestVersion(spark, dir).isDefined) {
      // LOCATION naming an existing maintained table: attach, don't
      // clobber — CREATE is then a catalog registration only, and
      // every declared piece of DDL must AGREE with what the table
      // was built with (a silently-ignored mismatch would leave the
      // user's DDL disagreeing with what SELECT/INSERT actually use)
      requireMergeTable(dir)
      val (exKeys, exVersion, exDelete, exBuckets) =
        Compaction.readMeta(spark, dir)
      require(exKeys == keys.mkString(","),
        s"existing table at $dir has keys ($exKeys), " +
          s"CREATE declared (${keys.mkString(",")})")
      def check(what: String, declared: Option[String],
          actual: String): Unit = declared.foreach(d =>
        require(d == actual, s"existing table at $dir has $what " +
          s"'$actual', CREATE declared '$d'"))
      check("version_col", prop(properties, "version_col"), exVersion)
      check("delete_col", prop(properties, "delete_col"), exDelete)
      check("buckets", prop(properties, "buckets"), exBuckets.toString)
      check("feed", prop(properties, "feed").map(_.toBoolean.toString),
        Compaction.feedEnabled(spark, dir).toString)
      if (schema.nonEmpty) {
        val stored = DataType.fromJson(TxLog.latest(spark, dir).get
          .props("schema_json")).asInstanceOf[StructType]
        val want = schema.fields.map(f => (f.name, f.dataType)).toSeq
        val have = stored.fields.map(f => (f.name, f.dataType)).toSeq
        require(want == have, s"existing table at $dir has schema " +
          s"${stored.simpleString}, CREATE declared ${schema.simpleString}")
      }
    } else {
      Compaction.initEmpty(spark, dir, schema, keys, versionCol,
        deleteCol, nBuckets, clusterBy, feed, timePartition, ndvP)
    }
    location.foreach { loc =>
      // external attach: persist the redirect under the managed path
      val f = TxLog.fs(spark, warehouse)
      f.mkdirs(new Path(managedDir(ident)))
      val out = f.create(redirectPath(ident), true)
      try out.write(loc.getBytes("UTF-8")) finally out.close()
    }
    new GraftTable(fullName(ident), dir, None)
  }

  // ----- atomic CTAS (StagingTableCatalog, r13) ---------------------
  //
  // CREATE TABLE ... AS SELECT previously ran as non-atomic
  // create-then-insert: a failed write stranded an empty committed
  // table. Staging creates the WHOLE table under a writer-unique
  // sibling of its final directory — invisible to loadTable/isTable,
  // which resolve the final path only — and the CTAS write lands
  // there through the ordinary v2 write path (its own manifest
  // commits inside the staging dir). commit = ONE directory rename
  // into the final path (re-checking the name is still free: two
  // racing CTAS of one name stage side by side and the loser
  // refuses); abort (any mid-write failure) deletes the staging dir
  // and nothing was ever visible. A crashed JVM can leave an orphan
  // `.stage-<txn>` dir behind — storage hygiene, never a phantom
  // table (no redirect or final dir is ever written before commit).

  /** Reclaim aged ORPHAN stagings of this identifier (a crashed JVM
    * leaves one behind — storage hygiene, never a phantom table):
    * same grace the TxLog sweep grants in-flight writers, so a live
    * concurrent CTAS/REPLACE staging is never yanked. Returns a fresh
    * writer-unique staging path next to `finalDir`.
    */
  private def newStageDir(finalDir: String): String = {
    TxLog.hygiene {
      val f = TxLog.fs(spark, finalDir)
      val parent = new Path(finalDir).getParent
      val prefix = new Path(finalDir).getName + ".stage-"
      val now = System.currentTimeMillis()
      if (parent != null && f.exists(parent))
        f.listStatus(parent).foreach { st =>
          if (st.getPath.getName.startsWith(prefix) &&
              now - st.getModificationTime > TxLog.orphanGraceMs)
            f.delete(st.getPath, true)
        }
    }
    s"$finalDir.stage-${java.util.UUID.randomUUID().toString.take(8)}"
  }

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    completeCrashedPublish(ident)
    if (isTable(ident)) throw new TableAlreadyExistsException(ident)
    require(!prop(properties, TableCatalog.PROP_PROVIDER)
        .exists(_.equalsIgnoreCase("scd2")),
      "CTAS USING scd2 is not supported: an SCD2 history's state is " +
        "built by Scd2.merge, not a one-shot SELECT")
    val location = prop(properties, TableCatalog.PROP_LOCATION)
    val finalDir = location.getOrElse(managedDir(ident))
    val stageDir = newStageDir(finalDir)
    // the SAME parse CREATE TABLE performs (parseDdl), pointed at the
    // staging dir — CTAS and CREATE can never drift semantically
    val ddl = parseDdl(partitions, properties)
    Compaction.initEmpty(spark, stageDir, schema, ddl.keys,
      ddl.versionCol, ddl.deleteCol, ddl.nBuckets, ddl.clusterBy,
      ddl.feed, ddl.timePartition, ddl.ndvP)
    new StagedGraftTable(ident, stageDir, finalDir, location)
  }

  // ----- atomic RTAS (r14) ------------------------------------------
  //
  // REPLACE TABLE / CREATE OR REPLACE ... AS SELECT: the replacement
  // is staged as a complete table under `<dir>.stage-<txn>` (same
  // machinery as CTAS — invisible, its own manifests), and commit
  // ADOPTS it into the live table's manifest log as one OCC commit
  // (Compaction.replaceWith): op=replace, new schema/keys/layout from
  // the staged DDL, history kept readable (VERSION AS OF), feed
  // numbering carried + feed_epoch bumped so checkpointed consumers
  // fence and re-seed, and a `lineage_floor` RESTORE refuses to
  // cross. A crash anywhere before the manifest CAS leaves the OLD
  // table fully intact; a mid-write failure aborts the staging and
  // nothing was ever visible.

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    completeCrashedPublish(ident)
    if (!isTable(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .CannotReplaceMissingTableException(ident)
    val dir = tableDir(ident)
    requireMergeTable(dir)
    require(!prop(properties, TableCatalog.PROP_PROVIDER)
        .exists(_.equalsIgnoreCase("scd2")),
      "REPLACE ... USING scd2 is not supported: an SCD2 history's " +
        "state is built by Scd2.merge, not a one-shot SELECT")
    // REPLACE re-defines contents and parameters, never placement
    prop(properties, TableCatalog.PROP_LOCATION).foreach(loc =>
      require(loc.stripSuffix("/") == dir.stripSuffix("/"),
        s"REPLACE TABLE cannot move a table: ${fullName(ident)} " +
          s"lives at $dir, REPLACE declared LOCATION '$loc'"))
    val stageDir = newStageDir(dir)
    val ddl = parseDdl(partitions, properties)
    // the staging writes with feed OFF: replacement rows never emit
    // as feed events (consumers are fenced by the epoch bump at
    // commit and re-seed from the replaced state); the DDL's feed
    // opt-in applies at the replace commit
    Compaction.initEmpty(spark, stageDir, schema, ddl.keys,
      ddl.versionCol, ddl.deleteCol, ddl.nBuckets, ddl.clusterBy,
      feed = false, ddl.timePartition, ddl.ndvP)
    new StagedReplaceTable(ident, stageDir, dir, ddl.feed)
  }

  private final class StagedReplaceTable(ident: Identifier,
      stageDir: String, finalDir: String, feed: Boolean)
      extends org.apache.spark.sql.connector.catalog.StagedTable
      with SupportsWrite {
    private val inner = new GraftTable(fullName(ident), stageDir, None)
    override def name(): String = inner.name()
    override def schema(): StructType = inner.schema()
    override def capabilities(): util.Set[
        org.apache.spark.sql.connector.catalog.TableCapability] =
      inner.capabilities()
    override def newWriteBuilder(
        info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
        : org.apache.spark.sql.connector.write.WriteBuilder =
      inner.newWriteBuilder(info)
    override def commitStagedChanges(): Unit = {
      TxLog.invalidate(stageDir)
      Compaction.replaceWith(spark, finalDir, stageDir, feed)
      TxLog.invalidate(finalDir)
    }
    override def abortStagedChanges(): Unit = {
      TxLog.invalidate(stageDir)
      TxLog.fs(spark, stageDir).delete(new Path(stageDir), true)
    }
  }

  override def stageCreateOrReplace(ident: Identifier,
      schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    if (isTable(ident)) stageReplace(ident, schema, partitions, properties)
    else stageCreate(ident, schema, partitions, properties)

  private final class StagedGraftTable(ident: Identifier,
      stageDir: String, finalDir: String, location: Option[String])
      extends org.apache.spark.sql.connector.catalog.StagedTable
      with SupportsWrite {
    private val inner = new GraftTable(fullName(ident), stageDir, None)
    private val pubTxn =
      stageDir.drop(stageDir.lastIndexOf(".stage-") + 7)
    override def name(): String = inner.name()
    override def schema(): StructType = inner.schema()
    override def capabilities(): util.Set[
        org.apache.spark.sql.connector.catalog.TableCapability] =
      inner.capabilities()
    override def newWriteBuilder(
        info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
        : org.apache.spark.sql.connector.write.WriteBuilder =
      inner.newWriteBuilder(info)
    override def commitStagedChanges(): Unit = {
      // per-dir FS resolution: an external LOCATION can live on a
      // different scheme than the warehouse (stage and final are
      // siblings by construction, so ONE fs covers both)
      val f = TxLog.fs(spark, finalDir)
      TxLog.invalidate(stageDir)
      val dst = new Path(finalDir)
      // the name-race fence at publish time: a rival CTAS (or a plain
      // CREATE) that won the slot makes this one refuse — EXCEPT a
      // pre-existing EMPTY directory at an external LOCATION, which
      // is the conventional "prepared empty target" shape
      val occupied = f.exists(dst) &&
        (f.listStatus(dst).nonEmpty || location.isEmpty)
      if (occupied) {
        f.delete(new Path(stageDir), true)
        throw new TableAlreadyExistsException(ident)
      }
      if (f.exists(dst)) f.delete(dst, false)
      f.mkdirs(dst.getParent)
      // external LOCATION: the publish is rename-then-redirect across
      // two filesystems. Stamp the durable INTENT first (warehouse
      // side) plus a marker that RIDES the rename, so a crash between
      // the two completes through completeCrashedPublish instead of
      // stranding committed data with no catalog entry (r14; was a
      // documented loud-refusal window in r13).
      location.foreach { loc =>
        f.create(new Path(stageDir, s".publish-$pubTxn"), true).close()
        val wf = TxLog.fs(spark, warehouse)
        wf.mkdirs(new Path(managedDir(ident)))
        val out = wf.create(intentPath(ident), true)
        try out.write(s"$loc\n$pubTxn".getBytes("UTF-8"))
        finally out.close()
      }
      require(f.rename(new Path(stageDir), dst),
        s"CTAS publish rename failed: $stageDir -> $finalDir")
      TxLog.invalidate(finalDir)
      GraftCatalog.afterPublishRename() // test-only crash injection
      location.foreach { loc =>
        val wf = TxLog.fs(spark, warehouse)
        wf.mkdirs(new Path(managedDir(ident)))
        val out = wf.create(redirectPath(ident), true)
        try out.write(loc.getBytes("UTF-8")) finally out.close()
        TxLog.hygiene {
          f.delete(new Path(finalDir, s".publish-$pubTxn"), false)
          wf.delete(intentPath(ident), false)
        }
      }
    }
    override def abortStagedChanges(): Unit = {
      TxLog.invalidate(stageDir)
      TxLog.fs(spark, stageDir).delete(new Path(stageDir), true)
      // drop the intent ONLY when the publish rename never happened
      // (the marker died with the staging we just deleted). After the
      // rename the data IS committed at the LOCATION and the intent is
      // the recovery vehicle — completeCrashedPublish finishes the
      // redirect on the next resolution of the name.
      TxLog.hygiene {
        if (!TxLog.fs(spark, finalDir)
            .exists(new Path(finalDir, s".publish-$pubTxn")))
          TxLog.fs(spark, warehouse).delete(intentPath(ident), false)
      }
    }
  }

  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    // schema changes lower onto ONE metadata-only manifest commit
    // (Compaction.alterSchema: adds null-extend on read, renames are a
    // versioned mapping, drops stop projecting — no data file moves);
    // property touches stay a no-op (the manifest owns table
    // parameters; buckets change through rebucket())
    if (!isTable(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    requireMergeTable(dir)
    def top(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"graft ALTER TABLE $what supports top-level columns only, " +
          s"got ${fieldNames.mkString(".")}")
      fieldNames.head
    }
    val schemaChanges = changes.flatMap {
      case a: TableChange.AddColumn =>
        require(a.isNullable,
          "graft ALTER TABLE ADD COLUMN must be nullable: pre-ALTER " +
            "files genuinely lack the column and read back null")
        require(a.position() == null,
          "graft ALTER TABLE ADD COLUMN appends; FIRST/AFTER is not " +
            "supported (column order is the manifest schema's)")
        Some(Compaction.SchemaChange.AddColumn(
          top(a.fieldNames(), "ADD COLUMN"), a.dataType()))
      case d: TableChange.DeleteColumn =>
        Some(Compaction.SchemaChange.DropColumn(
          top(d.fieldNames(), "DROP COLUMN")))
      case r: TableChange.RenameColumn =>
        Some(Compaction.SchemaChange.RenameColumn(
          top(r.fieldNames(), "RENAME COLUMN"), r.newName()))
      case w: TableChange.UpdateColumnType =>
        Some(Compaction.SchemaChange.WidenColumn(
          top(w.fieldNames(), "ALTER COLUMN TYPE"), w.newDataType()))
      // the change-feed opt-in toggles as a metadata-only commit; any
      // other property touch stays a no-op (the manifest owns table
      // parameters)
      case p: TableChange.SetProperty if p.property() == "feed" =>
        Compaction.setFeedEnabled(spark, dir, p.value().toBoolean)
        None
      case p: TableChange.SetProperty
          if p.property() == TableCatalog.PROP_LOCATION =>
        // ALTER TABLE t SET LOCATION '<dir>' = atomic MOVE TABLE (r15)
        moveTable(ident, p.value())
        None
      case p: TableChange.SetProperty if p.property() == "ndv_p" =>
        // stats-only committed rewrite (r15, was an ALTER refusal):
        // every clean bucket's cluster-column sketch re-derives at the
        // new register width from the committed files — footer/one
        // bounded aggregate pass, no data rewrite. Register-wise
        // merging still requires ONE width table-wide, so unfolded
        // merge-on-read deltas refuse inside (compact first).
        Compaction.refreshStats(spark, dir,
          ndvP = Some(p.value().toInt))
        None
      case _: TableChange.SetProperty => None // no-op touch
      case other => throw new UnsupportedOperationException(
        s"graft ALTER TABLE does not support $other")
    }
    if (schemaChanges.nonEmpty)
      Compaction.alterSchema(spark, dir, schemaChanges)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (!isTable(ident)) return false
    val f = TxLog.fs(spark, warehouse)
    val dir = tableDir(ident)
    // drop the data only when managed; an external LOCATION table
    // unregisters (redirect removed) and keeps its data. A managed
    // Scd2/AggView dir is read-only through the catalog — destroying
    // a history table needs its own API, not a SQL DROP
    val external = f.exists(redirectPath(ident))
    if (!external) requireMergeTable(dir)
    TxLog.invalidate(dir)
    if (external) f.delete(new Path(managedDir(ident)), true)
    else f.delete(new Path(dir), true)
    true
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    if (!isTable(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (isTable(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val f = TxLog.fs(spark, warehouse)
    TxLog.invalidate(tableDir(oldIdent))
    f.mkdirs(new Path(managedDir(newIdent)).getParent)
    require(f.rename(new Path(managedDir(oldIdent)),
      new Path(managedDir(newIdent))),
      s"rename ${fullName(oldIdent)} -> ${fullName(newIdent)} failed")
  }

  override def invalidateTable(ident: Identifier): Unit =
    TxLog.invalidate(tableDir(ident))

  // ----- functions: the bucketing identity for SPJ ------------------

  override def listFunctions(
      namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      Array(Identifier.of(Array.empty, "bucket"))
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket")
      GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  // ----- namespaces: directories under the warehouse ---------------

  override def defaultNamespace(): Array[String] = Array.empty

  override def listNamespaces(): Array[Array[String]] = {
    val f = TxLog.fs(spark, warehouse)
    val root = new Path(warehouse)
    if (!f.exists(root)) Array.empty
    else f.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        !isTable(Identifier.of(Array.empty, st.getPath.getName)))
      .map(st => Array(st.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || TxLog.fs(spark, warehouse)
      .exists(new Path((warehouse +: namespace.toSeq).mkString("/")))

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] =
    if (namespaceExists(namespace)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    TxLog.fs(spark, warehouse)
      .mkdirs(new Path((warehouse +: namespace.toSeq).mkString("/")))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val f = TxLog.fs(spark, warehouse)
    val p = new Path((warehouse +: namespace.toSeq).mkString("/"))
    if (!f.exists(p)) false
    else {
      if (!cascade && f.listStatus(p).nonEmpty)
        throw new IllegalStateException(
          s"namespace ${namespace.mkString(".")} is not empty")
      f.delete(p, true)
    }
  }
}

object GraftCatalog {
  /** Test-only failpoint: invoked right after an external-LOCATION
    * CTAS's publish rename, before the warehouse redirect write —
    * crash-injection specs throw here to exercise
    * `completeCrashedPublish`.
    */
  private[catalog] var afterPublishRename: () => Unit = () => ()
  private[catalog] var afterMoveRename: () => Unit = () => ()
  private[catalog] var afterMoveSwap: () => Unit = () => ()
}

/** One maintained table resolved through [[GraftCatalog]] —
  * optionally pinned to a historical version (`VERSION AS OF` /
  * `TIMESTAMP AS OF`).
  */
final class GraftTable(tableName: String, val dir: String,
    val asOf: Option[Long]) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog
      .SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = tableName

  /** `_order` — the feed PUBLISH ORDER (the feed batch id) as a
    * metadata column on `spark.readStream.table` changelog reads:
    * `.select($"*", $"_order")` threads it into a downstream merge so
    * two events for one key at the SAME version (a DELETE's tombstone
    * against the insert it supersedes, drained in one multi-batch
    * micro-batch) resolve by publish order instead of arbitrarily —
    * the engine's own merge recognizes `_order` as its sanctioned
    * tiebreak channel and never stores it. Streaming-only: stored
    * table rows have no publish order, so a batch read selecting it
    * refuses (see [[GraftScan.toBatch]]). `_order` is a reserved
    * column name, so it can never shadow table data.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name: String = "_order"
      override def dataType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment: String =
        "feed publish order (feed batch id); streaming changelog " +
          "reads only — thread into a downstream merge to resolve " +
          "same-version events by publish order"
    })

  /** The committed data schema: the live manifest's, or — pinned —
    * the schema as of that commit (evolution is part of history).
    */
  override def schema(): StructType = {
    val props = asOf match {
      case Some(v) => TxLog.read(spark, dir, v).props
      case None => TxLog.latest(spark, dir).getOrElse(
        throw new IllegalArgumentException(
          s"no committed manifest under $dir")).props
    }
    DataType.fromJson(props("schema_json")).asInstanceOf[StructType]
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE,
      // `spark.readStream.table("graft.ns.t")` — the table's change
      // data feed as a CHANGELOG stream in the table schema (see
      // GraftScan.toMicroBatchStream); requires the 'feed' property
      TableCapability.MICRO_BATCH_READ)

  override def properties(): util.Map[String, String] = {
    val (keys, versionCol, deleteCol, nBuckets) =
      Compaction.readMeta(spark, dir)
    // surface the lifecycle state DESCRIBE EXTENDED should show: the
    // time-partition spec and the committed retention floor
    val snap = TxLog.latest(spark, dir)
    val lifecycle = snap.toSeq.flatMap { s =>
      s.prop("tp_unit").zip(s.prop("tp_col")).map { case (u, c) =>
        "partition_spec" -> s"$u($c)" } ++
        s.prop("tp_min").map("partition_floor" -> _) ++
        // r14 surface: the replace-lineage floor (RESTORE refuses
        // below it), the restore/replace consumer fence, and the
        // declared sketch precision
        s.prop("lineage_floor").map("lineage_floor" -> _) ++
        s.prop("feed_epoch").map("feed_epoch" -> _) ++
        s.prop("ndv_p").map("ndv_p" -> _)
    }
    (Map(TableCatalog.PROP_PROVIDER -> "graft", "keys" -> keys,
      "version_col" -> versionCol, "delete_col" -> deleteCol,
      "buckets" -> nBuckets.toString,
      TableCatalog.PROP_LOCATION -> dir) ++ lifecycle ++
      (if (Compaction.feedEnabled(spark, dir)) Map("feed" -> "true")
       else Map.empty)).asJava
  }

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, dir, asOf, schema(), None, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty, "cannot write to a time-travel (AS OF) table")
    new GraftWriteBuilder(dir, info)
  }

  /** Standard-connector MERGE/UPDATE/DELETE (group-based replace with
    * runtime group filtering) — the route a session WITHOUT the
    * GraftDml extension rule plans through. See
    * [[GraftRowLevelOperation]]; note the GraftDml route additionally
    * emits change-feed events (a group replace has no pre-images to
    * classify), so feed consumers should prefer it.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(asOf.isEmpty, "cannot run DML against a time-travel table")
    () => new GraftRowLevelOperation(dir, info.command())
  }
}

/** Scan builder for the native DSv2 read ([[GraftScan]]): filter +
  * column pushdown reach the parquet readers and the driver-side
  * bucket/zone-map pruning directly, and a bare `COUNT(*)` on a
  * compacted table short-circuits to manifest stats with zero file
  * reads ([[GraftCountScan]]). Every filter is ALSO returned as
  * post-scan (Spark re-applies it above), so pushdown is purely a
  * data reduction, never a correctness dependency.
  */
private[catalog] final class GraftScanBuilder(spark: SparkSession,
    dir: String, asOf: Option[Long], tableSchema: StructType,
    tracker: Option[GraftRowTracker] = None,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var aggStats: Option[(StructType, Array[Any])] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f =>
      GraftScanBuilder.translate(f).isDefined)
    filters // all re-applied post-scan: pushdown is best-effort
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** `SELECT COUNT(*)` / `MIN(versionCol)` / `MAX(versionCol)`
    * answered from the manifest alone — the SQL route to
    * [[Compaction.countRows]]'s zero-scan arithmetic and the
    * per-bucket zone maps. Only a complete pushdown is offered, and
    * only when the answer IS metadata: no residual filters, no GROUP
    * BY, every aggregate one of the three supported shapes, no
    * unfolded merge-on-read deltas (a fold outcome is not
    * metadata-derivable), and recorded stats for every live bucket.
    * Min/max are sound because stored rows of a compacted table are
    * LIVE rows (tombstones drop at merge), so footer stats describe
    * exactly what the scan would produce. Anything else declines and
    * the normal scan answers.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = statsFromManifest(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = {
    aggStats = statsFromManifest(agg)
    aggStats.isDefined
  }

  private def statsFromManifest(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Option[(StructType, Array[Any])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (tracker.isDefined) return None // row-level scans read rows
    if (pushed.nonEmpty || agg.groupByExpressions.nonEmpty ||
        agg.aggregateExpressions.isEmpty) return None
    val meta = try ScanMeta.load(spark, dir, asOf)
      catch { case scala.util.control.NonFatal(_) => return None }
    if (meta.dirty.nonEmpty) return None // fold outcome needs a read
    val live = meta.buckets.keySet.toSeq

    def isVersionRef(e: org.apache.spark.sql.connector.expressions
        .Expression): Boolean = e match {
      case r: NamedReference => r.fieldNames.length == 1 &&
        meta.versionCol.exists(r.fieldNames()(0).equalsIgnoreCase)
      case _ => false
    }
    val vType = meta.versionCol
      .flatMap(vc => meta.schema.fields
        .find(_.name.equalsIgnoreCase(vc)).map(_.dataType))

    lazy val count: Option[Long] = {
      val cs = live.map(b => meta.props.get(s"rows.$b").map(_.toLong))
      if (cs.exists(_.isEmpty)) None else Some(cs.flatten.sum)
    }
    // typed extreme over the stringified per-bucket stats (Catalyst
    // cast back to the column's type — never string order). A bucket
    // missing its stat key declines: for the version column it means
    // a pre-stats manifest; for a (nullable) cluster column it is
    // indistinguishable from an all-null bucket, and answering from
    // the rest could only be proven safe by reading — which is the
    // thing this pushdown avoids.
    def extremeOf(dt0: Option[org.apache.spark.sql.types.DataType],
        key: Int => String, wantMax: Boolean): Option[Any] = {
      val dt = dt0.getOrElse(return None)
      // string stats are TRUNCATED bounds (prune-valid, not exact) —
      // MIN/MAX must come from a real scan
      if (dt == org.apache.spark.sql.types.StringType) return None
      if (live.isEmpty) return Some(null) // empty table: SQL null
      val raw = live.map(b => meta.props.get(key(b)))
      if (raw.exists(_.isEmpty)) return None
      val typed = raw.flatten.map { s0 =>
        val v = org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(s0),
            org.apache.spark.sql.types.StringType), dt,
          Some(org.apache.spark.sql.internal.SQLConf.get
            .sessionLocalTimeZone)).eval()
        if (v == null) return None // unparsable stat: decline
        v
      }
      val ord = org.apache.spark.sql.catalyst.types.PhysicalDataType
        .ordering(dt).asInstanceOf[Ordering[Any]]
      Some(if (wantMax) typed.max(ord) else typed.min(ord))
    }
    def extreme(prefix: String, wantMax: Boolean): Option[Any] =
      extremeOf(vType, b => s"$prefix.$b", wantMax)
    // clusterBy columns answer MIN/MAX from their per-bucket
    // cmin/cmax zone maps (r12) — the same soundness as the version
    // column: stored rows of a compacted table ARE the live rows
    val clusterCols = meta.props.get("cluster_by")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    def clusterRef(e: org.apache.spark.sql.connector.expressions
        .Expression): Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        clusterCols.find(r.fieldNames()(0).equalsIgnoreCase)
      case _ => None
    }
    def clusterType(c: String) = meta.schema.fields
      .find(_.name.equalsIgnoreCase(c)).map(_.dataType)

    val resolved = agg.aggregateExpressions.zipWithIndex.map {
      case (_: CountStar, i) => count.map(c =>
        (org.apache.spark.sql.types.StructField(s"count_star_$i",
          org.apache.spark.sql.types.LongType, nullable = false),
          c: Any))
      case (m: Min, i) if isVersionRef(m.column()) =>
        extreme("minv", wantMax = false).map(v =>
          (org.apache.spark.sql.types.StructField(s"min_$i",
            vType.get, nullable = true), v))
      case (m: Max, i) if isVersionRef(m.column()) =>
        extreme("maxv", wantMax = true).map(v =>
          (org.apache.spark.sql.types.StructField(s"max_$i",
            vType.get, nullable = true), v))
      case (m: Min, i) if clusterRef(m.column()).isDefined =>
        val c = clusterRef(m.column()).get
        extremeOf(clusterType(c), b => s"cmin.$b.$c", wantMax = false)
          .map(v => (org.apache.spark.sql.types.StructField(s"min_$i",
            clusterType(c).get, nullable = true), v))
      case (m: Max, i) if clusterRef(m.column()).isDefined =>
        val c = clusterRef(m.column()).get
        extremeOf(clusterType(c), b => s"cmax.$b.$c", wantMax = true)
          .map(v => (org.apache.spark.sql.types.StructField(s"max_$i",
            clusterType(c).get, nullable = true), v))
      case _ => None
    }
    if (resolved.exists(_.isEmpty)) return None
    val pairs = resolved.flatten
    Some((StructType(pairs.map(_._1)), pairs.map(_._2).toArray))
  }

  override def build(): Scan = aggStats match {
    case Some((schema, values)) => new GraftStatsScan(dir, schema, values)
    case None => new GraftScan(spark, dir, asOf, required, pushed,
      tracker, options)
  }
}

private[catalog] object GraftScanBuilder {

  /** Exact translation of a v1 source filter to a Column predicate;
    * None = not translatable (stays post-scan only).
    */
  def translate(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) =>
      Some(col(a).isInCollection(vs.toSeq))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) =>
      Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.And(l, r) =>
      for (lc <- translate(l); rc <- translate(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- translate(l); rc <- translate(r)) yield lc || rc
    case sources.Not(c) => translate(c).map(!_)
    case _ => None
  }
}

/** An Scd2 history or AggView dashboard table resolved through the
  * catalog: read-only SQL access served by the SAME native Batch scan
  * the merge tables use ([[GraftScan]]), with the family's own
  * reconciliation applied in the fold readers — Scd2 merge-on-read
  * buckets re-derive their validity intervals per key, AggView dirty
  * buckets sum partials; compacted tables read COLUMNAR with zero
  * per-row conversion. Writes and DML refuse — maintenance stays with
  * the Scd2/AggView APIs, which own the merge semantics.
  */
final class GraftReadOnlyTable(tableName: String, val dir: String,
    val tableType: String) extends Table with SupportsRead {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = tableName

  override def schema(): StructType = {
    val props = TxLog.latest(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"no committed manifest under $dir")).props
    // both families store their full READ schema (Scd2's includes the
    // generated valid_to/is_current interval columns)
    DataType.fromJson(props("schema_json")).asInstanceOf[StructType]
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def properties(): util.Map[String, String] =
    (Map(TableCatalog.PROP_PROVIDER -> "graft",
      "table_type" -> tableType,
      TableCatalog.PROP_LOCATION -> dir) ++
      // an expired-history floor is the one lifecycle fact a reader
      // of an scd2 table must know (asOf below it refuses)
      TxLog.latest(spark, dir).flatMap(_.prop("expired_before"))
        .map("expired_before" -> _)).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, dir, None, schema())
}

/** INSERT INTO = one upsert merge; INSERT OVERWRITE (truncate) = full
  * re-init under the table's existing parameters; `writeStream
  * .toTable` = one fenced merge per epoch ([[GraftStreamingWrite]]).
  * Streaming `update` output mode is append-as-upsert by nature here
  * (the merge IS the update), hence the marker trait.
  */
private[catalog] final class GraftWriteBuilder(dir: String,
    info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.internal.connector
      .SupportsStreamingUpdateAsAppend {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new V1Write {
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(!overwrite,
        "streaming INSERT OVERWRITE (complete mode) is not supported " +
          "on maintained tables — the merge is incremental by design")
      new GraftStreamingWrite(dir, info.schema(), info.queryId())
    }
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, ov: Boolean): Unit = {
          val spark = data.sparkSession
          val (keyProp, versionCol, deleteCol, nBuckets) =
            Compaction.readMeta(spark, dir)
          val snap = TxLog.latest(spark, dir).get
          val tableCols = DataType.fromJson(snap.props("schema_json"))
            .asInstanceOf[StructType].fieldNames.toSeq
          // v2 insert resolution already aligned names/arity; select
          // in table order for the merge's schema-union determinism
          val aligned = data.select(tableCols.map(col): _*)
          if (overwrite || ov) {
            // truncation resets the table AND its feed directory —
            // batch numbering would restart at 0 and every
            // checkpointed consumer would silently stall or skip.
            // Refuse rather than strand consumers; an intentional
            // reset is DROP + CREATE (consumers re-seed explicitly).
            require(!snap.prop("feed").contains("true"),
              "INSERT OVERWRITE on a change-feed-enabled table would " +
                "reset feed batch numbering and strand checkpointed " +
                "consumers; express the change through MERGE/DELETE " +
                "+ INSERT (which emit feed events), or DROP and " +
                "re-CREATE the table")
            val clusterBy = snap.prop("cluster_by")
              .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
            // EVERY declared table parameter survives the re-init:
            // the time-partition spec and sketch precision are part
            // of the table's DDL, not of the data being replaced
            // (dropping tp silently de-partitioned the table, r14)
            val tp = for { u <- snap.prop("tp_unit");
              c <- snap.prop("tp_col") } yield (u, c)
            Compaction.init(aligned, dir, keyProp.split(",").toSeq,
              versionCol, deleteCol, nBuckets, clusterBy,
              feed = false, timePartition = tp,
              ndvP = snap.prop("ndv_p").map(_.toInt))
          } else {
            // catalog tables keep history: VERSION AS OF serves every
            // commit until an explicit Compaction.vacuum bounds it
            Compaction.merge(spark, dir, aligned, retainHistory = true)
          }
        }
      }
  }
}
