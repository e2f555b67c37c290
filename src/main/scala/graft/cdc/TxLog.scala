package graft.cdc

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Minimal versioned-manifest transaction log for the maintained-table
  * family (Compaction / Scd2 / AggView) — the scaled analog of the
  * reference's Postgres transaction around data + watermark
  * (`/root/reference/app/services/jobs.py:31-60`, commit at `:42`).
  *
  * Protocol: data files are IMMUTABLE once written — a merge writes its
  * output under a fresh generation directory (`data/g<V>/bucket=B`),
  * invisible to readers, then commits by renaming one properties file
  * into `manifest/v<V>`. That single rename atomically publishes the
  * new bucket map AND every piece of table metadata (schema, batch-id
  * fence, counters): a crash anywhere before it leaves the table
  * byte-identical at the previous version, and a crash anywhere after
  * it leaves a fully-committed table plus garbage directories that the
  * next writer sweeps. This closes the double-count window AggView
  * documented (data applied, fence not advanced) and the torn
  * per-bucket-install window Compaction documented — there is no
  * moment where readers can observe half a merge.
  *
  * The commit rename REFUSES to overwrite (`rename` to an existing
  * destination fails on HDFS-semantics filesystems and is checked
  * here): two writers racing to commit the same next version conflict
  * deterministically — one wins, the other throws — which is the
  * cross-process fence the old last-rename-wins meta write lacked.
  *
  * Manifest files are tiny (bucket count × a path string) and written
  * driver-side: zero Spark jobs. Old manifests double as time-travel
  * snapshots: `readAsOf(v)` is just "resolve manifest v" as long as
  * its generation directories were retained.
  */
private[graft] object TxLog {

  /** Thrown when a commit loses the version CAS to a concurrent
    * writer: the table advanced under us, nothing was published, and
    * the merge is safe to recompute against the new latest snapshot —
    * the retryable signal [[withOcc]] loops on.
    */
  final class CommitConflict(msg: String) extends IllegalStateException(msg)

  /** Thrown when the table state COMMITTED but a post-commit publish
    * step (e.g. the change-feed batch rename) failed after bounded
    * local retries. Deliberately NOT retryable by [[withOcc]]: the
    * version already advanced — by us — so a generic retry would
    * re-run the whole merge against its own committed output, produce
    * a zero-effect delta, and silently drop the real change events
    * (the divergence the round-5 advice flagged). Callers must treat
    * this as "table advanced, downstream batch missing" and repair
    * the publish alone.
    */
  final class PostCommitPublishFailure(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

  /** Thrown by a merge whose caller pinned the snapshot version its
    * changelog was DERIVED from (`expectedBase`) when the table has
    * advanced past it. Deliberately NOT retryable by [[withOcc]]: the
    * changelog itself is stale — recommitting it against the new
    * snapshot would replay pre-images over a concurrent writer's rows
    * (the read-modify-write lost update SQL UPDATE/DELETE would
    * otherwise be exposed to). Callers rebuild the changelog from the
    * new snapshot and retry the WHOLE read-modify-write.
    */
  final class StaleBase(msg: String) extends IllegalStateException(msg)

  /** How long an UNREFERENCED generation directory numbered above the
    * latest committed version — which is either a crashed writer's
    * orphan or a LIVE concurrent writer's in-flight install — survives
    * before the sweep reclaims it. Generation names are writer-unique
    * (`g<V>-<txn>`), so an orphan can never collide with a retry;
    * deferring its deletion is pure storage-reclamation latency, while
    * deleting it eagerly would yank a racing writer's staged data out
    * from under its commit. The default is sized for the SLOWEST
    * plausible staging write, not the common case: at 100 TB a merge
    * can stage for hours, and the only cost of a long grace is that a
    * crashed writer's garbage occupies storage until it elapses (a
    * heartbeat file under the staging dir would tighten this, at the
    * cost of a liveness protocol — not worth it while reclamation is
    * hygiene, not correctness). Specs set this to 0 to exercise the
    * reclamation path deterministically.
    */
  private[graft] var orphanGraceMs: Long = 12L * 60L * 60L * 1000L

  /** Bounded optimistic-concurrency retry: run `body` (which must
    * re-resolve the latest snapshot itself on every attempt), and
    * re-run it when it loses the commit CAS. A non-conflict failure is
    * ALSO retried when the table's version moved during the attempt —
    * a concurrent non-retaining merge's vacuum can delete the
    * pre-image directories an in-flight reader was scanning, which
    * surfaces as a read error rather than a CommitConflict; if the
    * version did NOT move, the failure is real and propagates.
    */
  private[cdc] def withOcc[A](spark: SparkSession, dir: String,
      maxAttempts: Int = 5)(body: => A): A = {
    var attempt = 1
    while (true) {
      val seen = latestVersion(spark, dir).getOrElse(-1L)
      try return body
      catch {
        // the table committed; only the downstream publish failed —
        // retrying the body would re-run an already-applied merge
        case e: PostCommitPublishFailure => throw e
        // the caller's changelog is derived from an outdated snapshot;
        // only the caller can rebuild it (see StaleBase)
        case e: StaleBase => throw e
        case _: CommitConflict if attempt < maxAttempts => attempt += 1
        case scala.util.control.NonFatal(_) if attempt < maxAttempts &&
            latestVersion(spark, dir).getOrElse(-1L) != seen =>
          attempt += 1
      }
    }
    sys.error("unreachable")
  }

  /** Post-commit storage hygiene (own-staging cleanup, retention
    * vacuum) must never fail an ALREADY-COMMITTED write: the table
    * state is published, the hygiene is redone by any later writer's
    * sweep, and propagating a transient failure here would make the
    * caller retry — and report — a merge that in fact applied
    * (observed as a raced AggView batch applying exactly once but
    * BOTH writers reporting applied=false).
    */
  private[graft] def hygiene(work: => Unit): Unit =
    try work catch { case scala.util.control.NonFatal(_) => () }

  /** One committed table state. `props` carries the table metadata;
    * bucket contents live under `bucket.<id>` keys as paths relative
    * to `<dir>/data`.
    */
  final case class Snapshot(version: Long, props: Map[String, String]) {
    def buckets: Map[Int, String] =
      props.collect { case (k, v) if k.startsWith("bucket.") =>
        k.drop("bucket.".length).toInt -> v
      }
    /** Merge-on-read delta directories per bucket, in commit order
      * (`delta.<b>` = comma-joined manifest-relative paths). Base and
      * delta dirs together are a bucket's live contents; readers fold
      * them (see [[Compaction]] merge-on-read).
      */
    def deltas: Map[Int, Seq[String]] =
      props.collect { case (k, v) if k.startsWith("delta.") =>
        k.drop("delta.".length).toInt ->
          v.split(",").toSeq.filter(_.nonEmpty)
      }
    def prop(k: String): Option[String] = props.get(k)
    def counter(name: String): Long = props.get(name).map(_.toLong).getOrElse(0L)
  }

  def bucketProps(buckets: Map[Int, String]): Map[String, String] =
    buckets.map { case (b, rel) => s"bucket.$b" -> rel }

  private def manifestDir(dir: String) = new Path(s"$dir/manifest")

  private def manifestPath(dir: String, v: Long) =
    new Path(manifestDir(dir), f"v$v%020d.properties")

  /** Zero-byte vacuum tombstone: [[vacuum]] writes one for the HIGHEST
    * version it is about to delete, BEFORE deleting any manifest, so
    * "manifest for v is gone" always implies "a tombstone ≥ v exists".
    * This keeps the commit CAS monotonic: without it, a slow writer
    * whose target slot was committed by a rival and then vacuumed
    * could rename its manifest into the vacated slot and "succeed"
    * while its data is absent from the live lineage (silent lost
    * update + forked time travel). [[commit]] refuses any version at
    * or below the highest tombstone. Tombstones are metadata-sized
    * (at most one survives — vacuum drops superseded ones) and are
    * invisible to [[versionsOnDisk]] (extension filter).
    */
  private def tombstonePath(dir: String, v: Long) =
    new Path(manifestDir(dir), f"t$v%020d.vacuumed")

  /** Highest version ever vacuumed away, or -1. Commits at or below
    * this are fenced off permanently.
    */
  private[cdc] def highestVacuumed(spark: SparkSession, dir: String): Long = {
    val d = manifestDir(dir)
    val f = fs(spark, dir)
    if (!f.exists(d)) -1L
    else f.listStatus(d).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("t") && n.endsWith(".vacuumed") =>
        n.stripPrefix("t").stripSuffix(".vacuumed").toLong
      }.foldLeft(-1L)(math.max)
  }

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** All committed versions on disk, ascending. Driver-side listing of
    * ≤ retained-versions names — metadata, never data.
    */
  def versionsOnDisk(spark: SparkSession, dir: String): Seq[Long] = {
    val d = manifestDir(dir)
    val f = fs(spark, dir)
    if (!f.exists(d)) Nil
    else f.listStatus(d).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".properties") =>
        n.stripPrefix("v").stripSuffix(".properties").toLong
      }.sorted
  }

  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    versionsOnDisk(spark, dir).lastOption

  /** Move `src` to `dst` unless `dst` already exists; true if moved,
    * false (with `src` left in place) if the name was taken. Never
    * replaces: this is the commit fence and the export publish.
    * HDFS-semantics filesystems refuse a rename onto an existing
    * destination. The LOCAL filesystem does not: its rename is POSIX
    * rename(2), which silently OVERWRITES — two same-version committers
    * would both "succeed" and one's state would be lost (observed as
    * dropped watermark consumers under a cross-instance race). There the
    * atomic refuse-if-exists primitive is link(2): hard-link `src` to the
    * final name, which fails EEXIST atomically in the kernel.
    */
  def renameIfAbsent(f: FileSystem, src: Path, dst: Path): Boolean =
    if (f.getUri.getScheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(f.makeQualified(dst).toUri.getPath),
          java.nio.file.Paths.get(f.makeQualified(src).toUri.getPath))
        f.delete(src, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else f.rename(src, dst)

  /** (version, commit wall-clock millis) for every manifest on disk,
    * ascending — the commit time is the manifest file's mtime (stamped
    * by the atomic publish rename). Serves `TIMESTAMP AS OF`: the
    * greatest version committed at or before a timestamp.
    */
  def commitTimesOnDisk(spark: SparkSession,
      dir: String): Seq[(Long, Long)] = {
    val d = manifestDir(dir)
    val f = fs(spark, dir)
    if (!f.exists(d)) Nil
    else f.listStatus(d).toSeq
      .collect {
        case st if st.getPath.getName.startsWith("v") &&
            st.getPath.getName.endsWith(".properties") =>
          st.getPath.getName.stripPrefix("v")
            .stripSuffix(".properties").toLong -> st.getModificationTime
      }.sortBy(_._1)
  }

  private def load(f: FileSystem, p: Path): Map[String, String] = {
    val props = new java.util.Properties()
    val is = f.open(p)
    try props.load(is) finally is.close()
    import scala.jdk.CollectionConverters._
    props.stringPropertyNames().asScala
      .map(k => k -> props.getProperty(k)).toMap
  }

  /** Memoized committed snapshots: manifests are IMMUTABLE once
    * committed (the commit is a refuse-if-exists rename and nothing
    * ever rewrites a manifest in place), so a manifest file identified
    * by (version, length, mtime) resolves to the same bytes forever —
    * length+mtime additionally fence a table RE-INIT, which replaces
    * v0 wholesale with new content under the same number. [[latest]]
    * still LISTS the manifest dir on every call (that is the freshness
    * check — a new commit shows up immediately, and the listing
    * already carries each file's status for free) but skips the
    * open+parse when the listed latest matches the cached one. This is
    * the r5 verdict's MV-freshness memoization: the per-query fence
    * cost drops to one driver-side listing. Size-capped (snapshots are
    * small, but test JVMs create thousands of short-lived tables).
    */
  private final case class CachedSnap(version: Long, len: Long,
      mtime: Long, snap: Snapshot)
  private val snapCache =
    scala.collection.concurrent.TrieMap.empty[String, CachedSnap]

  /** The latest committed state, or None for an uninitialized dir.
    *
    * List-then-read is inherently racy against a concurrent writer's
    * vacuum: the manifest we listed as latest can be deleted before we
    * open it — but ONLY because a newer version committed (vacuum
    * never deletes its own latest), so on FileNotFound we re-list and
    * read the newer one. Bounded, and each retry strictly advances.
    */
  def latest(spark: SparkSession, dir: String): Option[Snapshot] = {
    val d = manifestDir(dir)
    val f = fs(spark, dir)
    var attempts = 0
    while (true) {
      val manifests =
        if (!f.exists(d)) Array.empty[org.apache.hadoop.fs.FileStatus]
        else f.listStatus(d).filter { st =>
          val n = st.getPath.getName
          n.startsWith("v") && n.endsWith(".properties")
        }
      if (manifests.isEmpty) { snapCache.remove(dir); return None }
      val st = manifests.maxBy(s =>
        s.getPath.getName.stripPrefix("v").stripSuffix(".properties").toLong)
      val v = st.getPath.getName.stripPrefix("v")
        .stripSuffix(".properties").toLong
      snapCache.get(dir).filter(c => c.version == v &&
          c.len == st.getLen && c.mtime == st.getModificationTime) match {
        case Some(hit) => return Some(hit.snap)
        case None =>
          try {
            val snap = Snapshot(v, load(f, st.getPath))
            if (snapCache.size > 512) snapCache.clear()
            snapCache.put(dir, CachedSnap(v, st.getLen,
              st.getModificationTime, snap))
            return Some(snap)
          } catch {
            case _: java.io.FileNotFoundException if attempts < 20 =>
              attempts += 1
          }
      }
    }
    sys.error("unreachable")
  }

  /** A specific committed version; throws (naming the oldest still on
    * disk) when it was vacuumed or never existed.
    */
  def read(spark: SparkSession, dir: String, v: Long): Snapshot = {
    val p = manifestPath(dir, v)
    val f = fs(spark, dir)
    if (!f.exists(p)) {
      val have = versionsOnDisk(spark, dir)
      throw new IllegalArgumentException(
        s"version $v was vacuumed or never committed; " +
          s"oldest reconstructible is ${have.headOption.getOrElse(-1L)}")
    }
    Snapshot(v, load(f, p))
  }

  /** Test-only failpoint: invoked immediately before the commit rename
    * so crash-injection specs can kill a writer after its data is fully
    * staged/installed but before the table acknowledges it.
    */
  private[cdc] var beforeCommit: () => Unit = () => ()

  /** Atomically commit version `v`: write a temp file, then one rename.
    * Fails (rather than overwrites) if `v` is already committed — the
    * concurrent-writer fence.
    */
  def commit(spark: SparkSession, dir: String, v: Long,
      props0: Map[String, String]): Snapshot = {
    val f = fs(spark, dir)
    f.mkdirs(manifestDir(dir))
    // vacuum fence fast path: the slot was committed once and vacuumed
    // — renaming into it would fork history (see tombstonePath)
    if (v <= highestVacuumed(spark, dir))
      throw new CommitConflict(
        s"commit of version $v refused: the slot was committed and vacuumed")
    // commit LINEAGE: every manifest records a writer-unique txn_id and
    // the txn_id of the version it built on. The post-rename vacuum
    // fence below uses it to distinguish "our slot was vacated before
    // our rename" (fork — must abort) from "our committed version was
    // legitimately consumed by a successor and then vacuumed" (success
    // — aborting would orphan an already-reserved feed batch and drop
    // its change events on the retry's zero-effect re-merge).
    val txnId = java.util.UUID.randomUUID().toString.take(8)
    val props = props0 ++ Map("txn_id" -> txnId) ++
      latest(spark, dir).filter(_.version == v - 1)
        .flatMap(_.prop("txn_id")).map("base_txn" -> _)
    val tmp = new Path(manifestDir(dir),
      s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val p = new java.util.Properties()
    props.foreach { case (k, value) => p.setProperty(k, value) }
    val os = f.create(tmp, true)
    try p.store(os, null) finally os.close()
    beforeCommit()
    val dst = manifestPath(dir, v)
    val committed = renameIfAbsent(f, tmp, dst)
    if (!committed) {
      f.delete(tmp, false)
      throw new CommitConflict(
        s"commit of version $v lost the race (or rename failed): $dst")
    }
    // post-rename fence re-check, closing the TOCTOU against a racing
    // vacuum: the tombstone is written BEFORE any manifest delete, so
    // if our rename only succeeded because the slot was vacated, the
    // tombstone is necessarily visible now. Self-abort is safe: a
    // tombstone ≥ v implies a committed version > v exists (vacuum
    // never deletes the latest), so no reader can have resolved our
    // deleted manifest as the table's latest.
    if (v <= highestVacuumed(spark, dir)) {
      // before self-aborting, check whether a LATER committed version
      // chains off OUR txn: if so, our commit was read and consumed by
      // a successor whose vacuum tombstoned v — the commit SUCCEEDED
      // and reporting conflict would replay an applied merge (and lose
      // its reserved feed batch). Only the direct successor carries
      // our txn_id; if it too was vacuumed inside this microsecond
      // window we conservatively keep the (previous) abort behavior.
      val consumed = versionsOnDisk(spark, dir).filter(_ > v).exists { w =>
        try load(f, manifestPath(dir, w)).get("base_txn").contains(txnId)
        catch { case _: java.io.FileNotFoundException => false }
      }
      if (consumed) return Snapshot(v, props)
      f.delete(dst, false)
      throw new CommitConflict(
        s"commit of version $v landed in a vacuumed slot; self-aborted")
    }
    Snapshot(v, props)
  }

  /** Drop a table's memoized snapshot — called by the init paths so a
    * same-JVM re-init can never serve the previous table's cached
    * manifest even when the replacement lands with an identical
    * (version, length, mtime) triple on a coarse-mtime filesystem.
    */
  private[graft] def invalidate(dir: String): Unit = snapCache.remove(dir)

  /** Post-commit / pre-merge garbage sweep:
    *  - generation directories numbered AT OR BELOW the latest
    *    committed version whose buckets no manifest on disk references
    *    are superseded pre-images past their retention, or a LOSING
    *    concurrent writer's install (its version committed — by
    *    someone else) — deleting them is what bounds storage;
    *  - generation directories numbered ABOVE the latest committed
    *    version are either a crashed writer's orphans (data installed,
    *    manifest never committed) or a live concurrent writer's
    *    in-flight install; writer-unique names mean they can never
    *    collide with anything, so they are reclaimed only once older
    *    than [[orphanGraceMs]];
    *  - a stale per-writer staging directory (`.staging-<txn>`) ages
    *    out the same way; the legacy shared `.staging` is always
    *    cleared (only pre-OCC single-writer code ever wrote it).
    * Driver-side listings and deletes only; safe to crash mid-sweep
    * (the next writer just sweeps again).
    */
  def sweep(spark: SparkSession, dir: String): Unit = {
    val f = fs(spark, dir)
    val now = System.currentTimeMillis()
    val root = new Path(dir)
    if (f.exists(root)) f.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n == ".staging" || (n.startsWith(".staging-") &&
          now - st.getModificationTime > orphanGraceMs)) {
        // a stale staging may hold the ONLY copy of a committed-but-
        // unpublished feed batch (writer died between its commit and
        // the feed publish) — finish that publish before reclaiming,
        // instead of deleting the change events (r9 advice). A
        // TRANSIENT republish failure must keep the staging for the
        // next sweep: deleting it anyway would destroy the only copy
        // and make the gap permanent.
        val reclaimable =
          if (!n.startsWith(".staging-")) true
          else
            try { Compaction.republishStagedFeed(spark, dir,
              n.stripPrefix(".staging-")); true }
            catch {
              case scala.util.control.NonFatal(e) =>
                // loud, not silent: a DETERMINISTIC failure pins the
                // staging forever (by design — the events' only copy)
                // and an operator must learn, not discover by du
                org.slf4j.LoggerFactory.getLogger(getClass).warn(
                  s"feed republish from ${st.getPath} failed; keeping " +
                    "the staging for the next sweep (if this repeats, " +
                    "the batch may be unrecoverable — inspect the " +
                    s"staged files): $e")
                false
            }
        if (reclaimable)
          require(f.delete(st.getPath, true) || !f.exists(st.getPath),
            s"sweep failed: ${st.getPath}")
      }
    }
    val dataRoot = new Path(s"$dir/data")
    if (!f.exists(dataRoot)) return
    val latestV = latestVersion(spark, dir).getOrElse(-1L)
    val referenced: Set[String] = versionsOnDisk(spark, dir).flatMap { v =>
      // a concurrent vacuum may delete an old manifest between the
      // listing and this read; a gone manifest references nothing
      try {
        val s = Snapshot(v, load(f, manifestPath(dir, v)))
        s.buckets.values ++ s.deltas.values.flatten
      } catch { case _: java.io.FileNotFoundException => Nil }
    }.toSet
    f.listStatus(dataRoot).foreach { gen =>
      val name = gen.getPath.getName
      if (name.startsWith("g")) {
        // both layouts: g<V> (pre-OCC) and g<V>-<txn> (writer-unique)
        val digits = name.drop(1).takeWhile(_.isDigit)
        val genV =
          if (digits.nonEmpty) digits.toLong else Long.MaxValue
        if (genV > latestV) {
          if (now - gen.getModificationTime > orphanGraceMs)
            require(f.delete(gen.getPath, true) || !f.exists(gen.getPath),
              s"sweep failed: ${gen.getPath}")
        } else {
          // a CAS loser deletes its own at-or-below-latest install
          // concurrently with this sweep: a generation vanishing
          // between the root listing and here is already-done work
          val children =
            try f.listStatus(gen.getPath)
            catch {
              case _: java.io.FileNotFoundException =>
                Array.empty[org.apache.hadoop.fs.FileStatus]
            }
          var remaining = false
          children.foreach { b =>
            val rel = s"$name/${b.getPath.getName}"
            if (!referenced.contains(rel))
              require(f.delete(b.getPath, true) || !f.exists(b.getPath),
                s"sweep failed: ${b.getPath}")
            else remaining = true
          }
          if (!remaining) f.delete(gen.getPath, true)
        }
      }
    }
  }

  /** Drop manifests below `keepFromVersion` (never the latest), then
    * sweep newly-unreferenced data. Time-travel retention in two
    * driver-side steps.
    */
  def vacuum(spark: SparkSession, dir: String, keepFromVersion: Long): Unit = {
    val f = fs(spark, dir)
    val vs = versionsOnDisk(spark, dir)
    val drop = vs.filter(v => v < keepFromVersion && v != vs.last)
    if (drop.nonEmpty) {
      // fence FIRST: tombstone the highest version this vacuum will
      // delete before deleting anything, so a slow writer can never
      // commit into a slot we vacated (see tombstonePath). Overwrite-
      // create: racing vacuums writing the same zero-byte marker are
      // idempotent.
      val prior = highestVacuumed(spark, dir)
      f.create(tombstonePath(dir, drop.max), true).close()
      drop.foreach { v =>
        val p = manifestPath(dir, v)
        // a concurrent vacuum (two CAS writers cleaning up after their
        // own commits) may have deleted it first — already-gone is
        // fine, only a delete that LEAVES the file behind is an error
        require(f.delete(p, false) || !f.exists(p),
          s"vacuum failed to delete manifest v$v")
      }
      // superseded tombstones are redundant (the fence is the max);
      // dropping them is hygiene, the new one must stay
      hygiene {
        if (prior >= 0 && prior < drop.max)
          f.delete(tombstonePath(dir, prior), false)
      }
    }
    sweep(spark, dir)
  }
}
