package graft

import org.apache.spark.sql.SparkSession

import graft.io.NioLocalFileSystem

/** Canonical tuned SparkSession for this engine. One place for the
  * settings that matter at scale so every entry point (Verify, Bench,
  * demos, user code) runs the same engine:
  *
  *  - AQE on (runtime join-strategy switch, partition coalescing, skew
  *    splitting) — the 100 TB safety net for mis-estimated stages;
  *  - shuffle partitions sized to the machine (never the 200 default);
  *  - UTC session timezone (oracle parity, TIMESTAMPTZ semantics);
  *  - ns parquet timestamps read as long (see Tables.eventsSince);
  *  - extensions registered so SQL users get the native functions;
  *  - `file:` served by [[graft.io.NioLocalFileSystem]]: with no native
  *    `libhadoop` on the host, Hadoop's local filesystem starts one
  *    `chmod` process per file or directory it creates (tables, change
  *    feed, watermarks, CSV exports); this one sets the same modes in
  *    process. Hadoop caches the first `file:` FileSystem a JVM creates,
  *    so it applies only when this session is built before any other.
  */
object GraftSession {

  def builder(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      : SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // 128 MiB scan splits: big enough to amortize task overhead,
      // small enough that a task's working set fits executor memory at
      // the 100 TB target — stated explicitly so the sizing intent
      // survives default changes
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      // scan-split floor: Spark sizes splits as
      // min(maxPartitionBytes, max(openCostInBytes, totalBytes/cores)) —
      // the 4 MiB default floor forces a sub-128 MiB single-file table
      // into 1-3 splits no matter how many cores are idle, serializing
      // the expensive map side (tokenize/shingle/hash) of every scan
      // over it. 128 KiB keeps the formula's scale-adaptive term in
      // charge (at large inputs bytes-per-core > the floor and nothing
      // changes) while small corpora fan out. ABBA-measured ~10% on the
      // scan-bound text/dedup subset; no effect on 100 TB-shaped scans.
      .config("spark.sql.files.openCostInBytes", "131072")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // every engine write lands in a per-txn STAGING dir and becomes
      // visible only through the manifest commit (TxLog rename), so the
      // Hadoop committer's own job-commit atomicity is redundant here:
      // algorithm v2 renames task output at task commit (parallel,
      // O(tasks)) instead of a single job-commit pass over every file
      // (serial on the driver, O(files) — measured 2.4 s of a 7 s
      // time-partitioned merge staging 240 leaf files), and the
      // _SUCCESS marker nothing reads is skipped. Correctness is
      // unchanged: a half-written staging dir is never referenced by a
      // manifest and is swept by TxLog.sweep.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      // v2 TASK commit is non-atomic (a task dying mid-commit leaves a
      // partially-renamed file subset in the staging dir). That is safe
      // here only because output filenames are deterministic per split
      // and no two attempts of one task run concurrently — so a retry
      // overwrites its own half-renamed files. Speculation would break
      // that precondition (two live attempts of one task); pin it off
      // explicitly rather than relying on the default.
      .config("spark.speculation", "false")
      .config(NioLocalFileSystem.ConfKey, NioLocalFileSystem.ClassName)
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
    // deployment/scale overrides without a code edit: every env entry
    // SPARK_GRAFT_CONF_<n>="spark.key=value" lands as .config(key, value)
    // AFTER the defaults above, so a cluster profile can re-tune any of
    // them (shuffle codec, advisory partition size, join preferences)
    // while the zero-env local defaults stay bench-comparable.
    sys.env.toSeq
      .filter { case (k, v) =>
        k.startsWith("SPARK_GRAFT_CONF") && v.contains("=") }
      .sortBy { case (k, _) =>
        // numeric-suffix order so SPARK_GRAFT_CONF_10 applies AFTER
        // SPARK_GRAFT_CONF_2 (lexicographic "10" < "2" surprised when
        // two entries set the same spark key — last wins); entries
        // without a numeric suffix order after the numbered ones
        val sfx = k.drop("SPARK_GRAFT_CONF".length).dropWhile(_ == '_')
        (scala.util.Try(sfx.toLong).getOrElse(Long.MaxValue), k)
      }
      .map(_._2.split("=", 2))
      // a malformed "=x" value would otherwise set an EMPTY config key
      .filter(kv => kv(0).trim.nonEmpty)
      .foldLeft(b) { case (bb, Array(k, v)) => bb.config(k.trim, v) }
  }

  def get(appName: String = "graft"): SparkSession = {
    val s = builder().appName(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
