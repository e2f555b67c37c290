package graft.io

import java.net.URI
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

import graft.SparkSpec
import graft.cdc.{CdcEngine, Compaction, TxLog, UserRow, WatermarkStore}
import graft.streaming.CdcStream

/** The engine's `file:` filesystem starts no process for a write, and
  * leaves the same modes as Hadoop's own local filesystem.
  */
class NioLocalFileSystemSpec extends SparkSpec {

  import spark.implicits._

  /** Run `body` under a JFR recording of `jdk.ProcessStart`; returns the
    * command line of every process that Hadoop code started meanwhile.
    * Processes Spark starts on its own schedule (a session's artifact
    * cleanup `rm -rf` when it is collected, the metrics poller's one
    * `getconf PAGESIZE`) have no Hadoop frame and are not counted.
    */
  private def hadoopProcessStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("proc", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filter(_.getStackTrace.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop.")))
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  private def fresh(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Relative path -> mode of everything under `root`. */
  private def modes(root: String): Map[String, Int] = {
    val r = Paths.get(root)
    Files.walk(r).iterator().asScala.filter(_ != r)
      .map(p => r.relativize(p).toString -> mode(p)).toMap
  }

  test("the engine session's file: filesystem is the NIO one") {
    val dir = tmpDir("niofs")
    assert(TxLog.fs(spark, dir).isInstanceOf[NioLocalFileSystem])
  }

  test("creates, nested mkdirs and setPermission leave Hadoop's modes") {
    for (umask <- Seq("022", "077")) {
      val trees = Seq(new LocalFileSystem(), new NioLocalFileSystem()).map { f =>
        val fs = fresh(f, umask)
        val root = tmpDir("niofs-modes")
        val p = (s: String) => new Path(s"$root/$s")
        fs.create(p("a/b/data.bin")).close()
        fs.mkdirs(p("d1/d2/d3"))
        fs.setPermission(p("a/b/data.bin"), new FsPermission(Integer.parseInt("640", 8).toShort))
        fs.setPermission(p("d1/d2"), new FsPermission(Integer.parseInt("705", 8).toShort))
        // setgid directory: a directory made inside inherits the bit, and
        // Hadoop's `chmod 0755` keeps it
        fs.mkdirs(p("g"))
        fs.setPermission(p("g"), new FsPermission(Integer.parseInt("2755", 8).toShort))
        fs.mkdirs(p("g/sub"))
        fs.create(p("g/sub/x.bin")).close()
        modes(root)
      }
      val Seq(stock, nio) = trees
      assert(stock.contains("a/b/.data.bin.crc"), stock.keys)
      assert(nio == stock, s"umask $umask: NIO modes $nio, Hadoop's $stock")
      val own = Integer.parseInt(if (umask == "022") "755" else "700", 8)
      assert(stock("d1/d2/d3") == own, f"umask $umask: ${stock("d1/d2/d3")}%o")
    }
  }

  test("a sticky-bit mode falls back to Hadoop's chmod") {
    val fs = fresh(new NioLocalFileSystem(), "022")
    val dir = tmpDir("niofs-sticky")
    val sticky = Integer.parseInt("1777", 8)
    fs.setPermission(new Path(dir), new FsPermission(sticky.toShort))
    assert(mode(Paths.get(dir)) == sticky)
  }

  test("a table, merge, compaction and exports start no filesystem process") {
    val root = tmpDir("niofs-procs")
    val users = (1 to 200).map { i =>
      val created = Timestamp.valueOf("2026-01-01 00:00:00")
      UserRow(i, s"u$i", s"u$i@x.com", created,
        new Timestamp(created.getTime + i * 60000L), i % 10 == 0)
    }
    users.toDF().write.parquet(s"$root/users")
    def rows(ids: Seq[Long], version: Long) =
      ids.map(i => (i, s"v$version-$i", version, false))
        .toDF("id", "payload", "version", "deleted")
    if (!NativeIO.isAvailable) {
      // the control: Hadoop's own local filesystem forks per create
      val stock = fresh(new RawLocalFileSystem(), "022")
      val control = hadoopProcessStarts(stock.create(new Path(s"$root/control")).close())
      assert(control.nonEmpty, "the recording saw no chmod from the stock filesystem")
    }
    val table = s"$root/table"
    val started = hadoopProcessStarts {
      Compaction.init(rows(1L to 100L, 0L), table, Seq("id"), "version",
        "deleted", 8, Nil, feed = true)
      Compaction.merge(spark, table, rows(90L to 110L, 1L),
        emitFeed = true, mergeOnRead = true)
      Compaction.compact(spark, table)
      val engine = new CdcEngine(spark, s"$root/users", s"$root/wm", s"$root/out")
      assert(engine.fullExport("c").rowsExported == 180L)
      new WatermarkStore(spark, s"$root/wm")
        .upsert("c", Timestamp.valueOf("2026-01-01 02:00:00"))
      assert(engine.incrementalExport("c").rowsExported > 0L)
    }
    assert(Compaction.countRows(spark, table) == 110L)
    assert(started.isEmpty, s"processes started: ${started.mkString("; ")}")
  }

  test("a streaming export's checkpoints start no filesystem process") {
    val root = tmpDir("niofs-stream")
    val created = Timestamp.valueOf("2026-01-01 00:00:00")
    (1 to 50).map(i => UserRow(i, s"u$i", s"u$i@x.com", created,
        new Timestamp(created.getTime + i * 60000L), i % 10 == 0))
      .toDF().write.parquet(s"$root/users")
    // the control: Hadoop's own FileContext filesystem forks for a
    // create (chmod, without native IO) and for a rename (readlink)
    val stock = FileContext.getFileContext(URI.create("file:///"),
      new Configuration())
    val control = hadoopProcessStarts {
      stock.create(new Path(s"$root/control"),
        java.util.EnumSet.of(CreateFlag.CREATE)).close()
      stock.rename(new Path(s"$root/control"), new Path(s"$root/control2"))
    }
    assert(control.nonEmpty, "the recording saw no process from the stock FileContext")
    // a session with the FileContext setting the engine session carries
    val s = spark.newSession()
    s.conf.set(NioLocalFileSystem.FileContextConfKey.stripPrefix("spark.hadoop."),
      NioLocalFileSystem.FileContextClassName)
    assert(FileContext.getFileContext(URI.create("file:///"),
      s.sessionState.newHadoopConf()).getDefaultFileSystem
      .isInstanceOf[NioLocalFs])
    val started = hadoopProcessStarts {
      new CdcStream(s, s"$root/users", s"$root/ckpt", s"$root/out")
        .deltaExport("c").awaitTermination()
    }
    assert(new java.io.File(s"$root/out").list().exists(_.endsWith(".csv")))
    assert(new java.io.File(s"$root/ckpt/c-delta/commits").list().nonEmpty)
    assert(started.isEmpty, s"processes started: ${started.mkString("; ")}")
  }
}
