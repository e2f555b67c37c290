package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.io.NioLocalFileSystem

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .config(NioLocalFileSystem.ConfKey, NioLocalFileSystem.ClassName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The bucket of `nBuckets` a key tuple hashes into. The values hash
    * as given, so pass them typed as the key columns (`7L` for a bigint
    * key): `xxhash64` of an Int and of the equal Long differ.
    */
  def keyBucket(key: Seq[Any], nBuckets: Int): Int =
    graft.cdc.Bucketing.bucketOfLiterals(
      key.map(org.apache.spark.sql.catalyst.expressions.Literal(_)), nBuckets)

  /** Run `body` and count the Spark jobs it starts, by a job tag unique
    * to this call so that jobs from other threads are not counted.
    */
  def jobsOf[T](body: => T): (T, Int) = {
    val tag = "jobcount-" + java.util.UUID.randomUUID()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (Option(s.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val out = body
      Thread.sleep(500) // listener events are async; let the bus drain
      (out, jobs.get())
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }
}
