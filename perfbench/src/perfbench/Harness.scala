package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** An end-to-end number as the benchmark prints it: `name` is the
  * workload-specific name, `key` the generic `BENCHMARK.json` slot it
  * fills (if any), `n` its sample count (0 for non-latency values).
  */
final case class Metric(name: String, value: Double, unit: String, n: Int,
    key: Option[String] = None)

object Stats {
  /** Linear-interpolated quantile (`q` in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** What every workload shares: the session, its run directory, the seed,
  * the tracer, and the failure accounting. Every client call into the
  * engine goes through [[op]]; every output check through [[check]] or
  * [[verify]]. Failures are counted and printed, never retried.
  */
final class Ctx(val spark: SparkSession, val root: Path, val workload: String,
    val seed: Long) {
  val tracer = new Tracer(spark, workload)
  private val attemptedN = new AtomicLong(0L)
  private val failedN = new AtomicLong(0L)
  private val reported = new AtomicLong(0L)

  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get

  def say(line: String): Unit = synchronized(println(line))

  private def fail(what: String): Unit = {
    failedN.incrementAndGet()
    // print the first failures in full, then only count them
    if (reported.incrementAndGet() <= 20) say(s"FAILED $what")
  }

  /** Call into the engine as one attempted operation, timed as a span. */
  def op[A](name: String)(f: => A)(counts: A => Map[String, Double] = (_: A) => Map.empty[String, Double]): Option[A] = {
    attemptedN.incrementAndGet()
    try Some(tracer.span(name)(f)(counts))
    catch {
      case e: Exception =>
        fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** An inline check of an operation's output; a failure counts against
    * the operation already attempted.
    */
  def verify(name: String, ok: Boolean, detail: => String): Unit =
    if (!ok) fail(s"check $name: $detail")

  /** A stand-alone output check, attempted on its own. */
  def check(name: String)(cond: => Boolean, detail: => String = ""): Unit = {
    attemptedN.incrementAndGet()
    val ok = try cond catch {
      case e: Exception =>
        fail(s"check $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
        return
    }
    if (!ok) fail(s"check $name: $detail")
  }

  def dir(name: String): String = root.resolve(name).toString

  /** Spans of one phase with the given name. */
  def spans(phase: String, name: String): Seq[Span] =
    tracer.spans.asScala.toSeq.filter(s => s.phase == phase && s.name == name)

  def walls(phase: String, name: String): Seq[Double] =
    spans(phase, name).filter(_.ok).map(_.wallS)
}

object Harness {
  /** Run `clients` on their own threads until `seconds` have passed; each
    * client loops while `System.nanoTime < deadline` (closed loop: its
    * next call starts when the previous one returned). Returns the
    * elapsed seconds, which include the last calls' overrun.
    */
  def runClients(ctx: Ctx, clients: Seq[Long => Unit], seconds: Double): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = clients.zipWithIndex.map { case (c, i) =>
      val t = new Thread(() =>
        try c(deadline)
        catch { case e: Throwable => ctx.check(s"client-$i")(false, e.toString) },
        s"${ctx.workload}-client-$i")
      t.start()
      t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Bytes of every regular file under `dir`. */
  def du(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  /** Header line, data rows and per-first-field counts of an export CSV. */
  final case class Csv(header: String, rows: Long, firstField: Map[String, Long])

  def scanCsv(path: String): Csv = {
    val r = Files.newBufferedReader(java.nio.file.Paths.get(path))
    try {
      val header = r.readLine()
      var rows = 0L
      val first = scala.collection.mutable.Map.empty[String, Long]
      var line = r.readLine()
      while (line != null) {
        rows += 1
        val f = line.substring(0, math.max(0, line.indexOf(',')))
        first(f) = first.getOrElse(f, 0L) + 1
        line = r.readLine()
      }
      Csv(header, rows, first.toMap)
    } finally r.close()
  }
}
