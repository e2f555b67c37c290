package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call into a layer (or a client step enclosing such calls).
  * Times: `startNs`/`endNs` for durations, `startMs`/`endMs` on the clock
  * Spark stamps its events with.
  */
final case class Span(id: Long, parent: Long, name: String, workload: String,
    phase: String, startNs: Long, endNs: Long, startMs: Long, endMs: Long,
    ok: Boolean, counts: Map[String, Double]) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Records a span around every benchmark call into the engine. Spans are
  * always recorded (they carry the end-to-end latencies). While `traced`,
  * each span also tags the Spark jobs and SQL executions its thread
  * starts with a job tag `pb-<span id>` (a thread-local SparkContext
  * property), and [[Recorder]] observes Spark, so every job, task and
  * planning phase is attributed to exactly one span even with several
  * client threads. Only the innermost open span's tag is set.
  */
final class Tracer(spark: SparkSession, workload: String) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0L)
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile private var phaseName = "setup"
  @volatile private var recorder: Option[Recorder] = None

  def traced: Boolean = recorder.isDefined

  /** Start a measurement phase; `trace` attaches the listeners. */
  def beginPhase(name: String, trace: Boolean): Unit = {
    phaseName = name
    if (trace && recorder.isEmpty) {
      val r = new Recorder
      sc.addSparkListener(r)
      recorder = Some(r)
    }
  }

  /** End the traced phase: wait until Spark has delivered every event of
    * the phase's jobs, then detach the listeners. Returns what they saw.
    */
  def endTrace(): Option[Recorder] = recorder.map { r =>
    r.drain()
    sc.removeSparkListener(r)
    recorder = None
    r
  }

  private def tag(id: Long) = s"pb-$id"

  /** Time `f` as a span named `name`. Exceptions propagate after the
    * span is recorded as failed.
    */
  def span[A](name: String)(f: => A)(counts: A => Map[String, Double] = (_: A) => Map.empty[String, Double]): A = {
    val id = ids.incrementAndGet()
    val stack = open.get()
    val tagging = traced
    if (tagging) {
      stack.headOption.foreach(p => sc.removeJobTag(tag(p)))
      sc.addJobTag(tag(id))
    }
    open.set(id :: stack)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def close(): (Long, Long) = {
      val t1 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      open.set(stack)
      if (tagging) {
        sc.removeJobTag(tag(id))
        stack.headOption.foreach(p => sc.addJobTag(tag(p)))
      }
      (t1, endMs)
    }
    def record(t1: Long, endMs: Long, ok: Boolean, cs: Map[String, Double]): Unit =
      spans.add(Span(id, stack.headOption.getOrElse(0L), name, workload,
        phaseName, t0, t1, startMs, endMs, ok, cs))
    val r = try f catch {
      case e: Throwable =>
        val (t1, endMs) = close()
        record(t1, endMs, ok = false, Map.empty)
        throw e
    }
    // counts are derived after the clock stops: their cost is the
    // benchmark's, not the layer's
    val (t1, endMs) = close()
    record(t1, endMs, ok = true, counts(r))
    r
  }

  /** Write every span as one JSON object per line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      val counts = s.counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""workload":"${s.workload}","phase":"${s.phase}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS},""" +
        s""""ok":${s.ok},"counts":{$counts}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  def spanOf(tags: Iterable[String]): Option[Long] =
    tags.collectFirst { case t if t.startsWith("pb-") => t.drop(3).toLong }
}

/** Raw Spark events of one traced phase, attributed afterwards. */
final class Recorder extends SparkListener {
  final class Job(val id: Int, val span: Option[Long], val startMs: Long) {
    @volatile var endMs: Long = -1L
    @volatile var firstTaskMs: Long = Long.MaxValue
    var taskMs, cpuNs, bytesRead, bytesWritten, bytesShuffled = 0L
  }

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  /** Planning milliseconds (`QueryPlanningTracker` phases) per SQL
    * execution id.
    */
  private val execPlanMs = new ConcurrentHashMap[Long, Long]()
  @volatile private var lastEventMs = System.currentTimeMillis()
  private val gcAtStart = Recorder.gcMs()
  @volatile var gcMs = 0L

  private def seen(): Unit = lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    val j = new Job(e.jobId, Tracer.spanOf(tags), e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
    seen()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    seen()
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized { j.firstTaskMs = math.min(j.firstTaskMs, e.taskInfo.launchTime) }
    }
    seen()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics))
      j.synchronized {
        j.taskMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.bytesRead += m.inputMetrics.bytesRead
        j.bytesWritten += m.outputMetrics.bytesWritten
        j.bytesShuffled += m.shuffleWriteMetrics.bytesWritten
      }
    seen()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      Tracer.spanOf(s.jobTags).foreach(id => execSpan.put(s.executionId, id))
      seen()
    case end: SparkListenerSQLExecutionEnd =>
      Recorder.queryExecution(end).foreach(qe =>
        execPlanMs.put(end.executionId, qe.tracker.phases.values.map(_.durationMs).sum))
      seen()
    case _ =>
  }

  /** Block until every started job has ended and the bus has been quiet
    * for a moment (bounded), so no late event of the phase is lost.
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 20000L
    while (System.currentTimeMillis() < deadline &&
      (jobs.values.asScala.exists(_.endMs < 0) ||
        System.currentTimeMillis() - lastEventMs < 500L)) Thread.sleep(50L)
    gcMs = Recorder.gcMs() - gcAtStart
  }

  def planMsBySpan: Map[Long, Long] =
    execSpan.asScala.toSeq.groupBy(_._2).map { case (span, xs) =>
      span -> xs.map(x => execPlanMs.getOrDefault(x._1, 0L).longValue).sum
    }

  def jobsBySpan: Map[Long, Seq[Job]] =
    jobs.values.asScala.toSeq.filter(_.span.isDefined).groupBy(_.span.get)

  def unattributedJobs: Int = jobs.values.asScala.count(_.span.isEmpty)
  def totalCpuNs: Long = jobs.values.asScala.map(_.cpuNs).sum
}

object Recorder {
  /** The `QueryExecution` an execution-end event carries. Spark exposes it
    * only to its own packages; it is the one link between an execution id
    * (which the start event ties to a span) and the execution's
    * `QueryPlanningTracker` (analysis, optimization and planning phases).
    * A `QueryExecutionListener` sees the same tracker but not the id.
    */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    scala.util.Try(e.getClass.getMethod("qe").invoke(e)).toOption.collect {
      case qe: QueryExecution => qe
    }

  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}
