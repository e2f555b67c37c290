package perfbench

import java.nio.file.Paths

import graft.GraftSession

/** Benchmark entry point (see `perfbench/README.md`):
  *
  * {{{
  *   perfbench.Main --workload ingest|serve|export --seed N --seconds S
  *     --trace 0|1 --dir RUN_DIR
  * }}}
  *
  * Prints human-readable lines, then, as its last line, one JSON object
  * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end slots
  * with `--trace 0`, the per-layer metrics with `--trace 1`.
  */
object Main {
  val Cores = 4
  /** Table builds per run; `setup_s` counts their median. */
  val SetupRepeats = 3
  /** End-to-end slots every workload fills, in `BENCHMARK.json` order. */
  val Slots: Seq[String] = Seq("setup_s", "op1_p50_ms", "op2_p50_ms",
    "op3_p50_ms", "throughput_per_s", "space_amp")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val root = Paths.get(opts("dir")).toAbsolutePath
    require(Set("ingest", "serve", "export")(workload), s"unknown workload $workload")

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.builder(Cores.toString)
      .appName(s"perfbench-$workload")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val ctx = new Ctx(spark, root, workload, seed)
    val w: Workload = workload match {
      case "ingest" => new Ingest(ctx)
      case "serve" => new Serve(ctx)
      case "export" => new Export(ctx)
    }
    ctx.say(s"perfbench workload=$workload seed=$seed seconds=$seconds trace=${if (trace) 1 else 0}")

    // build the tables several times from scratch and keep the last
    // build; warm up once on it
    val builds = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      w.build(ctx.dir(s"setup-$i"))
      val s = (System.nanoTime() - t0) / 1e9
      if (i > 1) Harness.deleteTree(ctx.dir(s"setup-${i - 1}"))
      s
    }
    val t0 = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = sessionS + Stats.median(builds) + warmS
    ctx.say(f"setup: session $sessionS%.3f s, builds ${builds.map(s => f"$s%.3f").mkString(" ")} s, warm-up $warmS%.3f s")

    // the untraced phase gives the end-to-end numbers; with --trace 1 a
    // traced phase of the same length follows and gives the per-layer
    // numbers, and the difference between the two is the tracing overhead
    val phases = if (trace) Seq("untraced" -> false, "traced" -> true) else Seq("untraced" -> false)
    val phaseSeconds = seconds / phases.size
    val results = phases.map { case (phase, traced) =>
      ctx.tracer.beginPhase(phase, traced)
      val took = Harness.runClients(ctx, w.clients, phaseSeconds)
      val rec = if (traced) ctx.tracer.endTrace() else None
      (phase, took, rec, w.endToEnd(phase))
    }
    ctx.tracer.beginPhase("finish", trace = false)
    val f0 = System.nanoTime()
    val space = w.spaceAmpMetric
    w.finish()
    ctx.say(f"phases ${results.map(r => f"${r._1} ${r._2}%.1f s").mkString(", ")}; checks ${(System.nanoTime() - f0) / 1e9}%.1f s")

    val (_, _, _, e2e) = results.head
    val shown = Metric("setup_s", setupS, "s", SetupRepeats, Some("setup_s")) +: e2e :+ space
    val errorRate = if (ctx.attempted == 0) 0.0 else ctx.failed.toDouble / ctx.attempted
    ctx.say(s"end-to-end ($workload, untraced phase):")
    (shown :+ Metric("error_rate", errorRate, "ratio", ctx.attempted.toInt)).foreach(show(ctx, _))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val bySlot = slotValues(shown)
        Slots.map(k => (k, bySlot.getOrElse(k, Double.NaN), unitOf(k)))
      } else {
        val (phase, took, rec, tracedE2e) = results(1)
        ctx.say(s"end-to-end ($workload, traced phase):")
        tracedE2e.foreach(show(ctx, _))
        val overhead = slotValues(tracedE2e).flatMap { case (k, v) =>
          slotValues(e2e).get(k).map(u => k -> (v - u))
        }.filter(kv => !kv._2.isNaN)
        ctx.say("tracing overhead (traced - untraced): " +
          overhead.toSeq.sortBy(_._1).map { case (k, v) => f"$k $v%+.3f" }.mkString(", "))
        Layers.report(ctx, phase, rec.get)
        ctx.tracer.writeSpans(root.getParent.resolve("traces").resolve(s"spans-$workload-$seed.jsonl"))
        val layer = Layers.metrics(ctx, phase, rec.get, took, Cores, overhead)
        Layers.All.map { case (k, u, _) => (k, layer(k), u) }
      }

    val missing = metrics.filter(m => m._2.isNaN || m._2.isInfinite).map(_._1)
    if (missing.nonEmpty) {
      ctx.say(s"no value for ${missing.mkString(", ")}: the run was too short to measure them")
      spark.stop()
      sys.exit(2)
    }
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    spark.stop()
    println(s"""{"correct": ${ctx.failed == 0}, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": {$body}}""")
  }

  private def unitOf(slot: String): String = slot match {
    case "setup_s" => "s"
    case "throughput_per_s" => "1/s"
    case "space_amp" => "ratio"
    case _ => "ms"
  }

  /** End-to-end values by slot, latencies in the slot's ms. */
  private def slotValues(ms: Seq[Metric]): Map[String, Double] =
    ms.flatMap(m => m.key.map(k =>
      k -> (if (k.endsWith("_ms") && m.unit == "s") m.value * 1e3 else m.value))).toMap

  /** Prints a metric with its unit and sample count; an unslotted one
    * without a value (a percentile with too few samples beyond it) is not
    * named at all.
    */
  private def show(ctx: Ctx, m: Metric): Unit =
    if (!(m.value.isNaN && m.key.isEmpty)) {
      val n = if (m.n > 0) s" (n=${m.n})" else ""
      val v = if (m.value.isNaN) "n/a" else f"${m.value}%.6g"
      ctx.say(f"  ${m.name}%-26s $v ${m.unit}$n")
    }
}
