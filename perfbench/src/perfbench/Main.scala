package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1
  * --bench-dir DIR --work DIR --artifact FILE [--fault rowcount|fingerprint]`.
  *
  * Order of a run: host calibration; load generation (untimed); three
  * set-ups, each a fresh session plus the workload's warm-up and sink
  * creation (setup_s is their median; the first also counts JVM start-up);
  * untimed preparation; the timed phase; the correctness check; host
  * calibration again. Prints one line per metric and, last, the summary
  * JSON line; per-batch and per-query detail and the spans go to the
  * artifact file. */
object Main {
  private val setups = 3

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val benchDir = Paths.get(a("bench-dir"))
    val work = Paths.get(a("work"))
    val fault = a.get("fault")
    Files.createDirectories(work)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val preMainMs = Clock.nowMs - jvmStartMs
    val calibStart = Calib.measure()

    val w: Workload = workload match {
      case "etl_bulk" | "etl_trickle" =>
        new EtlWorkload(workload, seed, seconds, work, fault.contains("rowcount"))
      case "queries_heavy" =>
        new QueryWorkload(workload, seed, benchDir, fault.contains("fingerprint"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tPrepare = Clock.nowMs
    w.prepare()
    val tSetups = Clock.nowMs

    var spark: SparkSession = null
    val setupMs = (1 to setups).map { k =>
      if (spark != null) spark.stop()
      val t0 = Clock.nowMs
      spark = GraftSession.getOrCreate("perfbench")
      val t1 = Clock.nowMs
      w.setUp(spark, k)
      val t2 = Clock.nowMs
      val pre = if (k == 1) preMainMs else 0.0
      (t2 - t0 + pre, t1 - t0)
    }
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)
    val trace = if (traced) Some(new Trace(spark)) else None
    trace.foreach(_.register())
    val tBefore = Clock.nowMs
    w.beforeTiming(spark)
    val tMeasure = Clock.nowMs
    val m = w.measure(spark, trace)
    val tStop = Clock.nowMs
    spark.stop()
    val calibEnd = Calib.measure()
    val phaseMs = Json.obj("jvm_start_to_main" -> preMainMs, "calibrate" -> (tPrepare - jvmStartMs - preMainMs),
      "generate" -> (tSetups - tPrepare), "set_ups" -> (tBefore - tSetups),
      "prepare_untimed" -> (tMeasure - tBefore), "measure_and_check" -> (tStop - tMeasure),
      "stop_and_calibrate" -> (Clock.nowMs - tStop))

    val setupS = Stats.median(setupMs.map(_._1)) / 1000
    val calibMs = Stats.median(calibStart ++ calibEnd)
    val endToEnd = Metric("setup_s", setupS, "s") +: m.endToEnd
    val perLayer = Layers.units.map { case (n, u) =>
      val v = n match {
        case "session.create_ms" => Stats.median(setupMs.map(_._2))
        case "host.calib_ms" => calibMs
        case _ => m.perLayer.getOrElse(n, 0.0)
      }
      Metric(n, v, u)
    }
    val correct = m.failures.isEmpty
    val failedOps = if (correct) 0 else math.max(1, m.failedOps)

    val artifact = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "correct" -> correct, "attempted" -> m.attempted, "failed" -> failedOps,
      "failures" -> m.failures,
      "end_to_end" -> metricsJson(endToEnd),
      "report" -> metricsJson(m.report :+ Metric("failed_share", failedOps.toDouble / m.attempted, "ratio")),
      "per_layer" -> (if (traced) metricsJson(perLayer) else Json.obj()),
      "phase_ms" -> phaseMs,
      "setup_ms" -> setupMs.map(_._1), "session_create_ms" -> setupMs.map(_._2),
      "host_calib" -> Json.obj("start_ms" -> calibStart, "end_ms" -> calibEnd,
        "end_over_start" -> Stats.median(calibEnd) / Stats.median(calibStart)),
      "span_summary" -> Json.Obj(Trace.spanSummary(m.spans)),
      "spans" -> m.spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "detail" -> Json.Obj(m.detail))
    Files.write(Paths.get(a("artifact")), Json.render(artifact).getBytes(StandardCharsets.UTF_8))

    (endToEnd ++ m.report).distinctBy(_.name).foreach(x => println(f"${x.name}%-22s ${x.value}%.4f ${x.unit}"))
    if (traced) perLayer.foreach(x => println(f"${x.name}%-34s ${x.value}%.4f ${x.unit}"))
    println(f"host.calib_ms          $calibMs%.4f ms (end/start ${Stats.median(calibEnd) / Stats.median(calibStart)}%.3f)")
    println(s"correctness check: ${if (correct) "passed" else "FAILED"} " +
      s"(${m.attempted} attempted, $failedOps failed)")
    m.failures.take(5).foreach(f => println(s"  failure: ${f.take(300)}"))
    val summary = Json.obj(
      "correct" -> correct, "attempted" -> m.attempted, "failed" -> failedOps,
      "metrics" -> metricsJson(if (traced) perLayer else endToEnd))
    println(Json.render(summary))
    System.out.flush()
  }

  private def metricsJson(ms: Seq[Metric]): Json.Obj =
    Json.Obj(ms.map(x => x.name -> Json.obj("value" -> x.value, "unit" -> x.unit)))
}

/** The host-calibration kernel: fixed pure-JVM work (fill, sort and hash a
  * pseudo-random array), timed three times after one warm-up. A drift
  * check between the start and the end of a run, not a result. */
object Calib {
  private val n = 1 << 19

  private def kernel(): Long = {
    val xs = new Array[Long](n)
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < n) { x = x * 6364136223846793005L + 1442695040888963407L; xs(i) = x; i += 1 }
    java.util.Arrays.sort(xs)
    var h = 0L
    i = 0
    while (i < n) { h = h * 31 + xs(i); i += 1 }
    h
  }

  def measure(): Seq[Double] = {
    kernel()
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      if (kernel() == 42L) println("")
      (System.nanoTime() - t0) / 1e6
    }
  }
}
