package graft

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * prints two JSON lines for its consumer (BENCH_r{N}.json): the per-query
  * timings, then a compact summary.
  *
  * Timing uses a full materialization through the noop sink — a `.count()`
  * would let Catalyst prune every column and bench a near-empty scan
  * instead of the real query (round-3 verdict, What's wrong #2).
  *
  * An untimed warmup runs first: a cold JVM charges the first few queries
  * seconds of one-time cost (JIT, codegen compiler, parquet reader init —
  * measured ~4.7 s for a trivial first scan) that has nothing to do with
  * the query being timed. The warmup is LIGHT — one noop-sink scan per
  * table (parquet reader + page cache + scan/sink JIT) plus one tiny
  * join-agg (exchange/agg/codegen infra) — because a full untimed pass
  * spent ~half the bench wall-clock re-running every query (round-5
  * verdict, next-round #7). Per-query timings therefore include each
  * query's own codegen compile (~0.1 s) — steady-state minus that is what
  * a long-lived cluster session sees. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate("graft-bench")
    // A handful of queries use windows that are UNPARTITIONED by
    // construction (bounded domains — d24/d62's top-1000 vocab cut,
    // q28's calendar-day aggregate, e24's ≤2^16-bucket rank);
    // WindowExec warns per occurrence
    // and the repeated lines crowd the driver's limited captured stderr
    // tail. Targeted silence for the bench session only — everything
    // else keeps its level.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // Dev loop: SPARK_GRAFT_BENCH_ONLY=q01,d12 times just those queries.
    val only = MainEnv.only("SPARK_GRAFT_BENCH_ONLY")
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Warmup: tables + one exchange/agg/join warm. Per-step try: one
    // missing table must not abort the remaining warm steps (a cold first
    // timed query would silently absorb the ~4.7 s one-time cost the
    // warmup exists to exclude).
    graft.sources.Tables.names.foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    try graft.sources.Tables.nation(spark, sfDir)
      .join(graft.sources.Tables.region(spark, sfDir),
        org.apache.spark.sql.functions.col("n_regionkey") ===
          org.apache.spark.sql.functions.col("r_regionkey"))
      .groupBy("r_name").count()
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // One 64-row pass of the native text-cleaning expression: the
    // first text query otherwise absorbs ~1.7 s of one-time codegen /
    // regex-compile cost that has nothing to do with its own plan
    // (measured: d01 2.4 s as first timed query vs 0.7 s warm).
    try graft.sources.Tables.documents(spark, sfDir).limit(64)
      .select(graft.functions.TextFunctions.cleanText(
        org.apache.spark.sql.functions.col("text")).as("c"))
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // Per-query wall-clock budget (SPARK_GRAFT_BENCH_TIMEOUT seconds,
    // default 300): a hung query reports one null-with-reason entry
    // instead of eating the round's whole bench window (QueryBudget
    // cancels its job group on expiry).
    val timeoutSec = MainEnv.positiveInt("SPARK_GRAFT_BENCH_TIMEOUT", 300)
    // Variance control: the whole timed pass runs SPARK_GRAFT_BENCH_RUNS
    // times (default 2) and each query reports its MINIMUM across passes.
    // A single pass conflates the query's cost with where it happens to
    // sit in the suite — GC debt, JIT recompiles, and page-cache state of
    // the 100+ queries around it add a ±0.5-1 s term that reads as a
    // regression (round-16: q32 1.56 → 2.48 s with zero code diffs). The
    // min across passes is the right point estimate for "what does this
    // plan cost": suite-position noise is strictly additive, so the min
    // converges on the true cost while mean/median still carry it.
    val runs = MainEnv.positiveInt("SPARK_GRAFT_BENCH_RUNS", 2)
    def timedPass(): Seq[(String, Double, Option[String])] =
      selected.map { case (name, fn) =>
        // Collect the previous query's garbage OUTSIDE the timed window —
        // otherwise a heap full of e.g. cross-join pairs from query N lands
        // as a multi-second GC pause inside query N+1's timing (measured:
        // q13 7.6 s mid-suite vs 1.8 s isolated).
        System.gc()
        val t0 = System.nanoTime()
        val err = QueryBudget.run(spark, name, timeoutSec) {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        err.foreach(m => System.err.println(s"[bench] $name failed: $m"))
        (name, (System.nanoTime() - t0) / 1e9, err)
      }
    val passes = (1 to runs).map(_ => timedPass())
    // Per query: min over the passes where it SUCCEEDED; a failure counts
    // only if every pass failed (the last error message survives) — a
    // query can't dodge a real failure via one lucky pass because
    // noop-sink success is deterministic for a deterministic plan, but a
    // transient env hiccup in one pass shouldn't null a real timing.
    val results = selected.map { case (name, _) =>
      val mine = passes.map(_.find(_._1 == name).get)
      val ok = mine.filter(_._3.isEmpty)
      if (ok.nonEmpty) (name, ok.map(_._2).min, None: Option[String])
      else (name, 0.0, mine.last._3)
    }
    val erroredRuns = passes.map(_.count(_._3.nonEmpty)).sum
    // STDOUT: the per-query line with short keys, then the summary line.
    // A consumer that keeps only the last ~2,000 chars of stdout still gets
    // the summary line whole; at 236 queries the per-query line alone is
    // longer than that. The full-name form goes to bench_full.json (cwd, or
    // SPARK_GRAFT_BENCH_OUT), the diagnosable-from-artifacts copy.
    val shortKey = shortKeys(results.map(_._1))
    println(line(results, runs, sfDir, shortKey.getOrElse(identity[String] _),
      if (shortKey.isDefined) "short" else "full"))
    println(summaryLine(results, runs, erroredRuns, sfDir))
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outFile), line(results, runs, sfDir, identity, "full") + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
  }

  /** One query's outcome: (name, min seconds over its successful passes,
    * error when every pass failed). */
  type Result = (String, Double, Option[String])

  private def ms(v: Double): String = BigDecimal(v)
    .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  private def total(results: Seq[Result]): Double =
    results.collect { case (_, v, None) => v }.sum

  /** The short-prefix key form (q01, d45, …) when prefixes are unique
    * (BenchKeySpec pins that at build time); None on a collision, where
    * full names beat a silently-merged map. */
  def shortKeys(names: Seq[String]): Option[String => String] =
    if (names.map(_.split("_").head).distinct.size == names.size)
      Some(_.split("_").head)
    else None

  /** The full result line. Failed queries report null (not their
    * time-to-failure) so a consumer can't mistake a crash for a fast run;
    * they're excluded from the total. Failure reasons ride along, truncated
    * (exception class + message head is the diagnostic). "keys" declares
    * which key form the map uses, so a prefix collision (which flips the
    * map back to full names) is visible to the consumer instead of a
    * surprise format change. */
  def line(results: Seq[Result], runs: Int, sfDir: String,
      key: String => String, keyForm: String): String = {
    val qs = results.map { case (k, v, err) =>
      "\"" + key(k) + "\":" + (if (err.isEmpty) ms(v) else "null")
    }.mkString("{", ",", "}")
    val errs = results.collect {
      case (k, _, Some(e)) => "\"" + key(k) + "\":" + MainEnv.jsonString(e.take(200))
    }.mkString("{", ",", "}")
    s"""{"metric":"total","keys":"$keyForm","runs":$runs,"agg":"min","queries":$qs,"unit":"sec","errors":$errs,"failures":${results.count(_._3.nonEmpty)},"value":${ms(total(results))},"sf":${MainEnv.jsonString(sfDir)}}"""
  }

  /** The last stdout line: the total, the failed queries, the failed query
    * runs over all passes (`errors`, which a query that failed in only some
    * passes also adds to), the passes and the corpus — a size independent
    * of the registry, so it always fits a ~2,000-char stdout
    * tail, which the per-query line above it outgrew at 236 queries. */
  def summaryLine(results: Seq[Result], runs: Int, erroredRuns: Int, sfDir: String): String =
    s"""{"metric":"total","unit":"sec","value":${ms(total(results))},"failures":${results.count(_._3.nonEmpty)},"errors":$erroredRuns,"queries":${results.size},"runs":$runs,"sf":${MainEnv.jsonString(sfDir)}}"""
}
