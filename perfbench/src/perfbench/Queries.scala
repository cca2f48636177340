package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A query workload: one timed pass over a fixed list of registered
  * queries, each built through SparkEntry.queries and materialised through
  * the noop sink; then an untimed pass that fingerprints every result and
  * compares it with the fingerprint stored with the benchmark. The seed
  * fixes only the order of the queries. The list, its scale and the stored
  * fingerprints live in fingerprints.json.
  *
  * The workload's operation is the timed pass: its end-to-end figure is the
  * sum of the queries' times. Whichever query runs first pays most of the
  * JIT warm-up, so a per-query median moves with the seed's order, and
  * repeated warm executions of one query landed 2.3-3.8 s apart between
  * JVMs; the sum over one cold pass depends on neither.
  *
  * queries_heavy runs four of the slowest registered queries at sf0.1 (d39,
  * e19, d86, d17), where execution dominates — native expressions,
  * shuffles, aggregations and joins.
  */
final class QueryWorkload(name: String, seed: Long, benchDir: Path,
    faultFingerprint: Boolean) extends Workload {
  private val stored = Fingerprints.load(benchDir.resolve("fingerprints.json"))
  private val (sf, names) = stored.workload(name)
  private val dataDir = benchDir.resolve("data").resolve(sf).toString
  private val order = new Random(seed).shuffle(names)
  private val expected: Map[String, Checks.Fingerprint] = {
    val fp = stored.fingerprints(sf)
    if (!faultFingerprint) fp
    else {
      val victim = order.head
      fp.updated(victim, fp(victim).copy(md5 = fp(victim).md5.reverse))
    }
  }

  override def prepare(): Unit = ()

  /** Warm-up: one noop-sink scan of every table of the data set and one
    * tiny join-aggregate (parquet reader, exchange and codegen paths). */
  override def setUp(spark: SparkSession, k: Int): Unit = {
    Files.list(benchDir.resolve("data").resolve(sf)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
      .foreach(p => spark.read.parquet(p.toString).write.format("noop").mode("overwrite").save())
    spark.range(0, 1000, 1, 4).selectExpr("id % 7 as k", "id as v")
      .join(spark.range(0, 7).selectExpr("id as k", "id * 2 as w"), "k")
      .groupBy("k").sum("v", "w").write.format("noop").mode("overwrite").save()
  }

  override def beforeTiming(spark: SparkSession): Unit = ()

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  override def measure(spark: SparkSession, trace: Option[Trace]): Measured = {
    val queries = SparkEntry.queries
    val codegen0 = PerfbenchBridge.codegenCompiles
    val t0 = Clock.nowMs
    val timed = order.map { q =>
      // The previous query's garbage is collected outside its successor's
      // timing.
      System.gc()
      val start = Clock.nowMs
      var built = start
      val err =
        try {
          val df = queries(q)(spark, dataDir)
          built = Clock.nowMs
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => Some(describe(e)) }
      Timed(q, start, built, Clock.nowMs, err)
    }
    val t1 = Clock.nowMs
    val codegen = PerfbenchBridge.codegenCompiles - codegen0
    trace.foreach(_.drain())

    val checked = order.map { q =>
      q -> (try Checks.fingerprintVerdict(expected.get(q), Checks.fingerprint(queries(q)(spark, dataDir)))
      catch { case e: Throwable => Some(describe(e)) })
    }.toMap
    val failures = timed.flatMap(t => (t.error ++ checked(t.name)).toSeq match {
      case Nil => None
      case why => Some(s"${t.name}: ${why.mkString("; ")}")
    })

    val p50 = Stats.median(timed.map(_.ms))
    val passMs = timed.map(_.ms).sum
    val (perLayer, spans) = trace match {
      case Some(tr) => layers(tr, timed, t0, t1, codegen)
      case None => (Map.empty[String, Double], Nil)
    }
    Measured(
      attempted = order.size,
      failures = failures,
      failedOps = failures.size,
      endToEnd = Seq(Metric("op_ms_p50", passMs, "ms")),
      report = Seq(
        Metric("query_ms_p50", p50, "ms"),
        Metric("queries_total_s", passMs / 1000, "s")),
      perLayer = perLayer,
      spans = spans,
      detail = Seq(
        "scale" -> sf,
        "order" -> order,
        "queries" -> timed.map(t => Json.obj(
          "name" -> t.name, "build_ms" -> (t.builtMs - t.startMs), "materialise_ms" -> (t.endMs - t.builtMs),
          "total_ms" -> t.ms, "error" -> t.error, "check" -> checked(t.name).getOrElse("ok")))))
  }

  /** Per-layer metrics and the span tree query → {build, plan, exec}: build
    * is the SparkEntry.queries call (eager jobs included), plan the
    * planning phases of the noop write, exec the rest of the write. */
  private def layers(tr: Trace, qs: Seq[Timed], t0: Double, t1: Double,
      codegen: Long): (Map[String, Double], Seq[Span]) = {
    val out = Seq.newBuilder[Span]
    var next = 0
    def add(parent: Int, name: String, a: Double, b: Double): Int = {
      val id = next; next += 1
      out += Span(id, parent, name, a, b); id
    }
    qs.foreach { q =>
      val (a, b, c) = (q.startMs, q.builtMs, q.endMs)
      val qid = add(-1, "query", a, c)
      add(qid, "build", a, b)
      val write = tr.qes.asScala.filter(q => q.startMs >= math.floor(b) && q.startMs <= c)
        .toSeq.sortBy(_.startMs).headOption
      val planEnd = write.map(q => math.min(c, math.max(b, q.endMs))).getOrElse(b)
      if (write.nonEmpty) add(qid, "plan", math.max(b, write.get.startMs), planEnd)
      add(qid, "exec", planEnd, c)
    }
    val m = Layers.common(tr.window(t0, t1), t0, t1, codegen) ++ Map(
      "queries.build_ms" -> qs.map(q => q.builtMs - q.startMs).sum)
    (m, out.result())
  }
}

/** One query of the timed pass: when it started, when SparkEntry.queries
  * returned its DataFrame, when the noop write ended, and its error if any. */
final case class Timed(name: String, startMs: Double, builtMs: Double, endMs: Double,
    error: Option[String]) {
  def ms: Double = endMs - startMs
}

/** fingerprints.json: per workload its scale and query list, per scale the
  * stored result fingerprint of each query. */
final case class Fingerprints(workloads: Map[String, (String, Seq[String])],
    fingerprints: Map[String, Map[String, Checks.Fingerprint]]) {
  def workload(name: String): (String, Seq[String]) = workloads(name)
}

object Fingerprints {
  def load(path: Path): Fingerprints = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    val w = root.get("workloads").properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("scale").asText(),
        e.getValue.get("queries").elements().asScala.map(_.asText()).toSeq)
    }.toMap
    val f = Option(root.get("fingerprints")).toSeq.flatMap(_.properties().asScala).map { e =>
      e.getKey -> e.getValue.properties().asScala.map { q =>
        q.getKey -> Checks.Fingerprint(q.getValue.get("rows").asLong(), q.getValue.get("md5").asText())
      }.toMap
    }.toMap
    Fingerprints(w, f)
  }
}
