package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.GraftQuery

/** Bench's stdout: the per-query line with short-prefix keys (q01, d45, …),
  * then a compact summary line. Its consumer captures only the last ~2,000
  * chars of stdout; at 236 queries the per-query line alone is longer than
  * that, so the summary line is the one the tail holds whole. The short
  * form only holds while prefixes stay unique: a collision (two q3_* names)
  * would silently flip the map back to full names and lengthen the line.
  * Pin uniqueness here so a colliding registration fails at build time,
  * not in the artifact. */
class BenchKeySpec extends AnyFunSuite {

  test("query-name short prefixes are unique (Bench stdout key contract)") {
    val names = GraftQuery.all.map(_.name)
    val dupes = names.groupBy(_.split("_").head).filter(_._2.size > 1)
    assert(dupes.isEmpty,
      s"short-prefix collisions would flip Bench stdout to full-name keys: " +
        dupes.map { case (p, ns) => s"$p -> ${ns.mkString(",")}" }.mkString("; "))
  }

  test("Bench's last stdout line is valid JSON under 2,000 chars for the " +
      "full registry, and is what the captured tail ends with") {
    val names = GraftQuery.all.map(_.name)
    // long timings and a failure with a long message for every third query
    val results: Seq[Bench.Result] = names.zipWithIndex.map { case (n, i) =>
      if (i % 3 == 0) (n, 0.0, Some("java.lang.IllegalStateException: " + "x" * 300))
      else (n, 12345.678 + i, None)
    }
    val sf = "data/sf0.1"
    val perQuery = Bench.line(results, 2, sf, Bench.shortKeys(names).get, "short")
    val summary = Bench.summaryLine(results, 2, 2 * results.count(_._3.nonEmpty), sf)
    val tail = (perQuery + "\n" + summary + "\n").takeRight(2000)
    assert(tail.linesIterator.toSeq.last == summary)
    assert(summary.length < 2000, s"${summary.length} chars")
    val json = new ObjectMapper()
      .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    val s = json.readTree(summary)
    assert(s.get("failures").asInt == results.count(_._3.nonEmpty))
    assert(s.get("errors").asInt == 2 * results.count(_._3.nonEmpty))
    assert(s.get("queries").asInt == names.size && s.get("runs").asInt == 2)
    assert(s.get("sf").asText == sf && s.get("value").isNumber)
    val q = json.readTree(perQuery)
    assert(q.get("queries").size == names.size)
    assert(q.get("value").decimalValue == s.get("value").decimalValue)
  }
}
