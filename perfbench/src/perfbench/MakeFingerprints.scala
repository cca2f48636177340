package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Computes the stored result fingerprints (run by make_fingerprints.py):
  * `--bench-dir DIR --out DIR`. For every query of every query workload
  * listed in DIR/fingerprints.json it writes the result as parquet to
  * OUT/<scale>/<query>/ for the DuckDB comparison, and writes
  * OUT/fingerprints.json (scale → query → {rows, md5}) and
  * OUT/oracle_sql.json (query → oracle SQL, where the registry has one). */
object MakeFingerprints {
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val benchDir = Paths.get(a("bench-dir"))
    val out = Paths.get(a("out"))
    val lists = Fingerprints.load(benchDir.resolve("fingerprints.json")).workloads
    val spark = GraftSession.getOrCreate("perfbench-fingerprints")
    val queries = SparkEntry.queries
    val byScale = lists.values.toSeq.groupBy(_._1).map { case (sf, ws) => sf -> ws.flatMap(_._2).distinct.sorted }
    val fps = byScale.toSeq.sortBy(_._1).map { case (sf, names) =>
      val dir = benchDir.resolve("data").resolve(sf).toString
      sf -> Json.Obj(names.map { q =>
        val df = queries(q)(spark, dir)
        df.coalesce(1).write.mode("overwrite").parquet(out.resolve(sf).resolve(q).toString)
        val fp = Checks.fingerprint(queries(q)(spark, dir))
        println(s"$sf $q ${fp.rows} ${fp.md5}")
        q -> Json.obj("rows" -> fp.rows, "md5" -> fp.md5)
      })
    }
    spark.stop()
    Files.write(out.resolve("fingerprints.json"),
      Json.render(Json.Obj(fps)).getBytes(StandardCharsets.UTF_8))
    val names = byScale.values.flatten.toSet
    Files.write(out.resolve("oracle_sql.json"),
      Json.render(SparkEntry.oracleSql.filter { case (k, _) => names(k) }).getBytes(StandardCharsets.UTF_8))
  }
}
