package perfbench

import java.nio.file.{Files, Paths}

import graft.GraftSession
import graft.sinks.ParquetTweetSink
import graft.streaming.TweetStream

/** The benchmark's own tests (`python3 perfbench/run.py --selftest`): the
  * correctness checks must pass on the right expectation and fail on a
  * wrong one — an off-by-one row count, a corrupted fingerprint — both as
  * pure verdicts and against a real stream run. Prints one line per test
  * and, last, "selftest: passed"; exits 1 on the first failure. */
object SelfTest {
  private var n = 0

  private def check(name: String)(ok: Boolean): Unit = {
    n += 1
    println(s"${if (ok) "ok" else "FAIL"} $n - $name")
    if (!ok) { System.out.flush(); sys.exit(1) }
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(args.indexOf("--work") + 1))

    val good = Checks.SinkGain(gained = 120, newRows = 120, distinctNewIds = 120, nullContent = 0)
    check("sink verdict passes on the right count")(Checks.sinkVerdict(120, good).isEmpty)
    check("sink verdict fails on expected + 1")(Checks.sinkVerdict(121, good).nonEmpty)
    check("sink verdict fails on expected - 1")(Checks.sinkVerdict(119, good).nonEmpty)
    check("sink verdict fails on ids at or below the old maximum")(
      Checks.sinkVerdict(120, good.copy(newRows = 119, distinctNewIds = 119)).nonEmpty)
    check("sink verdict fails on duplicate ids")(
      Checks.sinkVerdict(120, good.copy(distinctNewIds = 119)).nonEmpty)
    check("sink verdict fails on NULL content")(
      Checks.sinkVerdict(120, good.copy(nullContent = 1)).nonEmpty)

    val fp = Checks.Fingerprint(3, "0123456789abcdef0123456789abcdef")
    check("fingerprint verdict passes on a match")(Checks.fingerprintVerdict(Some(fp), fp).isEmpty)
    check("fingerprint verdict fails on a corrupted md5")(
      Checks.fingerprintVerdict(Some(fp.copy(md5 = fp.md5.reverse)), fp).nonEmpty)
    check("fingerprint verdict fails on a row-count mismatch")(
      Checks.fingerprintVerdict(Some(fp.copy(rows = 4)), fp).nonEmpty)
    check("fingerprint verdict fails without a stored fingerprint")(
      Checks.fingerprintVerdict(None, fp).nonEmpty)

    val spans = Seq(Span(0, -1, "a", 0, 10), Span(1, 0, "b", 1, 3), Span(2, 0, "c", 2, 5),
      Span(3, 0, "d", 7, 8), Span(4, 2, "e", 2, 3))
    val self = Trace.selfTimes(spans).map { case (s, v) => s.name -> v }.toMap
    check("self time subtracts the union of the children")(self("a") == 5.0 && self("c") == 2.0)
    check("median")(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0)) == 2.5)

    val gen = work.resolve("gen")
    Files.createDirectories(gen)
    val c1 = Bronze.writeChunk(gen.resolve("a.json"), 7, 0, 300, emptyAfterF1 = false, 0L)
    val c2 = Bronze.writeChunk(gen.resolve("b.json"), 7, 0, 300, emptyAfterF1 = false, 0L)
    val c3 = Bronze.writeChunk(gen.resolve("c.json"), 8, 0, 300, emptyAfterF1 = false, 0L)
    check("the generator repeats itself for a seed")(c1 == c2 &&
      java.util.Arrays.equals(Files.readAllBytes(gen.resolve("a.json")), Files.readAllBytes(gen.resolve("b.json"))))
    check("another seed gives other inputs")(
      !java.util.Arrays.equals(Files.readAllBytes(gen.resolve("a.json")), Files.readAllBytes(gen.resolve("c.json"))))

    // End to end: three chunks (the second empty after F1) through the
    // stream into a fresh sink; the oracle's count must match exactly.
    val bronze = work.resolve("bronze")
    Files.createDirectories(bronze)
    val chunks = (0 until 3).map(i => Bronze.writeChunk(bronze.resolve(s"chunk-$i.json"), 11, i,
      400, emptyAfterF1 = i == 1, 1000000L + i * 1000L))
    check("an empty-after-F1 chunk expects no rows")(chunks(1).expectedLoaded == 0)
    val spark = GraftSession.getOrCreate("perfbench-selftest")
    try {
      val sinkPath = work.resolve("sink").toString
      val before = Checks.sinkState(spark, sinkPath)
      TweetStream.runAvailableNow(spark, bronze.toString, new ParquetTweetSink(spark, sinkPath),
        Some(Bronze.keys), work.resolve("checkpoint").toString)
      val gain = Checks.sinkGain(spark, sinkPath, before)
      val want = chunks.map(_.expectedLoaded.toLong).sum
      check(s"a stream run matches the oracle ($want rows)")(Checks.sinkVerdict(want, gain).isEmpty)
      check("the same run fails against an off-by-one expectation")(
        Checks.sinkVerdict(want + 1, gain).nonEmpty && Checks.sinkVerdict(want - 1, gain).nonEmpty)

      import spark.implicits._
      val df = Seq((1, "x", 2.5), (2, "y", -0.0), (3, null, 1e-9)).toDF("a", "b", "c")
      val same = Seq((3, 1e-9, null), (1, 2.5, "x"), (2, -0.0, "y")).toDF("a", "c", "b")
      val f1 = Checks.fingerprint(df)
      check("a fingerprint ignores column and row order")(f1 == Checks.fingerprint(same))
      check("a corrupted stored fingerprint fails the check")(
        Checks.fingerprintVerdict(Some(f1.copy(md5 = f1.md5.reverse)), Checks.fingerprint(same)).nonEmpty)
      check("a changed value changes the fingerprint")(
        f1 != Checks.fingerprint(Seq((1, "x", 2.5), (2, "y", 0.0), (3, null, 1e-9)).toDF("a", "b", "c")))
    } finally spark.stop()
    println("selftest: passed")
  }
}
