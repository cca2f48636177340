package graft

import graft.operators.TweetPipeline
import graft.sources.TweetSource
import org.apache.spark.sql.functions._

class TweetPipelineSpec extends SparkSpec {
  import spark.implicits._

  lazy val raw = TweetSource.read(spark, fixture("stream_basic.json"))
  lazy val out = TweetPipeline.transform(raw).orderBy("date_created").cache()

  test("F1: retweets, non-es, null-lang rows dropped") {
    val users = out.select("user").as[String].collect().toSet
    assert(!users.contains("bob"))   // lang=en
    assert(!users.contains("carla")) // is_retweet
    assert(!users.contains("dani"))  // lang null → NA predicate drops
  }

  test("P1: exactly the 7 sink columns, renamed") {
    assert(out.columns.toSeq == Seq(
      "date_created", "user", "content", "source", "location",
      "quoted_user", "quoted_content"))
  }

  test("P1: created_at parsed to timestamp") {
    val ts = out.filter($"user" === "ana").select($"date_created".cast("string")).as[String].head()
    assert(ts == "2019-10-23 03:15:02")
  }

  test("T1-T5 applied to content: url/mention/stopwords gone, squished") {
    val c = out.filter($"user" === "ana").select("content").as[String].head()
    assert(c == "marcha grande chile #chile")
  }

  test("P2 applied to quoted_content too") {
    val qc = out.filter($"user" === "fede").select("quoted_content").as[String].head()
    assert(qc == "histórico seguimos")
  }

  test("D1: keep-first dedup on cleaned content") {
    // ana and eva clean to the same content; ana (earlier) survives
    val survivors = out.select("user").as[String].collect().toSet
    assert(survivors.contains("ana") && !survivors.contains("eva"))
  }

  test("corrupt/blank lines don't produce rows") {
    // fixture has an empty line; filter on is_retweet drops the all-null row
    assert(out.count() == 3) // ana, fede, hugo
  }

  test("P1: malformed created_at yields NULL date_created, never a task " +
      "failure (ANSI to_timestamp throws; try_to_timestamp is the lubridate-" +
      "NA parity)") {
    import org.apache.spark.sql.Row
    val row = spark.createDataFrame(
      java.util.List.of(Row("not a real timestamp", "zoe", "hola mundo",
        "s", null, null, null, java.lang.Boolean.FALSE, "es", null)),
      TweetSource.rawSchema)
    val r = TweetPipeline.transform(row).collect()
    assert(r.length == 1 && r.head.isNullAt(0))
  }

  test("S4: empty input short-circuits to empty output") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], TweetSource.rawSchema)
    assert(TweetPipeline.transform(empty).isEmpty)
  }

  test("plan quality: one bounded shuffle, pushed filters, partial dedup below the exchange") {
    val df = TweetPipeline.transform(raw)
    df.collect() // finalize the adaptive plan
    // AQE toString repeats the initial plan below the final one — keep final only
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the dedup's exchange on content is the only one: F1/P1/P2 stay narrow
    assert(shuffles(plan) == 1, s"expected 1 exchange:\n$plan")
    // both filter conjuncts reach the JSON scan
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(lang,es)"))
    // map-side keep-first (WindowGroupLimit Partial) runs below the exchange,
    // so it ships at most one row per key per map partition
    val below = plan.linesIterator.dropWhile(!_.contains("- Exchange ")).drop(1).toSeq
    assert(below.exists(l => l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"no partial WindowGroupLimit below the exchange:\n$plan")
  }

  test("D1: dedup output is stable under input row/partition reordering") {
    val base = TweetPipeline.clean(TweetPipeline.filterProject(raw))
    val shuffled = base.orderBy($"user".desc).repartition(7)
    val a = TweetPipeline.dedupKeepFirst(base).collect().toSet
    val b = TweetPipeline.dedupKeepFirst(shuffled).collect().toSet
    assert(a == b)
  }

  test("D1: null key — exactly one survivor, picked by data order") {
    val df = Seq(
      (null.asInstanceOf[String], "2020-01-02", "u2"),
      (null.asInstanceOf[String], "2020-01-01", "u1"),
      ("x", "2020-01-03", "u3"),
    ).toDF("content", "date_created", "user")
    val out = TweetPipeline.dedupKeepFirst(df).collect()
    assert(out.length == 2)
    val nullRow = out.find(_.isNullAt(0)).get
    assert(nullRow.getString(2) == "u1") // earliest (date, user) wins
  }

  test("D1: a large NULL-content group ships at most one row per map partition " +
      "and keeps its ord-min") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val parts = 8
    // ids 0..11999 in 8 range partitions of 1,500; content is NULL except
    // for 4 keys, each on two rows of one partition. `when` without
    // `otherwise` keeps the NULL from folding to a constant.
    val df = spark.range(0, 12000, 1, parts).select(
      when($"id" % 3000 < 2, concat(lit("k"), ($"id" / 3000).cast("int").cast("string")))
        .as("content"),
      (lit(20000L) - $"id").as("v"))
    val keys = 4
    val written = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => written.addAndGet(m.shuffleWriteMetrics.recordsWritten))
    }
    spark.sparkContext.addSparkListener(listener)
    val out =
      try {
        val rows = TweetPipeline.dedupKeepFirst(df).as[(String, Long)].collect()
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        rows
      } finally spark.sparkContext.removeSparkListener(listener)
    val nulls = out.filter(_._1 == null)
    assert(nulls.length == 1, s"NULL survivors: ${nulls.toSeq}")
    // largest NULL id is 11999 (11999 % 3000 >= 2): v = 20000 - 11999
    assert(nulls.head._2 == 8001L)
    assert(out.length == 1 + keys)
    assert(written.get > 0L, "the dedup wrote no shuffle records")
    assert(written.get <= parts + keys,
      s"dedup shuffle wrote ${written.get} records, want <= ${parts + keys}")
  }
}
