package graft

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime

import graft.cli.Main
import graft.sinks.{ParquetTweetSink, TweetSink}
import graft.streaming.TweetStream

/** C1 streaming loop, S5-S8 sink contract, C2/C3 CLI, F2 keys filter. */
class StreamingEtlSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  private val anaLine =
    """{"created_at":"Wed Oct 23 03:15:02 +0000 2019","screen_name":"ana","text":"La marcha más grande de Chile https://t.co/abc123 @pinera #chile","source":"s","location":null,"quoted_screen_name":null,"quoted_text":null,"is_retweet":false,"lang":"es"}"""
  private val evaLine = // cleans to the same content as ana → in-batch dup
    """{"created_at":"Wed Oct 23 03:15:06 +0000 2019","screen_name":"eva","text":"La   marcha más grande de   Chile https://t.co/xyz999 @boric #chile","source":"s","location":null,"quoted_screen_name":null,"quoted_text":null,"is_retweet":false,"lang":"es"}"""
  private val hugoLine =
    """{"created_at":"Wed Oct 23 03:15:09 +0000 2019","screen_name":"hugo","text":"texto único sin nada que limpiar #santiago","source":"s","location":null,"quoted_screen_name":null,"quoted_text":null,"is_retweet":false,"lang":"es"}"""

  test("C1: per-batch dedup scope, empty-batch no-write, bounded drain") {
    val bronze = tmpDir("bronze")
    val dbDir = tmpDir("db")
    // distinct mtimes → deterministic batch order (FileStreamSource sorts
    // by modification time)
    val f1 = bronze.resolve("stream_20191023_031500.json")
    Files.writeString(f1, s"$anaLine\n$evaLine\n$hugoLine\n")
    f1.toFile.setLastModified(1000000L)
    val f2 = bronze.resolve("stream_20191023_031600.json")
    Files.writeString(f2, s"$anaLine\n") // cross-batch dup: must survive
    f2.toFile.setLastModified(2000000L)
    val f3 = bronze.resolve("stream_20191023_031700.json")
    Files.writeString(f3, "") // S4: empty chunk → warn, no write
    f3.toFile.setLastModified(3000000L)

    val table = dbDir.resolve("tweet_data.db").toString
    val sink = new ParquetTweetSink(spark, table)
    TweetStream.runAvailableNow(spark, bronze.toString, sink, keys = None,
      checkpointDir = dbDir.resolve("ckpt").toString)

    val out = spark.read.parquet(table)
    // batch1: {ana-or-eva deduped, hugo}; batch2: ana again (per-batch
    // scope — the reference never dedups across chunks, main.R:105)
    assert(out.count() == 3)
    val users = out.select("user").as[String].collect().toSet
    assert(users == Set("ana", "hugo")) // eva lost in-batch; ana appears twice
    assert(out.filter($"user" === "ana").count() == 2)
    // sink-assigned ids: unique and batch-ascending (density is pinned by
    // the S7 parity test)
    val ids = out.select("tweet_id").as[Long].collect()
    assert(ids.distinct.length == 3 && ids.forall(_ >= 1L))
  }

  test("C1: the transform runs once per micro-batch (numInputRows == chunk lines)") {
    import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
    val bronze = tmpDir("bronze-once")
    val dbDir = tmpDir("db-once")
    val lines = Seq(anaLine, evaLine, hugoLine)
    Files.writeString(bronze.resolve("stream_20191023_031500.json"),
      lines.mkString("", "\n", "\n"))
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      TweetStream.runAvailableNow(spark, bronze.toString,
        new ParquetTweetSink(spark, dbDir.resolve("t.db").toString), keys = None,
        checkpointDir = dbDir.resolve("ckpt").toString)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.streams.removeListener(listener)
    import scala.jdk.CollectionConverters._
    val mine = progress.asScala.toSeq
      .filter(_.sources.exists(_.description.contains(bronze.toString)))
    // every evaluation of the batch re-reads the source, so a second pass
    // over the transform would count each line twice
    assert(mine.map(_.numInputRows).sum == lines.length.toLong)
    assert(spark.read.parquet(dbDir.resolve("t.db").toString).count() == 2L)
  }

  test("S7 parity: contiguousIds=true gives dense SQLite rowids; default is unique-ascending") {
    import java.sql.Timestamp
    def batch(users: String*) = users.toSeq.map(u =>
      (Timestamp.valueOf("2019-10-23 03:15:09"), u, s"content $u", "s",
        null: String, null: String, null: String))
      .toDF("date_created", "user", "content", "source", "location",
        "quoted_user", "quoted_content")
    // SQLite parity: rowids 1..n, continuing densely across appends
    // (INTEGER PRIMARY KEY semantics, main.R:29-38).
    val parityTable = tmpDir("db-parity").resolve("tweet_data.db").toString
    val parity = new ParquetTweetSink(spark, parityTable)
    parity.ensureTable()
    parity.append(batch("ana", "eva"))
    parity.append(batch("hugo", "ines"))
    val byUser = spark.read.parquet(parityTable)
      .select("user", "tweet_id").as[(String, Long)].collect().toMap
    assert(byUser.values.toSeq.sorted == Seq(1L, 2L, 3L, 4L))
    assert(Set(byUser("hugo"), byUser("ines")) == Set(3L, 4L)) // dense continuation
    // The same sink on a second table: unique, every batch strictly above
    // the previous max.
    val scaleTable = tmpDir("db-scale").resolve("tweet_data.db").toString
    val scale = new ParquetTweetSink(spark, scaleTable)
    scale.ensureTable()
    scale.append(batch("ana", "eva"))
    val b1Max = spark.read.parquet(scaleTable)
      .select("tweet_id").as[Long].collect().max
    scale.append(batch("hugo", "ines"))
    val all = spark.read.parquet(scaleTable)
      .select("user", "tweet_id").as[(String, Long)].collect()
    assert(all.map(_._2).distinct.length == 4)
    assert(all.filter(r => r._1 == "hugo" || r._1 == "ines")
      .forall(_._2 > b1Max))
    // dense continuation from the sink's high-water mark
    assert(all.filter(r => r._1 == "hugo" || r._1 == "ines").map(_._2).sorted
      .toSeq == Seq(b1Max + 1, b1Max + 2))
  }

  test("F2: keys pattern matches any key, case-insensitive, quoted") {
    val p = TweetStream.keysPattern("#chile,#chiledesperto, #santiago").get
    assert("gran marcha #CHILE hoy".matches(s".*$p.*"))
    assert("vamos #santiago".matches(s".*$p.*"))
    assert(!"no keywords here".matches(s".*$p.*"))
    // regex metacharacters in keys must be literal
    assert(TweetStream.keysPattern("a+b").get.r.findFirstIn("xa+by").isDefined)
    // separator-only keys must yield no filter, not a match-all "(?i)()"
    assert(TweetStream.keysPattern(",").isEmpty)
    assert(TweetStream.keysPattern(", ,").isEmpty)
  }

  test("S6: collision-safe name prefixes timestamp only when target exists") {
    val now = () => LocalDateTime.of(2019, 10, 23, 3, 15, 2)
    assert(TweetSink.collisionSafeName("/x/tweets.db", _ => false, now) ==
      "/x/tweets.db")
    assert(TweetSink.collisionSafeName("/x/tweets.db", _ => true, now) ==
      "/x/20191023_031502_tweets.db")
  }

  test("S5/S6: ensureTable creates declared schema; second create renames") {
    val dbDir = tmpDir("db2")
    val path = dbDir.resolve("tweet_data.db").toString
    val first = new ParquetTweetSink(spark, path).ensureTable()
    assert(first == path)
    assert(spark.read.parquet(path).schema == TweetSink.schema)
    val second = new ParquetTweetSink(spark, path).ensureTable()
    assert(second != path && Paths.get(second).getFileName.toString.endsWith("_tweet_data.db"))
  }

  test("C2: CLI parses all 7 flags incl. short forms") {
    val Right(c) = Main.parse(Seq("--database", "x.db", "--keys", "#a,#b",
      "--initial-setup", "-f", "--raw-data-dir", "rd", "-c", "3", "-t", "30")): @unchecked
    assert(c == Main.Config("x.db", "#a,#b", initialSetup = true,
      forceStream = true, rawDataDir = "rd", streamChunks = 3, streamTimeout = 30))
    assert(Main.parse(Seq("--nope")).isLeft)
    assert(Main.parse(Seq("-c", "zero")).isLeft)
  }

  test("C3: mode quirk — stream iff initial_setup == force_stream") {
    def m(setup: Boolean, force: Boolean) =
      Main.modes(Main.Config(initialSetup = setup, forceStream = force))
    assert(m(false, false) == (false, true))  // normal run: stream only
    assert(m(true, false) == (true, false))   // setup only
    assert(m(true, true) == (true, true))     // setup then stream
    assert(m(false, true) == (false, false))  // the reference quirk: nothing
  }

  test("S2: bronze chunk sink writes timestamped NDJSON, creates dir, replayable") {
    import graft.sinks.BronzeSink
    import graft.sources.TweetSource
    val bronze = tmpDir("bronze-s2").resolve("raw_data") // does not exist yet
    val raw = TweetSource.read(spark,
      writeFixture(tmpDir("fix"), s"$anaLine\n$hugoLine\n").toString)
    val now = () => LocalDateTime.of(2019, 10, 23, 3, 15, 2)
    val written = BronzeSink.writeChunk(raw.drop("_corrupt_record"),
      bronze.toString, now)
    assert(written.getFileName.toString == "stream_20191023_031502.json")
    assert(Files.list(bronze).count() == 1) // temp write dir cleaned up
    // the chunk replays through the same declared-schema source
    val replay = TweetSource.read(spark, written.toString)
    assert(replay.count() == 2)
    assert(replay.select("screen_name").as[String].collect().toSet ==
      Set("ana", "hugo"))
  }

  private def writeFixture(dir: Path, content: String): Path = {
    val f = dir.resolve("stream_fixture.json")
    Files.writeString(f, content)
    f
  }

  test("E2E: bronze producer → streaming transform → sink (the full reference loop)") {
    import graft.sinks.BronzeSink
    import graft.sources.TweetSource
    val bronze = tmpDir("bronze-e2e").resolve("raw_data")
    val dbDir = tmpDir("db-e2e")
    // two chunks through the S2 producer, one through each timestamp
    val fix1 = writeFixture(tmpDir("fx1"), s"$anaLine\n$evaLine\n")
    val fix2 = writeFixture(tmpDir("fx2"), s"$hugoLine\n")
    val t1 = LocalDateTime.of(2019, 10, 23, 3, 15, 0)
    val t2 = LocalDateTime.of(2019, 10, 23, 3, 16, 0)
    val c1 = BronzeSink.writeChunk(
      TweetSource.read(spark, fix1.toString).drop("_corrupt_record"),
      bronze.toString, () => t1)
    val c2 = BronzeSink.writeChunk(
      TweetSource.read(spark, fix2.toString).drop("_corrupt_record"),
      bronze.toString, () => t2)
    assert(c1 != c2)
    val table = dbDir.resolve("tweet_data.db").toString
    val sink = new ParquetTweetSink(spark, table)
    sink.ensureTable()
    TweetStream.runAvailableNow(spark, bronze.toString, sink, keys = None,
      checkpointDir = dbDir.resolve("ckpt").toString)
    val out = spark.read.parquet(table)
    // chunk1: ana+eva dedupe to one row; chunk2: hugo
    assert(out.count() == 2)
    assert(out.select("user").as[String].collect().toSet == Set("ana", "hugo"))
  }

  test("typed pipeline: transformTyped yields Dataset[Tweet] with the cleaned values") {
    import graft.operators.{Tweet, TweetPipeline}
    import graft.sources.TweetSource
    val raw = TweetSource.read(spark,
      writeFixture(tmpDir("fix-typed"), s"$hugoLine\n").toString)
    val out: Seq[Tweet] = TweetPipeline.transformTyped(raw).collect().toSeq
    assert(out.map(_.user) == Seq("hugo"))
    assert(out.head.content == "texto único limpiar #santiago") // stopwords gone
    assert(out.head.date_created != null && out.head.quoted_user == null)
  }

  test("SQL entry point: registerAll exposes the star schema to spark.sql") {
    graft.sources.Tables.registerAll(spark, sfDir)
    val n = spark.sql(
      """SELECT COUNT(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderstatus = 'F'""".stripMargin).as[Long].head()
    assert(n > 0)
  }

  test("C4: twitter auth from env keys, redactable options map") {
    import graft.sources.TwitterAuth
    val full = TwitterAuth.from(k => Some(s"val-$k"))
    assert(full.isComplete)
    assert(full.asOptions == Map(
      "consumer.key" -> "val-TW_CONSUMER_KEY",
      "consumer.secret" -> "val-TW_CONSUMER_SECRET",
      "access.token" -> "val-TW_ACCESS_TOKEN",
      "access.secret" -> "val-TW_ACCESS_SECRET"))
    val partial = TwitterAuth.from(
      k => if (k == "TW_CONSUMER_KEY") Some("x") else None)
    assert(!partial.isComplete && partial.asOptions.size == 1)
    val empty = TwitterAuth.from(_ => Some("")) // .Renviron ships empty strings
    assert(!empty.isComplete)
  }
}
