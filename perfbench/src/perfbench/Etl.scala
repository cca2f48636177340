package perfbench

import java.nio.file.{Files, Path}

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import graft.sinks.{ParquetTweetSink, TweetSink}
import graft.streaming.TweetStream

/** The ETL workloads: a closed loop with one stream. One
  * TweetStream.runAvailableNow query drains a pre-written bronze backlog,
  * one file per micro-batch, and starts the next batch only after the
  * previous one has committed — so the highest sustainable chunk rate at
  * this chunk size is 1 / batch latency, with no trigger interval mixed in.
  *
  *  - etl_bulk: 20,000-line chunks into a new sink, which holds only the
  *    warm-up's three small files (the transform-bound regime: JSON parse,
  *    T1-T5 regexes, the dedup shuffle, parquet write).
  *  - etl_trickle: 1,000-line chunks (tens of tweets/s over a 60-s
  *    trigger), every tenth chunk empty after F1, appended onto a sink
  *    pre-grown to 1,440 files — one day of 1-minute triggers (the
  *    per-batch fixed-cost regime: offsets and WAL, planning, jobs, and the
  *    sink's max(tweet_id) rescan, which grows with the file count).
  *
  * The backlog holds `seconds / nominal batch seconds` chunks, at least four
  * (five for trickle, so that a run has its empty chunk), so a run drains
  * for about `seconds` on the 4-core host the sizes were probed on, and the
  * same seconds always mean the same work. The end-to-end figure is the median
  * batch latency, which the first batches after the warm-up (still slower
  * while the JIT settles) barely move.
  */
final class EtlWorkload(name: String, seed: Long, seconds: Int, work: Path,
    faultRowCount: Boolean) extends Workload {
  private val bulk = name == "etl_bulk"
  private val chunkLines = if (bulk) 20000 else 1000
  private val nominalBatchS = if (bulk) 2.5 else 2.4
  private val chunks = math.max(if (bulk) 4 else 5, math.round(seconds / nominalBatchS).toInt)
  private val pregrowFiles = if (bulk) 0 else 1440
  /** Rows per pre-grown file: what a 1,000-line trickle chunk loads. */
  private val pregrowRowsPerFile = 480
  /** Which chunk of every ten is empty after F1 (none for bulk). */
  private def emptyAfterF1(i: Int) = !bulk && i % 10 == 4

  private val bronze = work.resolve("bronze")
  private val warmBronze = work.resolve("warm-bronze")
  private val sinkPath = work.resolve("sink").toString
  private var expected: Seq[Bronze.Chunk] = Nil
  private var sink: TweetSink = _
  private var before = Checks.SinkBefore(0, 0)

  /** Load generation (untimed, not set-up): the backlog, the warm-up
    * chunk and, for etl_trickle, the pre-grown sink. */
  override def prepare(): Unit = {
    Files.createDirectories(bronze)
    Files.createDirectories(warmBronze)
    val base = System.currentTimeMillis() - 3600L * 1000
    expected = (0 until chunks).map { i =>
      Bronze.writeChunk(bronze.resolve(f"chunk-$i%04d.json"), seed, i, chunkLines,
        emptyAfterF1(i), base + i * 1000L)
    }
    // The warm-up chunk: trickle-sized, from a chunk index the timed
    // backlog never uses.
    Bronze.writeChunk(warmBronze.resolve("chunk-warm.json"), seed, 9999, 1000,
      emptyAfterF1 = false, base)
    if (pregrowFiles > 0) pregrow()
  }

  /** Sink creation, then the warm-up: one chunk through the whole stream
    * into that sink, so the timed batches find the sink's code paths (and,
    * for etl_trickle, its 1,440 files) warm. */
  override def setUp(spark: SparkSession, k: Int): Unit = {
    sink = new ParquetTweetSink(spark, sinkPath)
    TweetStream.runAvailableNow(spark, warmBronze.toString, sink, Some(Bronze.keys),
      work.resolve(s"warm-checkpoint-$k").toString)
  }

  override def beforeTiming(spark: SparkSession): Unit =
    before = Checks.sinkState(spark, sinkPath)

  /** etl_trickle's pre-grown sink: `pregrowFiles` parquet files in the
    * sink's schema, each a copy of one file of `pregrowRowsPerFile` rows
    * written through the parquet library. The copies repeat tweet_ids
    * 1..`pregrowRowsPerFile`; the sink only ever asks the table for its
    * maximum, and the run checks only the ids it adds. */
  private def pregrow(): Unit = {
    val dir = work.resolve("sink")
    Files.createDirectories(dir)
    val schema = MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  optional int64 tweet_id;
        |  optional int64 date_created (TIMESTAMP(MICROS,true));
        |  optional binary user (STRING);
        |  optional binary content (STRING);
        |  optional binary source (STRING);
        |  optional binary location (STRING);
        |  optional binary quoted_user (STRING);
        |  optional binary quoted_content (STRING);
        |}""".stripMargin)
    val first = dir.resolve("part-00000-pregrown.parquet")
    val w = ExampleParquetWriter.builder(new LocalOutputFile(first)).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try for (id <- 1L to pregrowRowsPerFile) {
      w.write(groups.newGroup().append("tweet_id", id)
        .append("date_created", (1571000000L + id) * 1000000L)
        .append("user", s"usuario_${id % 5000}")
        .append("content", s"tuit anterior $id")
        .append("source", "Twitter for Android"))
    } finally w.close()
    for (f <- 1 until pregrowFiles)
      Files.copy(first, dir.resolve(f"part-$f%05d-pregrown.parquet"))
  }

  override def measure(spark: SparkSession, trace: Option[Trace]): Measured = {
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val target = trace.map(_.wrapSink(sink)).getOrElse(sink)
    val codegen0 = PerfbenchBridge.codegenCompiles
    val t0 = Clock.nowMs
    val error =
      try {
        TweetStream.runAvailableNow(spark, bronze.toString, target, Some(Bronze.keys),
          work.resolve("checkpoint").toString)
        None
      } catch { case e: Throwable => Some(s"stream failed: ${e.getClass.getName}: ${e.getMessage}") }
    val t1 = Clock.nowMs
    val codegen = PerfbenchBridge.codegenCompiles - codegen0
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    val batches = progress.batchesSince(t0)

    val lines = expected.map(_.lines.toLong).sum
    val wanted = expected.map(_.expectedLoaded.toLong).sum + (if (faultRowCount) 1 else 0)
    val gain = Checks.sinkGain(spark, sinkPath, before)
    val failures = error.toSeq ++ Checks.sinkVerdict(wanted, gain).toSeq ++
      (if (batches.size != chunks) Seq(s"${batches.size} batches ran, expected $chunks") else Nil)
    val wallS = (t1 - t0) / 1000
    val batchMs = batches.map(_.ms("triggerExecution"))
    val p50 = Stats.median(batchMs)

    val (perLayer, spans) = trace match {
      case Some(tr) => layers(tr, batches, t0, t1, codegen, gain.gained)
      case None => (Map.empty[String, Double], Nil)
    }
    Measured(
      attempted = chunks,
      failures = failures,
      failedOps = if (failures.nonEmpty) chunks else 0,
      endToEnd = Seq(Metric("op_ms_p50", p50, "ms")),
      report = Seq(
        Metric("etl_batch_ms_p50", p50, "ms"),
        Metric("etl_tweets_per_s", lines / wallS, "1/s"),
        Metric("drain_s", wallS, "s")),
      perLayer = perLayer,
      spans = spans,
      detail = Seq(
        "closed_loop" -> "one stream drains the backlog; each batch starts after the previous commits",
        "chunks" -> chunks,
        "chunk_lines" -> chunkLines,
        "raw_records" -> lines,
        "expected_rows_loaded" -> wanted,
        "sink_rows_gained" -> gain.gained,
        "pregrown_files" -> pregrowFiles,
        "sink_rows_before" -> before.rows,
        "batch_ms_samples" -> batchMs.size,
        "batches" -> batches.map(b => Json.obj(
          "batch_id" -> b.batchId, "start_ms" -> b.startMs, "input_rows" -> b.inputRows,
          "duration_ms" -> b.durations))))
  }

  /** Per-layer metrics and the span tree batch → {sinks.append →
    * {sinks.id_base, sinks.write}, guard}. The append spans come from the
    * sink wrapper; the id-base and guard spans are the SQL executions the
    * batch ran inside and outside append (the id base is append's only
    * non-write execution; the guard is the out.isEmpty check).
    * streaming.input_evals counts source rows per generated line over the
    * batches that loaded rows: an empty-after-F1 batch skips the write and
    * so reads its chunk once. */
  private def layers(tr: Trace, batches: Seq[Batch], t0: Double, t1: Double,
      codegen: Long, loaded: Long): (Map[String, Double], Seq[Span]) = {
    final case class PerBatch(b: Batch, lines: Long, appends: Int, appendMs: Double,
        idBaseMs: Double, jobs: Int, tasks: Int)
    val appends = tr.recordedSpans.filter(s => s.name == "sinks.append" && s.startMs >= t0)
    // Batch i drains chunk i: the file source takes one file per batch in
    // modification-time order.
    val firstBatch = batches.map(_.batchId).minOption.getOrElse(0L)
    val out = Seq.newBuilder[Span]
    var next = 0
    def add(parent: Int, name: String, a: Double, b: Double): Int = {
      val id = next; next += 1
      out += Span(id, parent, name, a, b); id
    }
    def within(t: Double, a: Double, b: Double) = t >= math.floor(a) && t <= b
    var idBaseExecs = Set.empty[Long]
    val per = batches.map { b =>
      val bid = add(-1, "batch", b.startMs, b.endMs)
      val execs = tr.sqlExecutions(b.startMs, b.endMs).filter(e => e.nested && !e.isWrite)
      val mine = appends.filter(a => within(a.startMs, b.startMs, b.endMs))
      val (idBase, guard) = execs.partition(e => mine.exists(a => within(e.startMs, a.startMs, a.endMs)))
      idBaseExecs ++= idBase.map(_.id)
      if (guard.nonEmpty) add(bid, "guard", guard.map(_.startMs).min, guard.map(_.endMs).max)
      mine.foreach { a =>
        val aid = add(bid, "sinks.append", a.startMs, a.endMs)
        val ib = idBase.filter(e => within(e.startMs, a.startMs, a.endMs))
        val ibEnd = if (ib.isEmpty) a.startMs else ib.map(_.endMs).max
        if (ib.nonEmpty) add(aid, "sinks.id_base", ib.map(_.startMs).min, ibEnd)
        add(aid, "sinks.write", math.min(ibEnd, a.endMs), a.endMs)
      }
      val w = tr.window(b.startMs, b.endMs)
      PerBatch(b, expected.lift((b.batchId - firstBatch).toInt).map(_.lines.toLong).getOrElse(0L),
        mine.size, mine.map(_.ms).sum, idBase.map(_.ms).sum, w.jobs, w.tasks.size)
    }
    val calls = per.map(_.appends).sum.max(1)
    val appendMs = per.map(_.appendMs).sum
    val idBaseMs = per.map(_.idBaseMs).sum
    val loading = per.filter(_.appends > 0)
    val m = Layers.common(tr.window(t0, t1), t0, t1, codegen) ++ Map(
      "streaming.offsets_ms" -> Stats.mean(batches.map(b => b.ms("latestOffset") + b.ms("getBatch"))),
      "streaming.commit_ms" -> Stats.mean(batches.map(b => b.ms("walCommit") + b.ms("commitOffsets"))),
      "streaming.jobs_per_batch" -> Stats.mean(per.map(_.jobs.toDouble)),
      "streaming.tasks_per_batch" -> Stats.mean(per.map(_.tasks.toDouble)),
      "streaming.input_evals" ->
        loading.map(_.b.inputRows).sum.toDouble / math.max(1L, loading.map(_.lines).sum),
      "operators.transform_ms" -> Stats.mean(per.map(p => p.b.ms("addBatch") - p.appendMs)),
      "sinks.append_ms" -> appendMs / calls,
      "sinks.id_base_ms" -> idBaseMs / calls,
      "sinks.write_ms" -> (appendMs - idBaseMs) / calls,
      "sinks.rows_scanned_per_row_loaded" ->
        tr.recordsReadBy(idBaseExecs).toDouble / math.max(1L, loaded))
    (m, out.result())
  }
}
