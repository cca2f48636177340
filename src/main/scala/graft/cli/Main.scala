package graft.cli

import org.slf4j.LoggerFactory

import graft.GraftSession
import graft.sinks.ParquetTweetSink
import graft.streaming.TweetStream

/** C2/C3 — the reference CLI (/root/reference/main.R:125-192): the same 7
  * flags, the same mode-selection quirk.
  *
  * Mode quirk (main.R:188-192, preserved exactly): setup runs iff
  * `--initial-setup`; the stream runs iff `initial_setup == force_stream`.
  * So: no flags → stream; `--initial-setup` alone → setup only;
  * `--initial-setup --force-stream` → setup then stream;
  * `--force-stream` alone → nothing (the reference quirk).
  */
object Main {
  private val log = LoggerFactory.getLogger(getClass)

  final case class Config(
      database: String = "tweet_data.db",                   // main.R:126-131
      keys: String = "#chile,#chiledesperto,#santiago",     // main.R:132-137
      initialSetup: Boolean = false,                        // main.R:138-146
      forceStream: Boolean = false,                         // main.R:147-152
      rawDataDir: String = "raw_data",                      // main.R:153-158
      streamChunks: Int = 5,                                // main.R:159-164
      streamTimeout: Int = 60)                              // main.R:165-170

  /** Which phases a config runs — the C3 quirk, isolated for testing. */
  def modes(c: Config): (Boolean, Boolean) =
    (c.initialSetup, c.initialSetup == c.forceStream)

  def parse(args: Seq[String]): Either[String, Config] = {
    @annotation.tailrec
    def go(rest: List[String], c: Config): Either[String, Config] = rest match {
      case Nil => Right(c)
      case "--database" :: v :: t => go(t, c.copy(database = v))
      case "--keys" :: v :: t => go(t, c.copy(keys = v))
      case "--initial-setup" :: t => go(t, c.copy(initialSetup = true))
      case ("-f" | "--force-stream") :: t => go(t, c.copy(forceStream = true))
      case "--raw-data-dir" :: v :: t => go(t, c.copy(rawDataDir = v))
      case ("-c" | "--stream-chunks") :: v :: t =>
        v.toIntOption match {
          case Some(n) if n > 0 => go(t, c.copy(streamChunks = n))
          case _ => Left(s"--stream-chunks: expected positive int, got '$v'")
        }
      case ("-t" | "--stream-timeout") :: v :: t =>
        v.toIntOption match {
          case Some(n) if n > 0 => go(t, c.copy(streamTimeout = n))
          case _ => Left(s"--stream-timeout: expected positive int, got '$v'")
        }
      case other :: _ => Left(s"unknown argument: $other")
    }
    go(args.toList, Config())
  }

  def main(args: Array[String]): Unit = {
    parse(args.toIndexedSeq) match {
      case Left(err) =>
        System.err.println(err)
        System.err.println(
          "usage: graft.cli.Main [--database PATH] [--keys K1,K2] [--initial-setup] " +
            "[-f|--force-stream] [--raw-data-dir DIR] [-c|--stream-chunks N] [-t|--stream-timeout SEC]")
        sys.exit(2)
      case Right(cfg) => runWith(cfg)
    }
  }

  def runWith(cfg: Config): Unit = {
    // C5: banner logging at startup (main.R:176-187).
    log.info(s"database=${cfg.database} keys=${cfg.keys} rawDataDir=${cfg.rawDataDir} " +
      s"chunks=${cfg.streamChunks} timeout=${cfg.streamTimeout}s " +
      s"initialSetup=${cfg.initialSetup} forceStream=${cfg.forceStream}")
    val (doSetup, doStream) = modes(cfg)
    if (!doSetup && !doStream) { log.info("nothing to do (force-stream without initial-setup)"); return }
    val spark = GraftSession.getOrCreate("graft-etl")
    try {
      val sink = new ParquetTweetSink(spark, cfg.database)
      if (doSetup) {
        log.info("running initial setup")
        sink.ensureTable()
      }
      if (doStream) {
        // C4: token from env (main.R:193-200) — consumed by a network
        // source connector when one is configured; the bronze file-source
        // replay ignores it.
        val auth = graft.sources.TwitterAuth.fromEnv()
        if (!auth.isComplete)
          log.warn("twitter auth incomplete; streaming from bronze files only")
        log.info(s"starting stream: ${cfg.streamChunks} chunks of ${cfg.streamTimeout}s")
        TweetStream.run(spark, cfg.rawDataDir, sink, cfg.streamChunks,
          cfg.streamTimeout.toLong, Some(cfg.keys),
          checkpointDir = cfg.rawDataDir + "/_checkpoint")
      }
    } finally spark.stop()
  }
}
