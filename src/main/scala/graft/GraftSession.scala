package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Session factory with the engine's standard tuning.
  *
  * Local mode is a stand-in for a multi-executor cluster: the knobs here
  * (AQE, shuffle-partition sizing, broadcast threshold) are the ones that
  * matter at 100 TB, sized down for local[32].
  */
object GraftSession {
  def builder(appName: String = "graft", cpus: Int = cpusFromEnv): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      // SQL surface for the native expressions + the scrub-fusion rule
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // The events table stores TIMESTAMP(NANOS) which Spark's parquet reader
      // rejects by default; read it as int64 nanos-since-epoch instead. Exact
      // integer nanos also sidesteps cross-engine truncation in the oracle
      // compare (DuckDB keeps ns, Spark TimestampType would truncate to us).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // InferFiltersFromGenerate derives `size(e) > 0` from explode(e) and
      // pushes it below the projections that define e, substituting the
      // FULL alias chain into the filter condition — so every explode whose
      // input is a computed array (tokens → shingles/chunks/grams here)
      // re-evaluates that chain several times per row, and for nested HOF
      // chains the re-evaluation is per lambda iteration (the round-5
      // winnowing blowup: O(windows × grams × chars) interpreted steps per
      // row). The filter it adds only skips empty arrays, which Generate
      // handles for free; every generate input in this engine is computed,
      // so the rule is pure downside. Excluded session-wide.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // Reliable checkpoints (Checkpoints' flavor when a checkpoint dir is
      // set) are otherwise never deleted: a released frame's files go at
      // once, but a frame handed on (a barrier, CC's or GlobalRank's
      // result) keeps them — with this flag the ContextCleaner removes
      // them once the caller drops the frame, so a long-lived session
      // doesn't accumulate one rdd-* dir per call.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      // Streaming checkpoint logs through the FileSystem API: the default
      // FileContext-based manager resolves links with FileUtil.readLink,
      // which forks a `readlink` process when the libhadoop native library
      // is absent — 8 per log per micro-batch. FileSystem.rename is one
      // atomic rename(2) on the local FS and atomic on HDFS. `classOf` makes
      // a future move of the class a compile error, not a silent fall-back.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[FileSystemBasedCheckpointFileManager].getName)
      // The `file:` scheme through GraftLocalFileSystem, which sets
      // permissions in-process: without libhadoop, Hadoop's local FS forks
      // `chmod` for every file create and mkdirs. Hadoop caches one
      // FileSystem per scheme per JVM and the first one created wins, so a
      // main must build its session here before touching any FileSystem.
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)

  /** Worker-thread count: SPARK_GRAFT_CPUS if set and valid, else every
    * available core (the driver's config is local[32] on a 32-core box —
    * a small fixed default would silently run at a fraction of the
    * machine). A set-but-unparsable value warns instead of silently
    * falling back, so a typo can't quietly skew bench parallelism. */
  def cpusFromEnv: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse {
      System.err.println(
        s"[GraftSession] SPARK_GRAFT_CPUS='$v' is not a positive int; " +
          s"using all ${Runtime.getRuntime.availableProcessors()} cores")
      Runtime.getRuntime.availableProcessors()
    }
    case None => Runtime.getRuntime.availableProcessors()
  }

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
