package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The engine's one lineage cut: every frame held across jobs is
  * checkpointed, and freed, here. [[materialize]] checkpoints lazily, so
  * the caller's action builds the checkpoint in its own job, and hands
  * back a `release` (the CC rounds, the BPE steps, the sink's batch,
  * GlobalRank). [[barrier]] is materialize with a bare row count, for
  * frames read lazily by several consumers after the builder returns
  * (d52's gated corpus, d59's signature scan, e17's assigned index): the
  * parent plan runs once, and under predicate pushdown the admit filter's
  * alias chain is not substituted into each consumer's scan (d52: 93 s →
  * 7 s at sf0.1 from this barrier alone).
  *
  * Flavor follows the SparkContext: with a checkpoint directory configured
  * (`sc.setCheckpointDir` — HDFS/object store on a real cluster) the cut
  * is a RELIABLE checkpoint, so a lost executor re-reads files instead of
  * failing the run; otherwise `localCheckpoint` (executor-local blocks —
  * right for local mode and tests, lossy on a cluster). The reliable
  * flavor persists the plan first so the checkpoint write reads cached
  * blocks instead of recomputing the parent, then drops the cache handle.
  */
object Checkpoints {

  /** A held frame, its action's result, and a `release` that frees the
    * frame's blocks (local) or checkpoint files (reliable). */
  final case class Materialized[A](df: DataFrame, result: A,
      release: () => Unit)

  /** `df` held for consumers that read it lazily: the one job counts the
    * checkpointed rows without a further stage. The ContextCleaner frees
    * the frame once its consumers drop it. */
  def barrier(df: DataFrame): DataFrame =
    materialize(df)(_.queryExecution.toRdd.count()).df

  /** Checkpoint `df` lazily, then run `action` — which must compute every
    * partition (a full aggregate or count) — so the one action job both
    * produces the result and stores the frame. An action that throws
    * releases what it held. The reliable flavor's cache handle is dropped
    * in a finally: an aborted run must not leak a CacheManager-registered
    * plan for the life of the session. */
  def materialize[A](df: DataFrame)(action: DataFrame => A): Materialized[A] = {
    val reliable = df.sparkSession.sparkContext.getCheckpointDir.isDefined
    val source = if (reliable) df.persist(StorageLevel.MEMORY_AND_DISK) else df
    try {
      val cp =
        if (reliable) source.checkpoint(eager = false)
        else source.localCheckpoint(eager = false)
      val release = () => free(cp)
      val result =
        try action(cp)
        catch { case e: Throwable => release(); throw e }
      Materialized(cp, result, release)
    } finally if (reliable) source.unpersist(blocking = false)
  }

  /** `Dataset.unpersist` is a no-op on a checkpointed frame (it only
    * uncaches CacheManager-registered plans), so this goes to the RDD
    * behind the LogicalRDD the checkpoint wrapped the plan in. */
  private def free(cp: DataFrame): Unit =
    cp.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }
      .foreach { rdd =>
        rdd.unpersist(blocking = false)
        rdd.getCheckpointFile.foreach { dir =>
          val path = new org.apache.hadoop.fs.Path(dir)
          path.getFileSystem(cp.sparkSession.sparkContext.hadoopConfiguration)
            .delete(path, true)
        }
      }
}
