package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.Checkpoints

/** Pins Checkpoints.materialize's release contract in both flavors:
  * `release()` frees the held frame's blocks (local) and deletes its
  * checkpoint files (reliable), and an action that throws releases what
  * it held before the exception propagates. The reliable tests mutate the
  * shared SparkContext's checkpoint dir, which is safe only because
  * ScalaTest runs this suite's tests sequentially. */
class CheckpointsSpec extends SparkSpec {

  private def persisted(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddDirs(dir: Path): Seq[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-"))
      .toList
    finally walk.close()
  }

  /** Runs `body` with a fresh checkpoint dir set on the SparkContext. */
  private def withCheckpointDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try body(dir)
    finally {
      spark.sparkContext.setCheckpointDir(null)
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
    }
  }

  /** 1,000 rows over 4 partitions; row 500 raises when `failing`. */
  private def frame(failing: Boolean) = {
    val v = if (failing) when(col("id") === 500L, raise_error(lit("boom")).cast("long"))
      .otherwise(col("id")) else col("id")
    spark.range(0, 1000, 1, 4).select(col("id"), (v * 2L).as("v"))
  }

  test("local flavor: the action's job stores the frame, release() frees " +
      "its blocks") {
    val before = persisted()
    val held = Checkpoints.materialize(frame(failing = false))(_.count())
    assert(held.result == 1000L)
    assert((persisted() -- before).size == 1,
      "the materialized frame holds no blocks")
    assert(held.df.agg(sum("v")).head().getLong(0) == 999L * 1000L)
    held.release()
    assert(persisted() -- before == Set.empty, "release() left blocks behind")
  }

  test("reliable flavor: the frame is read from checkpoint files, release() " +
      "deletes them") {
    withCheckpointDir { dir =>
      val before = persisted()
      val held = Checkpoints.materialize(frame(failing = false))(_.count())
      assert(held.result == 1000L)
      val dirs = rddDirs(dir)
      assert(dirs.size == 1, s"expected one checkpoint dir, found $dirs")
      assert(Files.list(dirs.head).count() > 0, "no checkpoint files were written")
      assert(held.df.agg(sum("v")).head().getLong(0) == 999L * 1000L)
      held.release()
      assert(rddDirs(dir).isEmpty, "release() left the checkpoint files behind")
      assert(persisted() -- before == Set.empty, "the cache handle stayed registered")
    }
  }

  test("an action that throws releases what it held, in both flavors, " +
      "and so does a barrier whose job fails") {
    val before = persisted()
    intercept[Exception](Checkpoints.materialize(frame(failing = true))(_.count()))
    assert(persisted() -- before == Set.empty,
      "a failed action left the local checkpoint's blocks registered")
    intercept[Exception](Checkpoints.barrier(frame(failing = true)))
    assert(persisted() -- before == Set.empty,
      "a failed barrier left the local checkpoint's blocks registered")
    withCheckpointDir { dir =>
      intercept[Exception](Checkpoints.materialize(frame(failing = true))(_.count()))
      intercept[Exception](Checkpoints.barrier(frame(failing = true)))
      assert(persisted() -- before == Set.empty,
        "a failed action left the reliable flavor's cache registered")
      assert(rddDirs(dir).isEmpty, "a failed action left checkpoint files")
    }
  }
}
