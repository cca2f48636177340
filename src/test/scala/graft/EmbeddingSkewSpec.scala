package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One-orthant skew stress for the e-family in-bucket pair queries
  * (e03/e04/e41/e42 + d42's sem side) — the round-20 verdict's #1: real
  * embedding corpora are anisotropic (vectors concentrate in few sign-LSH
  * orthants), and an UNCAPPED bucket self-join is quadratic in the hot
  * bucket. Since round 21 the candidate generation routes through
  * NearDup.cappedBuckets (row_number ≤ CandCap+1 sliced map-side BEFORE
  * pair expansion — a WindowGroupLimit in the plan), so a mega-bucket
  * costs O(CandCap) rows per map task and its pair output drops whole
  * (the round-16 text-side trade, StressDup's `hot`/`mega` cases).
  *
  * Three pins here:
  *   1. adversarial one-orthant corpus (every vector strictly positive →
  *      ONE bucket, far over CandCap): zero pairs, and the job completes
  *      without materializing the g²/2 expansion;
  *   2. under-cap control corpus: output IDENTICAL to the uncapped
  *      self-join reference (fixture buckets are under cap, so the
  *      oracle gate stays green — CORRECTNESS_r* pins the same thing);
  *   3. plan shape: the pre-expansion WindowGroupLimit cut is present and
  *      the corpus is scanned ONCE (the self-join form scanned it twice).
  */
class EmbeddingSkewSpec extends SparkSpec {

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** n strictly-positive 64-dim vectors (one orthant ⇒ one sign bucket at
    * ANY bits), deterministically varied so cosines differ. */
  private def oneOrthant(n: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      val v = Array.tabulate(64)(j => 0.1f + ((i * 31 + j * 17) % 100) / 100.0f)
      Row(i.toLong, v.toSeq, i % 3)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), embSchema)
  }

  private def asSfDir(emb: DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("emb-skew").toString
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def run(name: String, dir: String): DataFrame =
    graft.queries.GraftQuery.all.find(_.name == name)
      .getOrElse(fail(s"unknown query $name")).run(spark, dir)

  test("one-orthant mega-bucket: capped families emit zero pairs and " +
      "complete at O(cap), not O(g^2)") {
    val n = 400 // > CandCap + 1 = 129: the bucket must drop whole
    val dir = asSfDir(oneOrthant(n))
    assert(run("e04_embedding_neardup", dir).count() == 0L,
      "over-cap bucket must contribute no pairs (all-or-nothing drop)")
    assert(run("e03_bucket_ann", dir).count() == 0L,
      "over-cap bucket must contribute no neighbors")
    // e41: every anchor survives the left join-back with NULL partners
    val e41 = run("e41_hard_negatives", dir)
    assert(e41.count() == n.toLong &&
      e41.filter(col("pos_id").isNotNull || col("neg_id").isNotNull).count() == 0L,
      "e41 must keep all anchors, none with in-bucket partners")
    // e42: the grid side is pair-independent — full (τ × label) rows,
    // zero dropped everywhere
    val e42 = run("e42_semantic_dedup_sweep", dir).collect()
    assert(e42.nonEmpty && e42.forall(_.getAs[Long]("n_dropped") == 0L),
      "e42 must report zero dropped under a dropped mega-bucket")
  }

  test("under-cap control: capped e04 equals the uncapped self-join " +
      "reference exactly") {
    val n = 100 // < CandCap: the slice passes the bucket through untouched
    val emb = oneOrthant(n)
    val dir = asSfDir(emb)
    val got = run("e04_embedding_neardup", dir)
      .orderBy("a_id", "b_id").collect().toSeq
    // reference: the pre-round-21 uncapped bucket self-join (one bucket
    // here, so it is the all-pairs i<j cosine table at the same filter)
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("emb"))
    val a = base.select(col("vec_id").as("a_id"), col("emb").as("a_emb"))
    val b = base.select(col("vec_id").as("b_id"), col("emb").as("b_emb"))
    val want = a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos_sim", graft.functions.VectorExprs
        .cosine(col("a_emb"), col("b_emb")))
      .filter(col("cos_sim") >= 0.4)
      .select(col("a_id"), col("b_id"), col("cos_sim"))
      .orderBy("a_id", "b_id").collect().toSeq
    assert(want.nonEmpty, "control corpus must produce pairs")
    assert(got == want, "capped output must equal the uncapped reference " +
      "on under-cap buckets")
  }

  test("orthant-skew operating procedure: e32 flags the biased corpus, " +
      "e10-style mean-centering restores bucket balance") {
    // Round-20 verdict #2: wire the EXISTING audit (e32) and the EXISTING
    // fix (e10 centering) into one documented loop. A non-centered corpus
    // (all-positive components) collapses every vector into ONE sign-LSH
    // orthant; subtracting the per-dim corpus mean (what e10 computes)
    // spreads the signs and restores ~uniform buckets. SCALING.md
    // documents the numbers; this pins them.
    val n = 400
    val biased = oneOrthant(n)
    val dirB = asSfDir(biased)
    val audit = run("e32_bucket_balance", dirB).collect()
    assert(audit.map(_.getAs[Long]("n_buckets")).sum == 1L &&
      audit.map(_.getAs[Long]("max_size")).max == n.toLong,
      "biased corpus must concentrate every vector in one bucket")
    // e10's fix: per-dim mean-centering, then re-bucket
    val means = biased.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(avg(col("x")).as("mu"))
      .orderBy(col("pos")).collect().map(_.getAs[Double]("mu"))
    val centered = biased.select(col("vec_id"),
      expr(s"transform(embedding, (x, i) -> cast(x as double) - element_at(" +
        s"array(${means.mkString(",")}), i + 1))").cast("array<float>")
        .as("embedding"),
      col("label"))
    val dirC = asSfDir(centered)
    val auditC = run("e32_bucket_balance", dirC).collect()
    val nBuckets = auditC.map(_.getAs[Long]("n_buckets")).sum
    val maxSize = auditC.map(_.getAs[Long]("max_size")).max
    assert(nBuckets >= 8L && maxSize < n / 2,
      s"centering must spread the orthant: $nBuckets buckets, max $maxSize")
  }

  test("plan pins: pre-expansion WindowGroupLimit cut, one corpus scan, " +
      "no bucket self-join") {
    Seq("e03_bucket_ann", "e04_embedding_neardup", "e41_hard_negatives",
      "e42_semantic_dedup_sweep").foreach { name =>
      val p = run(name, sfDir).queryExecution.executedPlan.toString
      assert(p.contains("WindowGroupLimit"),
        s"$name: expected the map-side row_number ≤ CandCap+1 cut:\n$p")
      val scans = "Scan parquet".r.findAllIn(p).length
      val expectedScans = name match {
        case "e41_hard_negatives" | "e42_semantic_dedup_sweep" => 2 // + join-back/grid
        case _ => 1
      }
      assert(scans <= expectedScans,
        s"$name: expected <= $expectedScans embeddings scans, got $scans:\n$p")
      assert(!p.contains("SortMergeJoin") ||
        !p.contains("bucket_b"),
        s"$name: bucket self-join resurfaced:\n$p")
    }
  }

  test("corpus sizing follows a rewrite in place: e05 over a rewritten " +
      "embeddings table equals e05 over a fresh directory") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val small = corpus.filter(col("vec_id") < 64L)
    val large = corpus.filter(col("vec_id") < 600L)
    assert(small.count() == 64L && large.count() > 400L,
      "the fixture must size e05 at 8 cells, then at more")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val rewritten = asSfDir(small)
    run("e05_ivf_topk", rewritten).collect() // sizes e05 at the 64-row corpus
    large.write.mode("overwrite").parquet(s"$rewritten/embeddings.parquet")
    val fresh = asSfDir(large)
    assert(rows(run("e05_ivf_topk", rewritten)) == rows(run("e05_ivf_topk", fresh)),
      "e05 kept the cell count of the table it saw before the rewrite")
  }
}

