package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-19 additions: semantic anchors on constructed datasets for the
  * time-series ops (q61-q64), lexical retrieval (d84/d85), vector-search
  * audits (e35-e37), and media conditioning (m16/m17) — closed-form
  * inputs whose expected outputs are hand-computable, independent of the
  * fixture corpus (the fixture side is pinned by the DuckDB oracles). */
class Round19OpsSpec extends SparkSpec {

  private def query(name: String) =
    graft.queries.GraftQuery.all.find(_.name == name)
      .getOrElse(sys.error(s"unknown query $name"))

  /** Constructed orders table: (orderkey, custkey, totalprice, day
    * offset from 2024-01-01). */
  private def ordersDir(rows: Seq[(Long, Long, Double, Int)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-r19o").toString
    val schema = Tables.orders(spark, sfDir).schema
    val base = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val isNtz = schema("o_orderdate").dataType ==
      org.apache.spark.sql.types.TimestampNTZType
    val rws = rows.map { case (ok, ck, price, off) =>
      val ts: Any =
        if (isNtz) base.plusDays(off.toLong)
        else java.sql.Timestamp.valueOf(base.plusDays(off.toLong))
      Row(ok, ck, "F", price, ts, "1-URGENT")
    }
    spark.createDataFrame(rws.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  /** Constructed documents table (doc_id, text, lang, source). */
  private def docsDir(rows: Seq[(Long, String, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-r19d").toString
    val schema = Tables.documents(spark, sfDir).schema
    val rws = rows.map { case (id, text, lang, src) =>
      Row(id, text, lang, src,
        Option(text).map(_.length.toLong).getOrElse(0L))
    }
    spark.createDataFrame(rws.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Constructed embeddings dir: `n` copies of the all-ones 64-dim
    * vector (every pairwise cosine is exactly 1.0). */
  private def onesEmbDir(n: Int, dir0: Option[String] = None): String = {
    val dir = dir0.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-r19e").toString)
    val schema = Tables.embeddings(spark, sfDir).schema
    val ones = Seq.fill(Tables.EmbeddingDim)(1.0f)
    spark.createDataFrame(
      (0 until n).map(i => Row(i.toLong, ones, i % 3)).asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("q61 EWMA: exact 100.0 on a constant series (warm-up included), " +
      "spike flagged at >2x the smoothed level") {
    // 40 days at 100, then a 1000 spike. Constant prefix: the truncated
    // normalized EWMA is EXACTLY the constant at every warm-up length
    // (num = rev * prefix-sum, denominator the same prefix-sum).
    val dir = ordersDir(
      (0 until 40).map(i => (i.toLong + 1L, 1L, 100.0, i)) :+
        (41L, 1L, 1000.0, 40))
    val got = query("q61_ewma_anomaly").run(spark, dir).collect()
      .map(r => r.getAs[String]("order_date") -> r).toMap
    assert(got.size == 41)
    (0 until 40).foreach { i =>
      val day = java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)
      val r = got(day.toString)
      assert(r.getAs[Double]("ewma") == 100.0, s"day $i ewma")
      assert(r.getAs[Double]("ratio") == 1.0)
      assert(r.getAs[Int]("is_anomaly") == 0)
    }
    val spike = got("2024-02-10")
    // ewma = (0.25*1000 + (P - 0.25)*100) / P with P = sum of the 30
    // 6-dp weights ~ 0.999823 -> ~325.04
    assert(spike.getAs[Double]("ewma") > 320.0 &&
      spike.getAs[Double]("ewma") < 330.0)
    assert(spike.getAs[Int]("is_anomaly") == 1)
  }

  test("q62 ACF: a period-2 series yields acf(l) = (-1)^l (n-l)/n exactly") {
    // 20 days alternating 100/200: deviations are +-50 exactly, so
    // acf(0)=1, acf(1)=-19/20, acf(2)=18/20, ... and n_pairs = 20-l.
    val dir = ordersDir((0 until 20).map { i =>
      (i.toLong + 1L, 1L, if (i % 2 == 0) 100.0 else 200.0, i)
    })
    val got = query("q62_daily_acf").run(spark, dir).collect()
      .map(r => r.getAs[Long]("lag_d") -> r).toMap
    assert(got.size == 15)
    (0 to 14).foreach { l =>
      val r = got(l.toLong)
      assert(r.getAs[Long]("n_pairs") == (20 - l).toLong)
      val expect = math.pow(-1.0, l.toDouble) * (20 - l).toDouble / 20.0
      assert(math.abs(r.getAs[Double]("acf") - expect) < 1e-9,
        s"lag $l acf")
    }
  }

  test("q63 burstiness: clockwork gaps give B = -1 (bin 0), a 1/13-day " +
      "mix gives B = -1/13 (bin 4)") {
    // cust 1: 8 orders every 7 days -> 7 gaps of 7: sigma=0, B=-1.
    // cust 2: days {0,1,14} -> gaps {1,13}: mu=7, sigma=6, B=-1/13.
    val dir = ordersDir(
      (0 until 8).map(i => (i.toLong + 1L, 1L, 100.0, i * 7)) ++
        Seq((20L, 2L, 100.0, 0), (21L, 2L, 100.0, 1), (22L, 2L, 100.0, 14)))
    val got = query("q63_gap_burstiness").run(spark, dir).collect()
      .map(r => r.getAs[Long]("bin") -> r).toMap
    assert(got.keySet == Set(0L, 4L))
    assert(got(0L).getAs[Long]("n_customers") == 1L)
    assert(got(0L).getAs[Double]("mean_b") == -1.0)
    assert(got(0L).getAs[Double]("share") == 0.5)
    assert(got(4L).getAs[Double]("mean_b") == -0.076923)
  }

  test("q64 Lorenz: 10 equal-size spend deciles trace k(10-k)/110 " +
      "equality gaps and close at exactly 1.0") {
    val dir = ordersDir((1 to 10).map(k =>
      (k.toLong, k.toLong, k * 100.0, 0)))
    val got = query("q64_lorenz_deciles").run(spark, dir).collect()
      .map(r => r.getAs[Long]("decile") -> r).toMap
    assert(got.keySet == (1L to 10L).toSet)
    (1 to 10).foreach { k =>
      val r = got(k.toLong)
      assert(r.getAs[Long]("n_customers") == 1L)
      val gap = k.toDouble * (10 - k).toDouble / 110.0
      assert(math.abs(r.getAs[Double]("equality_gap")
        - math.rint(gap * 1e6) / 1e6) < 1e-9, s"decile $k gap")
    }
    assert(got(10L).getAs[Double]("cum_rev_share") == 1.0)
    assert(got(10L).getAs[Double]("cum_pop_share") == 1.0)
    assert(got(10L).getAs[Double]("equality_gap") == 0.0)
  }

  test("d84 BM25: only term-matching docs score; higher tf on rarer " +
      "terms outranks; scores strictly descend") {
    val dir = docsDir(Seq(
      (1L, "vector vector vector stream", "en", "s"),
      (2L, "vector table scan filter", "en", "s"),
      (3L, "table scan merge sort", "en", "s"),
      (4L, "stream window window join", "en", "s")))
    val got = query("d84_bm25_topk").run(spark, dir).collect()
      .sortBy(_.getAs[Long]("rank"))
    // doc 3 has no query term: absent, not zero-scored
    assert(got.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 4L))
    // idf(window) = ln(10/3) with df=1 vs idf(vector) = ln 2 with df=2:
    // doc 4's double hit on the RARE term (2.35) outranks doc 1's
    // triple hit on the common one (1.78) — the idf weighting at work.
    assert(got.head.getAs[Long]("doc_id") == 4L,
      "2x the df=1 term must outrank 3x a df=2 term")
    assert(got(1).getAs[Long]("doc_id") == 1L)
    val scores = got.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a > b })
  }

  test("d85 readability: hand-counted FK components on a two-sentence " +
      "doc; empty text yields NULL grade") {
    val dir = docsDir(Seq(
      (1L, "The cat sat. The dog ran!", "en", "s"),
      (2L, "", "en", "s")))
    val got = query("d85_readability").run(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r = got(1L)
    assert(r.getAs[Long]("n_words") == 6L)
    assert(r.getAs[Long]("n_sentences") == 2L)
    assert(r.getAs[Long]("n_syllables") == 6L)
    // 0.39*(6/2) + 11.8*(6/6) - 15.59 = -2.62
    assert(math.abs(r.getAs[Double]("fk_grade") - (-2.62)) < 1e-9)
    assert(r.getAs[Long]("band") == 0L)
    assert(got(2L).isNullAt(got(2L).fieldIndex("fk_grade")))
    assert(got(2L).isNullAt(got(2L).fieldIndex("band")))
  }

  test("e35 cell quality: identical vectors all elect cell 0 with " +
      "cosine 1 and zero margin") {
    val got = query("e35_ivf_cell_quality").run(spark, onesEmbDir(100))
      .collect()
    assert(got.length == 1)
    assert(got.head.getAs[Long]("cell") == 0L)
    assert(got.head.getAs[Long]("n_vectors") == 100L)
    assert(got.head.getAs[Double]("share") == 1.0)
    assert(got.head.getAs[Double]("mean_cos") == 1.0)
    assert(got.head.getAs[Double]("mean_margin") == 0.0)
  }

  test("e36 range search: identical vectors put every candidate in " +
      "range at cosine exactly 1") {
    val got = query("e36_range_search").run(spark, onesEmbDir(100))
      .collect()
    assert(got.length == 5) // probes 0,20,40,60,80
    got.foreach { r =>
      assert(r.getAs[Long]("n_candidates") == 99L)
      assert(r.getAs[Long]("n_in_range") == 99L)
      assert(r.getAs[Double]("in_range_frac") == 1.0)
      assert(r.getAs[Double]("mean_cos") == 1.0)
      assert(r.getAs[Double]("max_cos") == 1.0)
    }
  }

  test("e37 RRF: all-ties arms rank by id; the fused top-10 is ids 1-10 " +
      "and the probe-only doc 0 stays below dual-list docs") {
    // 60 identical docs+vectors: lexical scores tie -> lex rank = id+1
    // order (ids 0-49); vector ranks = ids 1-50 (probe 0 excluded).
    // Every dual-list doc beats doc 0's single 1/61 term.
    val dir = docsDir((0 until 60).map(i =>
      (i.toLong, "vector stream window", "en", "s")))
    onesEmbDir(60, Some(dir))
    val got = query("e37_rrf_hybrid").run(spark, dir).collect()
      .sortBy(_.getAs[Long]("rank"))
    assert(got.length == 10)
    assert(got.map(_.getAs[Long]("doc_id")).toSeq == (1L to 10L).toSeq)
    val top = got.head
    assert(top.getAs[Long]("lex_rank") == 2L) // doc 0 holds lex rank 1
    assert(top.getAs[Long]("vec_rank") == 1L)
    val scores = got.map(_.getAs[Double]("rrf_score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a > b })
  }

  test("q65 priority-mix drift: a stable mix reads PSI = 0 exactly; an " +
      "enum flip fires a positive PSI in the flipped month") {
    // Months 0-1: priorities A,B at 2/2 each (identical mix -> every
    // smoothed p equals its lag q -> all terms ln(1)=0 -> PSI 0).
    // Month 2: all four orders land on A (the enum-flip event).
    def m(off: Int) = off * 31 // keep each group inside its own month
    val dir = ordersDir(Seq(
      (1L, 1L, 100.0, m(0)), (2L, 1L, 100.0, m(0)),
      (3L, 1L, 100.0, m(0)), (4L, 1L, 100.0, m(0)),
      (5L, 1L, 100.0, m(1)), (6L, 1L, 100.0, m(1)),
      (7L, 1L, 100.0, m(1)), (8L, 1L, 100.0, m(1)),
      (9L, 1L, 100.0, m(2)), (10L, 1L, 100.0, m(2)),
      (11L, 1L, 100.0, m(2)), (12L, 1L, 100.0, m(2))))
    // the ordersDir helper writes one fixed priority, so flip half of
    // month 0/1 rows to a second priority by rewriting the column
    val df = spark.read.parquet(s"$dir/orders.parquet")
    import org.apache.spark.sql.functions._
    df.withColumn("o_orderpriority",
        when(col("o_orderkey").isin(1L, 2L, 5L, 6L), lit("2-HIGH"))
          .otherwise(col("o_orderpriority")))
      .write.mode("overwrite").parquet(s"$dir/orders2.parquet")
    val dir2 = java.nio.file.Files.createTempDirectory("graft-r19q65")
      .toString
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$dir/orders2.parquet"),
      java.nio.file.Paths.get(s"$dir2/orders.parquet"))
    val got = query("q65_priority_mix_drift").run(spark, dir2).collect()
      .sortBy(_.getAs[Long]("month_idx"))
    assert(got.length == 2) // months 1 and 2 (month 0 has no prior)
    assert(got.head.getAs[Double]("psi") == 0.0)
    assert(got.head.getAs[Double]("max_share_shift") == 0.0)
    assert(got.last.getAs[Double]("psi") > 0.0)
    assert(got.last.getAs[Double]("max_share_shift") > 0.0)
  }

  test("d86 char-bigram entropy: a single repeated bigram reads H = 0 " +
      "(alphabet 1); a uniform pair mix reads H = ln 2") {
    val dir = docsDir(Seq(
      (1L, "aaaaa", "en", "s"),   // bigrams: aa x4 -> H = 0
      (2L, "ababa", "en", "s"),   // ab x2, ba x2 -> H = ln 2
      (3L, "x", "en", "s")))      // no bigram -> zero counts, NULL H
    val got = query("d86_char_bigram_entropy").run(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("n_bigrams") == 4L)
    assert(got(1L).getAs[Long]("n_distinct") == 1L)
    assert(got(1L).getAs[Double]("entropy") == 0.0)
    assert(got(1L).getAs[Double]("eff_alphabet") == 1.0)
    assert(got(2L).getAs[Long]("n_bigrams") == 4L)
    assert(got(2L).getAs[Long]("n_distinct") == 2L)
    assert(math.abs(got(2L).getAs[Double]("entropy") - math.log(2.0))
      < 1e-5)
    assert(math.abs(got(2L).getAs[Double]("eff_alphabet") - 2.0) < 1e-4)
    assert(got(3L).getAs[Long]("n_bigrams") == 0L)
    assert(got(3L).isNullAt(got(3L).fieldIndex("entropy")))
  }

  test("e38 probe cost model: identical vectors put the whole corpus in " +
      "cell 0 — nprobe 1 already scans 100%") {
    val got = query("e38_probe_cost_model").run(spark, onesEmbDir(100))
      .collect().sortBy(_.getAs[Long]("nprobe"))
    assert(got.map(_.getAs[Long]("nprobe")).toSeq == Seq(1L, 2L, 4L, 8L))
    assert(got.head.getAs[Long]("marginal_cell") == 0L)
    assert(got.head.getAs[Long]("n_candidates") == 100L)
    assert(got.head.getAs[Double]("corpus_share") == 1.0)
    // the remaining cells are empty: cumulative count stays flat
    assert(got.forall(_.getAs[Long]("n_candidates") == 100L))
    assert(got.last.getAs[Double]("corpus_share") == 1.0)
  }

  test("m18 keyframes: one keyframe per shot, keyframes are shot-length " +
      "strides, and shots partition the frame grid") {
    val got = query("m18_keyframe_select").run(spark, sfDir).collect()
    assert(got.nonEmpty)
    val byMedia = got.groupBy(_.getAs[Long]("media_id"))
    byMedia.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("shot_idx"))
      // shot indices are 1..k dense
      assert(sorted.map(_.getAs[Long]("shot_idx")).toSeq ==
        (1L to sorted.length.toLong).toSeq)
      // each shot's keyframe = previous keyframe + previous shot length
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("keyframe_fi") ==
            a.getAs[Long]("keyframe_fi") + a.getAs[Long]("shot_frames"))
        case _ => ()
      }
      assert(sorted.head.getAs[Long]("keyframe_fi") == 0L)
    }
  }

  test("q66 revenue bridge: hand-built new/expansion/contraction/churn " +
      "ledger, and the buckets sum exactly to the MoM delta") {
    // month 0: c1 = 100, c2 = 50.   month 1: c1 = 160 (expansion +60),
    // c3 = 30 (new), c2 absent (churn -50). delta = 190 - 150 = 40.
    def m(off: Int) = off * 31
    val dir = ordersDir(Seq(
      (1L, 1L, 100.0, m(0)), (2L, 2L, 50.0, m(0)),
      (3L, 1L, 160.0, m(1)), (4L, 3L, 30.0, m(1))))
    val got = query("q66_revenue_bridge").run(spark, dir).collect()
      .map(r => r.getAs[Long]("month_idx") -> r).toMap
    val m1 = got.keys.min // the first active month
    val r1 = got(m1 + 1)
    assert(r1.getAs[Double]("total_rev") == 190.0)
    assert(r1.getAs[Double]("new_rev") == 30.0)
    assert(r1.getAs[Double]("expansion_rev") == 60.0)
    assert(r1.getAs[Double]("contraction_rev") == 0.0)
    assert(r1.getAs[Double]("churned_rev") == -50.0)
    assert(r1.getAs[Double]("mom_delta") == 40.0)
    assert(r1.getAs[Long]("n_new") == 1L)
    assert(r1.getAs[Long]("n_churned") == 1L)
    // month 0 is all-new; the trailing month (m1+2) is all-churn
    assert(got(m1).getAs[Double]("new_rev") == 150.0)
    assert(got(m1 + 2).getAs[Double]("churned_rev") == -190.0)
    assert(got(m1 + 2).getAs[Double]("total_rev") == 0.0)
    // the bridge identity holds on every month
    got.values.foreach { r =>
      assert(r.getAs[Double]("mom_delta") ==
        r.getAs[Double]("new_rev") + r.getAs[Double]("expansion_rev")
          + r.getAs[Double]("contraction_rev")
          + r.getAs[Double]("churned_rev"))
    }
  }

  test("q67 ABC classes: an 80/15/5 revenue split lands each customer " +
      "in its textbook class") {
    // spends 800, 150, 50: cum shares 0.8 (A), 0.95 (B), 1.0 (C).
    val dir = ordersDir(Seq(
      (1L, 1L, 800.0, 0), (2L, 2L, 150.0, 0), (3L, 3L, 50.0, 0)))
    val got = query("q67_abc_classes").run(spark, dir).collect()
      .map(r => r.getAs[String]("abc_class") -> r).toMap
    assert(got.keySet == Set("A", "B", "C"))
    assert(got("A").getAs[Long]("n_customers") == 1L)
    assert(got("A").getAs[Double]("class_rev") == 800.0)
    assert(got("A").getAs[Double]("rev_share") == 0.8)
    assert(got("B").getAs[Double]("rev_share") == 0.15)
    assert(got("C").getAs[Double]("rev_share") == 0.05)
    // three 6-dp-rounded thirds sum to 0.999999, not 1.0
    assert(math.abs(
      got.values.map(_.getAs[Double]("customer_share")).sum - 1.0) < 1e-5)
  }

  test("d87 max token run: hand-built runs, length ties break to the " +
      "larger token, empty text degrades to zero counts") {
    val dir = docsDir(Seq(
      (1L, "a a a b a a", "en", "s"),  // runs a3, b1, a2
      (2L, "x x y y", "en", "s"),      // tie at 2 -> tok DESC -> y
      (3L, "", "en", "s")))
    val got = query("d87_max_token_run").run(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r1 = got(1L)
    assert(r1.getAs[Long]("n_tokens") == 6L)
    assert(r1.getAs[Long]("max_run_len") == 3L)
    assert(r1.getAs[String]("run_token") == "a")
    assert(r1.getAs[Long]("run_start") == 1L)
    assert(r1.getAs[Double]("run_frac") == 0.5)
    val r2 = got(2L)
    assert(r2.getAs[Long]("max_run_len") == 2L)
    assert(r2.getAs[String]("run_token") == "y",
      "length tie must break to the larger token in both engines")
    assert(r2.getAs[Long]("run_start") == 3L)
    assert(got(3L).getAs[Long]("n_tokens") == 0L)
    assert(got(3L).isNullAt(got(3L).fieldIndex("max_run_len")))
  }

  test("d88 metadata consistency: a planted n_chars drift is counted " +
      "and bounded; nulls report separately") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft-r19d88")
      .toString
    val schema = Tables.documents(spark, sfDir).schema
    spark.createDataFrame(Seq(
        Row(1L, "hello", "en", "s1", 5L),    // consistent
        Row(2L, "hello", "en", "s1", 9L),    // drift +4
        Row(3L, null, "en", "s1", 7L),       // null text
        Row(4L, "ab", "en", "s2", 2L)        // consistent
      ).asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = query("d88_metadata_consistency").run(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val s1 = got("s1")
    assert(s1.getAs[Long]("n_docs") == 3L)
    assert(s1.getAs[Long]("n_null_text") == 1L)
    assert(s1.getAs[Long]("n_mismatch") == 1L)
    assert(s1.getAs[Long]("max_abs_diff") == 4L)
    assert(math.abs(s1.getAs[Double]("mismatch_rate") - 1.0 / 3) < 1e-5)
    assert(got("s2").getAs[Long]("n_mismatch") == 0L)
    assert(got("s2").getAs[Long]("max_abs_diff") == 0L)
  }

  test("q68 referential audit: planted childless orders, orphan lines, " +
      "and NULL keys all land in their own counters") {
    import scala.jdk.CollectionConverters._
    val dir = ordersDir(Seq(
      (1L, 1L, 100.0, 0), (2L, 1L, 100.0, 0))) // order 2 childless
    val ls = Tables.lineitem(spark, sfDir).schema
    def line(ok: java.lang.Long, ln: Int) =
      Row(ok, 1L, 1L, ln, 1.0, 10.0, 0.0, 0.0, "N", "O",
        ls("l_shipdate").dataType match {
          case org.apache.spark.sql.types.TimestampNTZType =>
            java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
          case _ => java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
        })
    spark.createDataFrame(Seq(
        line(1L, 1), line(1L, 2),  // matched
        line(9L, 1),               // orphan (no order 9)
        line(null, 1)              // null-key line
      ).asJava, ls)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = query("q68_referential_audit").run(spark, dir).collect().head
    assert(r.getAs[Long]("n_orders") == 2L)
    assert(r.getAs[Long]("n_lineitems") == 4L)
    assert(r.getAs[Long]("n_childless_orders") == 1L)
    assert(r.getAs[Long]("n_orphan_lines") == 2L,
      "the orphan and the null-key line both lack a parent")
    assert(r.getAs[Long]("n_orphan_orderkeys") == 2L)
    assert(r.getAs[Long]("n_null_key_lines") == 1L)
    assert(r.getAs[Long]("n_null_key_orders") == 0L)
    assert(r.getAs[Double]("childless_rate") == 0.5)
    assert(r.getAs[Double]("orphan_rate") == 0.5)
  }

  test("d90/d91: planted exact duplicates land one jaccard-1 pair in " +
      "the top bin and a size-2 cluster with a 2/3 dup share") {
    val txt = "alpha beta gamma delta epsilon zeta"
    val dir = docsDir(Seq(
      (1L, txt, "en", "s"), (2L, txt, "en", "s"),
      (3L, "one two three four five six", "en", "s")))
    val pairs = query("d90_pair_jaccard_histogram").run(spark, dir)
      .collect().map(r => r.getAs[Long]("bin") -> r).toMap
    assert(pairs.keySet == Set(19L), "only the duplicate pair exists")
    assert(pairs(19L).getAs[Long]("n_pairs") == 1L)
    assert(pairs(19L).getAs[Double]("mean_jaccard") == 1.0)
    assert(pairs(19L).getAs[Double]("share") == 1.0)
    val sizes = query("d91_dup_cluster_sizes").run(spark, dir)
      .collect().map(r => r.getAs[Long]("size_log2") -> r).toMap
    assert(sizes.keySet == Set(0L, 1L))
    assert(sizes(0L).getAs[Long]("n_clusters") == 1L) // the singleton
    assert(sizes(1L).getAs[Long]("n_clusters") == 1L) // the pair
    assert(sizes(1L).getAs[Long]("n_docs") == 2L)
    assert(sizes(0L).getAs[Double]("dup_doc_share") == 0.666667)
  }

  test("m19 reconciles with m18: the analytic shot count equals the " +
      "materialized keyframe count per video") {
    // m19 derives n_shots analytically (ceil(n_frames/shot_len), the
    // m11 identity); m18 materializes the keyframes. They must agree
    // per media — the m07<->m14 reconciliation pattern.
    val fromM18 = query("m18_keyframe_select").run(spark, sfDir)
      .groupBy("media_id").count().collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("count")).toMap
    val fromM19 = query("m19_sampling_savings").run(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("n_shots"))
      .toMap
    assert(fromM18 == fromM19,
      "analytic shot counts diverge from materialized keyframes")
    // one shared corpus scalar on every row
    val ratios = query("m19_sampling_savings").run(spark, sfDir)
      .collect().map(_.getAs[Double]("corpus_decode_ratio")).toSet
    assert(ratios.size == 1)
  }

  /** d86's former explode form, verbatim: one row per char bigram →
    * (doc, bigram) counts → per-doc window totals → entropy fold, joined
    * back onto every doc. The reference the CharBigramStats kernel (d86's
    * and d89's production path) must reproduce bit-for-bit. */
  private def explodeFormBigramEntropy(dir: String): DataFrame = {
    val bg = Tables.documents(spark, dir)
      .withColumn("cs", expr("filter(split(text, ''), x -> x <> '')"))
      .filter(size(col("cs")) >= 2)
      .select(col("doc_id"), explode(expr(
        """zip_with(slice(cs, 1, size(cs) - 1),
             slice(cs, 2, size(cs) - 1), (x, y) -> concat(x, y))"""))
        .as("bg"))
    val wd = Window.partitionBy(col("doc_id"))
    val perDoc = bg.groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(wd))
      .withColumn("k", count(lit(1)).over(wd))
      .select(col("doc_id"), col("n"), col("k"),
        (col("c") * round(log(col("c").cast("double")
          / col("n").cast("double")), 6).cast("decimal(18,6)"))
          .as("w"))
      .groupBy(col("doc_id"))
      .agg((-(sum(col("w")).cast("double"))
        / first(col("n")).cast("double")).as("h"),
        first(col("n")).as("n_bigrams"),
        first(col("k")).as("n_distinct"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        round(col("h"), 6).as("entropy"),
        round(exp(col("h")), 6).as("eff_alphabet"))
  }

  /** The degenerate shapes the fixture lacks — including an ASTRAL
    * (non-BMP) char, where split('') yields code points and a UTF-16-unit
    * iteration would cut the surrogate pair in half. */
  private lazy val bigramEdgeDir: String =
    docsDir(Seq((1L, "aaaa", "en", "s"), (2L, "", "en", "s"),
      (3L, null, "en", "s"), (4L, "xy", "en", "s"),
      (5L, "a𝄞b", "en", "s"), // a 𝄞 b: bigrams a𝄞, 𝄞b
      (6L, "𝄞", "en", "s"), // lone astral char: no bigram
      (7L, "a", "en", "s")))

  private def sameFrame(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("d89 native bigram entropy equals the oracle-pinned d86 frame " +
      "bit-for-bit on the fixture corpus") {
    // The kernel d86 and d89 both run must reproduce the explode form's
    // EXACT doubles (same BigDecimal round/cast pipeline), not
    // approximately.
    val ref = explodeFormBigramEntropy(sfDir)
    val d86 = query("d86_char_bigram_entropy").run(spark, sfDir)
    val d89 = query("d89_bigram_entropy_native").run(spark, sfDir)
    assert(sameFrame(d86, ref),
      "kernel and explode-form bigram entropy frames diverge")
    assert(sameFrame(d89, d86), "d89 and d86 frames diverge")
    // and on the degenerate shapes the fixture lacks
    val dir = bigramEdgeDir
    val a = explodeFormBigramEntropy(dir)
    val b = query("d89_bigram_entropy_native").run(spark, dir)
    assert(sameFrame(a, b))
    assert(sameFrame(query("d86_char_bigram_entropy").run(spark, dir), b))
    val r5 = b.filter(col("doc_id") === 5L).collect().head
    assert(r5.getAs[Long]("n_bigrams") == 2L,
      "astral char must count as one code point")
    val r6 = b.filter(col("doc_id") === 6L).collect().head
    assert(r6.getAs[Long]("n_bigrams") == 0L)
  }

  test("CharBigramStats: interpreted eval and generated code both equal " +
      "the explode-form reference (d86 with whole-stage codegen off)") {
    // d86's oracle checks the kernel's generated code; this pins its
    // interpreted `eval` too. With whole-stage codegen off the projection
    // is built per expression: NO_CODEGEN takes InterpretedUnsafeProjection
    // (CharBigramStats.eval), CODEGEN_ONLY the generated projection
    // (doGenCode). The references are collected under the default
    // settings first, so only d86 runs under each mode.
    val dirs = Seq(sfDir, bigramEdgeDir)
    val refs = dirs.map { dir =>
      val ref = explodeFormBigramEntropy(dir)
      spark.createDataFrame(ref.collect().toSeq.asJava, ref.schema)
    }
    val conf = spark.conf
    val saved = Seq("spark.sql.codegen.wholeStage",
      "spark.sql.codegen.factoryMode").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.codegen.wholeStage", "false")
      for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY");
           (dir, ref) <- dirs.zip(refs)) {
        conf.set("spark.sql.codegen.factoryMode", mode)
        val got = query("d86_char_bigram_entropy").run(spark, dir)
        assert(sameFrame(got, ref), s"$mode on $dir diverges")
      }
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("q69 Mann-Whitney U: a separated ledger reaches the maximal U; " +
      "cross-group ties take midranks") {
    // 2024-01-01 is a Monday; epoch-dow Sat/Sun land at offsets 5, 6.
    // Weekdays 100..103 all below weekend 200/201: U = n1*n2 = 8,
    // z = 4 / sqrt(2*4*7/12) = 1.851640.
    val dir = ordersDir(Seq(
      (1L, 1L, 100.0, 0), (2L, 1L, 101.0, 1), (3L, 1L, 102.0, 2),
      (4L, 1L, 103.0, 3), (5L, 1L, 200.0, 5), (6L, 1L, 201.0, 6)))
    val r = query("q69_weekend_effect_u").run(spark, dir).collect().head
    assert(r.getAs[Long]("n_weekend") == 2L)
    assert(r.getAs[Long]("n_weekday") == 4L)
    assert(r.getAs[Double]("u_stat") == 8.0)
    assert(r.getAs[Double]("z") == 1.85164)
    // add a Friday that TIES a weekend value: the two 200s share
    // midrank 5.5, so R1 = 5.5 + 7 = 12.5 and U = 9.5
    val dir2 = ordersDir(Seq(
      (1L, 1L, 100.0, 0), (2L, 1L, 101.0, 1), (3L, 1L, 102.0, 2),
      (4L, 1L, 103.0, 3), (7L, 1L, 200.0, 4),
      (5L, 1L, 200.0, 5), (6L, 1L, 201.0, 6)))
    val r2 = query("q69_weekend_effect_u").run(spark, dir2).collect().head
    assert(r2.getAs[Double]("u_stat") == 9.5)
    val zExpect = (9.5 - 5.0) / math.sqrt(2.0 * 5.0 * 8.0 / 12.0)
    assert(math.abs(r2.getAs[Double]("z") - zExpect) < 1e-6)
  }

  test("fixture laws: Lorenz convexity, ACF bounds, burstiness range, " +
      "histogram-bin containment, ABC partition") {
    // Mathematical invariants that must hold on ANY corpus — asserted
    // on the fixture (the constructed-ledger tests pin exact values).
    val lorenz = query("q64_lorenz_deciles").run(spark, sfDir).collect()
      .sortBy(_.getAs[Long]("decile"))
    val shares = lorenz.map(_.getAs[Double]("rev_share"))
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b + 1e-6 },
      "ascending-spend deciles must have non-decreasing revenue shares")
    assert(lorenz.forall(_.getAs[Double]("equality_gap") >= -1e-6),
      "the Lorenz curve sits on or below the diagonal")
    val acf = query("q62_daily_acf").run(spark, sfDir).collect()
      .map(r => r.getAs[Long]("lag_d") -> r.getAs[Double]("acf")).toMap
    assert(acf(0L) == 1.0)
    assert(acf.values.forall(v => math.abs(v) <= 1.0 + 1e-6))
    val burst = query("q63_gap_burstiness").run(spark, sfDir).collect()
    assert(burst.forall { r =>
      val b = r.getAs[Double]("mean_b"); b >= -1.0 && b <= 1.0
    })
    assert(math.abs(burst.map(_.getAs[Double]("share")).sum - 1.0) < 1e-4)
    val jh = query("d90_pair_jaccard_histogram").run(spark, sfDir)
      .collect()
    assert(jh.forall { r =>
      val bin = r.getAs[Long]("bin"); val m = r.getAs[Double]("mean_jaccard")
      bin >= 0 && bin <= 19 && m >= bin / 20.0 - 1e-6 &&
        (bin == 19 || m < (bin + 1) / 20.0 + 1e-6)
    }, "bin means must sit inside their bins")
    val abc = query("q67_abc_classes").run(spark, sfDir).collect()
    assert(abc.map(_.getAs[String]("abc_class")).toSet
      .subsetOf(Set("A", "B", "C")))
    assert(math.abs(abc.map(_.getAs[Double]("rev_share")).sum - 1.0)
      < 1e-4)
  }

  test("m16 resolution audit: shares sum to 1 within each kind and the " +
      "dimension envelope matches the decode stub domain") {
    val got = query("m16_resolution_audit").run(spark, sfDir).collect()
    assert(got.nonEmpty)
    val byKind = got.groupBy(_.getAs[String]("kind"))
    assert(byKind.keySet.subsetOf(Set("image", "audio", "video")))
    byKind.foreach { case (k, rows) =>
      val shares = rows.map(_.getAs[Double]("kind_share")).sum
      assert(math.abs(shares - 1.0) < 1e-4, s"$k shares sum")
    }
    got.foreach { r =>
      assert(r.getAs[Long]("min_width") >= 64L &&
        r.getAs[Long]("max_width") <= 127L)
      val mp = r.getAs[Double]("mean_pixels")
      assert(mp >= 64.0 * 64.0 && mp <= 127.0 * 127.0)
    }
  }

  test("m17 loudness gain: gains live in (0, 4], the limiter flag fires " +
      "exactly at the cap, and mean energy is the chunk average") {
    val got = query("m17_loudness_gain").run(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val mean = r.getAs[Double]("mean_energy")
      assert(mean >= 0.0 && mean < 1.0)
      if (r.isNullAt(r.fieldIndex("gain"))) {
        // silent clip (every chunk's md5 energy byte was 0x00): no
        // defined gain, never flagged as limited
        assert(mean == 0.0)
        assert(r.getAs[Int]("limited") == 0)
      } else {
        val gain = r.getAs[Double]("gain")
        assert(gain > 0.0 && gain <= 4.0)
        assert((r.getAs[Int]("limited") == 1) == (gain == 4.0),
          "limited must mark exactly the capped clips")
        if (gain < 4.0)
          assert(math.abs(gain * mean - 0.5) < 1e-12,
            "uncapped gain must normalize to the 0.5 target exactly")
      }
    }
  }
}
