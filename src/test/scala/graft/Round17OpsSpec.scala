package graft

import org.apache.spark.sql.functions._

import graft.operators.VectorSearch
import graft.sources.Tables

/** Round-17 additions: the IVF-PQ composed index (e19/e20) and the
  * checkpoint-dir-aware barrier seam (Checkpoints.barrier). */
class Round17OpsSpec extends SparkSpec {
  import graft.functions.VectorFunctions._

  private def query(name: String) =
    graft.queries.GraftQuery.all.find(_.name == name)
      .getOrElse(sys.error(s"unknown query $name"))

  private def normalized = VectorSearch.normalized(
    Tables.validEmbeddings(spark, sfDir), "vec_id", "embedding")

  test("e19 IVF-PQ: mean recall@10 beats the scanned-fraction chance floor") {
    // Recall floor vs brute force, framed to survive the fixture: these
    // embeddings are weak-structure draws (the exact top-1 cosine from
    // probe 0 is only 0.37 and ranks 4-20 sit within ~0.01 of each
    // other), so ABSOLUTE recall of any compressed index is noise-bound
    // — the meaningful pin is recall relative to CHANCE. An index with
    // broken cells or garbage codes degenerates to a random nprobe/cells
    // sample of the corpus (recall ≈ scan fraction ≈ 0.087 here);
    // measured mean recall over 25 probes is 0.232 ≈ 2.7× chance. Floor
    // at 1.5× chance: a quietly-broken residual, swapped codebook axis,
    // or dead table lookup lands at ~1.0×, while the deterministic
    // pipeline cannot jitter at all.
    val base = normalized
    val n = base.count()
    val cells = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
    val nprobe = math.max(2, cells / 8)
    val (cents, books, index) = VectorSearch.ivfPqIndex(
      base, "vec_id", "emb", cells, m = 8, k = 16)
    val probeIds = base.select(col("vec_id")).collect()
      .map(_.getLong(0)).filter(_ % 20 == 0).take(25)
    val recalls = probeIds.map { pid =>
      val pv = base.filter(col("vec_id") === pid)
        .select(col("emb")).head().getSeq[Double](0)
      val truth = VectorSearch.bruteTopK(
          Tables.validEmbeddings(spark, sfDir), "vec_id", "embedding",
          pid, 10)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      val ann = VectorSearch.ivfPqTopK(index, cents, books, pv, "vec_id",
          k = 10, nprobe = nprobe, excludeId = pid)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      ann.intersect(truth).size / 10.0
    }
    val mean = recalls.sum / recalls.length
    val chance = nprobe.toDouble / cells
    assert(mean >= 1.5 * chance,
      s"IVF-PQ mean recall@10 = $mean under 1.5x chance ($chance)")
  }

  test("table-lookup ADC equals the q·(centroid+recon) fold within 1e-9") {
    // e19 scores with the PQ paper's per-subspace lookup tables; e20 pins
    // the fold form cross-engine. The two differ only in summation ORDER,
    // so they must agree to float round-off on every vector — this is the
    // identity that lets e20's DuckDB hash-match vouch for e19's kernel.
    val base = normalized
    val (cents, books, index) = VectorSearch.ivfPqIndex(
      base, "vec_id", "emb", kCells = 8, m = 8, k = 16)
    val probe = base.filter(col("vec_id") === 0L)
      .select(col("emb")).head().getSeq[Double](0)
    val qDotCell = element_at(
      typedlit(cents.map(c => VectorSearch.dotLocal(probe, c))),
      col("cell") + 1)
    val maxDiff = index
      .select(abs(
        (qDotCell + VectorSearch.adcScore(col("codes"), books, probe)) -
          dot(typedlit(probe),
            zip_with(element_at(typedlit(cents), col("cell") + 1),
              VectorSearch.pqReconstruct(col("codes"), books),
              (c, r) => c + r))).as("d"))
      .agg(max(col("d"))).head().getDouble(0)
    assert(maxDiff < 1e-9, s"ADC forms diverge by $maxDiff")
  }

  test("e19 index stores only (id, cell, codes) — no raw vectors") {
    // The 100 TB property the composition exists for: after the build,
    // query-time plans read ~1+m bytes of state per vector. The schema is
    // the contract.
    val (_, _, index) = VectorSearch.ivfPqIndex(
      normalized, "vec_id", "emb", kCells = 8, m = 8, k = 16)
    assert(index.columns.toSeq == Seq("vec_id", "cell", "codes"))
    assert(index.schema("codes").dataType.simpleString == "array<int>")
  }

  test("refine tier: exact rerank never loses recall vs plain ADC") {
    // The IndexRefineFlat guarantee, testable exactly: the rerank's
    // candidate set CONTAINS the ADC top-10, and a true top-10 neighbor
    // can be out-ranked by at most 9 other vectors globally — so every
    // truth hit in the candidate set survives the exact rerank. Rerank
    // recall is therefore >= plain-ADC recall per probe, not just on
    // average; measured on the fixture it is strictly higher in
    // aggregate (the codes permute near neighbors, the exact pass
    // restores them).
    val base = normalized
    val n = base.count()
    val cells = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
    val nprobe = math.max(2, cells / 8)
    val (cents, books, index) = VectorSearch.ivfPqIndex(
      base, "vec_id", "emb", cells, m = 8, k = 16)
    val probeIds = base.select(col("vec_id")).collect()
      .map(_.getLong(0)).filter(_ % 20 == 0).take(15)
    val perProbe = probeIds.map { pid =>
      val pv = base.filter(col("vec_id") === pid)
        .select(col("emb")).head().getSeq[Double](0)
      val truth = VectorSearch.bruteTopK(
          Tables.validEmbeddings(spark, sfDir), "vec_id", "embedding",
          pid, 10)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      val adc = VectorSearch.ivfPqTopK(index, cents, books, pv, "vec_id",
          k = 10, nprobe = nprobe, excludeId = pid)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      val rerank = VectorSearch.ivfPqRerankTopK(index, base, cents, books,
          pv, "vec_id", "emb", k = 10, nprobe = nprobe, candidates = 30,
          excludeId = pid)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      (adc.intersect(truth).size, rerank.intersect(truth).size)
    }
    perProbe.zip(probeIds).foreach { case ((a, r), pid) =>
      assert(r >= a, s"probe $pid: rerank recall $r < ADC recall $a")
    }
    val (adcSum, rerankSum) = perProbe.unzip match {
      case (as, rs) => (as.sum, rs.sum)
    }
    assert(rerankSum > adcSum,
      s"rerank should recover recall in aggregate (adc=$adcSum rerank=$rerankSum)")
  }

  test("d52 capstone is bit-identical under a reliable checkpoint dir") {
    // The Checkpoints.barrier seam: with sc.setCheckpointDir configured
    // (the cluster form) the gated frame becomes a reliable checkpoint;
    // results must not move. Mutates shared SparkContext state — safe
    // only because suites run sequentially (the CC spec's precedent).
    val q = query("d52_neardup_capstone")
    val local = GoldenHash.resultHash(q.run(spark, sfDir))
    val dir = java.nio.file.Files.createTempDirectory("graft-cp-seam")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val reliable = GoldenHash.resultHash(q.run(spark, sfDir))
      assert(reliable == local,
        s"reliable-checkpoint run drifted: $local -> $reliable")
      // and the reliable flavor actually engaged (files were written)
      val wrote = java.nio.file.Files.walk(dir).count()
      assert(wrote > 1, "no reliable-checkpoint files were written")
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("q43 sessions partition each user's events and agree with q18") {
    // Internal-consistency pin between the two sessionization forms: the
    // materialized session table (q43), re-aggregated per user, must
    // reproduce q18's (sessions, n_events) exactly — same gap rule, same
    // ordering, independent lineages.
    val q43 = query("q43_session_stats").run(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("s43"), sum(col("n_events")).as("e43"))
    val q18 = query("q18_events_sessions").run(spark, sfDir)
    val bad = q18.join(q43, Seq("user_id"), "full")
      .filter(col("sessions") =!= col("s43") ||
        col("n_events") =!= col("e43") ||
        col("sessions").isNull || col("s43").isNull)
      .count()
    assert(bad == 0L, s"$bad users disagree between q43 and q18")
    // and session durations are sane: non-negative, start within the
    // session by construction
    val negDur = query("q43_session_stats").run(spark, sfDir)
      .filter(col("duration_ns") < 0).count()
    assert(negDur == 0L)
  }

  test("q44 gap-fill: dense per-type calendar, ffill equals the last " +
      "non-null day, totals conserved") {
    val out = query("q44_daily_gapfill").run(spark, sfDir).cache()
    try {
      // dense spine: per type, rows == max_day - min_day + 1, no dup days
      val span = out.groupBy(col("event_type"))
        .agg(count(lit(1)).as("rows"),
          (max(col("day_int")) - min(col("day_int")) + 1).as("expect"),
          countDistinct(col("day_int")).as("days"))
        .filter(col("rows") =!= col("expect") || col("days") =!= col("rows"))
      assert(span.count() == 0L, "spine is not a dense calendar")
      // conservation: gap rows add no events
      val total = out.agg(sum(col("n_events"))).head().getLong(0)
      val raw = Tables.events(spark, sfDir).count()
      assert(total == raw, s"gap-fill changed the event total: $raw -> $total")
      // ffill semantics: recompute with a window over the output itself
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("day_int"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      val drift = out
        .withColumn("expect", last(col("day_rev"), ignoreNulls = true).over(w))
        .filter(!(col("ffill_rev") <=> col("expect"))).count()
      assert(drift == 0L, s"$drift rows: ffill_rev != last non-null day_rev")
    } finally { out.unpersist(); () }
  }

  test("d62 recovers the exponent of a constructed Zipfian corpus") {
    // Semantic anchor independent of the fixtures (whose synthetic
    // uniform vocab is CORRECTLY reported as non-Zipfian: alpha ~0.18,
    // R² ~0.06 at sf0.01): build a corpus whose term frequencies are
    // freq(r) = round(1200 / r) for rank r = 1..40 — an exact alpha = 1
    // power law up to rounding — and the fit must find it.
    import scala.jdk.CollectionConverters._
    val rows = (1 to 40).flatMap { r =>
      val freq = math.max(1, math.round(1200.0 / r).toInt)
      // term names ordered so frequency ties break identically either way
      Seq.fill(freq)(f"term$r%03d")
    }.grouped(50).zipWithIndex.map { case (ts, i) =>
      org.apache.spark.sql.Row(i.toLong, ts.mkString(" "), "en", "src1", 1L)
    }.toSeq
    val schema = Tables.documents(spark, sfDir).schema
    val dir = java.nio.file.Files.createTempDirectory("graft-zipf").toString
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = query("d62_zipf_fit").run(spark, dir).head()
    val (alpha, r2) = (got.getAs[Double]("alpha"), got.getAs[Double]("r_squared"))
    assert(math.abs(alpha - 1.0) < 0.05, s"alpha drifted: $alpha")
    assert(r2 > 0.99, s"power-law fit lost its R²: $r2")
    assert(got.getAs[Long]("n_terms") == 40L)
  }

  test("q45 CMS join-size estimate never underestimates (AMS guarantee)") {
    // CMS cells only ever ADD colliding keys, so the inner-product
    // estimate is exact + non-negative collision terms: est ≥ exact on
    // any input. (At width 64 over ~4k users the measured inflation is
    // ~2-3× — the deliberately-tiny-width visibility choice d54
    // documents; production sizes width = ⌈e/ε⌉.)
    val r = query("q45_join_size_cms").run(spark, sfDir).head()
    val (est, exact) = (r.getAs[Double]("est_pairs"),
      r.getAs[Double]("exact_pairs"))
    assert(est >= exact, s"CMS join-size underestimated: $est < $exact")
    assert(exact > 0.0, "fixture should have same-user view/purchase pairs")
  }

  test("d63 source-dup matrix on a constructed three-source corpus") {
    // The sf0.01 fixtures contain no cross-source exact duplicates (the
    // driver gate pins d63's empty output there; sf0.1 has 8 pairs), so
    // the matrix math is anchored on a constructed corpus: sources A/B
    // share 2 docs, A/C and B/C share 1 ("shared one" is in all three);
    // A holds 4 distinct fingerprints, B 3, C 2.
    import scala.jdk.CollectionConverters._
    val docs = Seq(
      ("srcA", Seq("shared one", "shared two", "only a1", "only a2")),
      ("srcB", Seq("shared one", "shared two", "only b1")),
      ("srcC", Seq("shared one", "only c1"))
    ).flatMap { case (src, texts) => texts.map(src -> _) }
      .zipWithIndex.map { case ((src, t), i) =>
        org.apache.spark.sql.Row(i.toLong, t, "en", src, t.length.toLong)
      }
    val dir = java.nio.file.Files.createTempDirectory("graft-dupmx").toString
    spark.createDataFrame(docs.asJava,
        Tables.documents(spark, sfDir).schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = query("d63_source_dup_matrix").run(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getAs[Double]("jaccard"),
          r.getAs[Double]("containment"))).toMap
    assert(got.keySet == Set(("srcA", "srcB"), ("srcA", "srcC"),
      ("srcB", "srcC")))
    val (nAB, jAB, cAB) = got(("srcA", "srcB"))
    assert(nAB == 2L && math.abs(jAB - 2.0 / 5.0) < 1e-6 &&
      math.abs(cAB - 2.0 / 3.0) < 1e-6)
    val (nAC, jAC, cAC) = got(("srcA", "srcC"))
    assert(nAC == 1L && math.abs(jAC - 1.0 / 5.0) < 1e-6 &&
      math.abs(cAC - 1.0 / 2.0) < 1e-6)
    val (nBC, jBC, cBC) = got(("srcB", "srcC"))
    assert(nBC == 1L && math.abs(jBC - 1.0 / 4.0) < 1e-6 &&
      math.abs(cBC - 1.0 / 2.0) < 1e-6)
  }

  test("e23 filtered-ANN output is internally consistent") {
    // Post-filter survivors are capped by the over-fetch (≤ 3 kept of
    // the top-12) and recall counts hits WITHIN the survivors:
    // recall·3 ≤ n_post, both integers. The fixture's many-class labels
    // make starvation visible (mean recall ~0.4 at sf0.01) — that
    // spread, not a high score, is the operator's point.
    val rows = query("e23_filtered_ann").run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (np, rec) = (r.getAs[Long]("n_post"), r.getAs[Double]("recall_at_3"))
      assert(np >= 0L && np <= 3L, s"n_post out of range: $np")
      val hits = math.round(rec * 3.0)
      assert(math.abs(rec * 3.0 - hits) < 1e-9, s"non-integral hits: $rec")
      assert(hits <= np, s"more hits than survivors: $hits > $np")
    }
  }

  test("q46 attribution models conserve value and measurably diverge") {
    // Conservation: each attributed purchase credits its value exactly
    // once under first-touch and once under last-touch, so the two
    // totals are both equal to the total value of attributed purchases;
    // linear splits the same value 1/n-wise, so its total matches to
    // n_pairs × the 6-dp rounding quantum. Divergence: with the 7-day
    // lookback the fixtures have >1k multi-click purchases, so at least
    // one day must credit first and last differently — if every day
    // agrees, the rank logic degenerated.
    val rows = query("q46_attribution_models").run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    def tot(c: String) = rows.map(_.getAs[Double](c)).sum
    val (f, l, lin) = (tot("first_touch"), tot("last_touch"),
      tot("linear_touch"))
    val pairs = rows.map(_.getAs[Long]("n_pairs")).sum
    assert(math.abs(f - l) < 1e-6, s"first/last totals drifted: $f vs $l")
    assert(math.abs(lin - f) <= pairs * 5e-7 + 1e-6,
      s"linear total outside rounding envelope: $lin vs $f ($pairs pairs)")
    assert(rows.exists(r => math.abs(r.getAs[Double]("first_touch") -
      r.getAs[Double]("last_touch")) > 1e-9),
      "models never diverge — rank logic is degenerate")
  }

  test("e24 serpentine shard plan is balanced and conserves the corpus") {
    val rows = query("e24_shard_plan").run(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("shard")).sorted.toSeq == (0L to 7L),
      "all 8 shards must be assigned")
    val total = rows.map(_.getAs[Long]("load")).sum
    val corpus = Tables.validEmbeddings(spark, sfDir).count()
    assert(total == corpus, s"shard loads lost vectors: $total != $corpus")
    // serpentine near-balance: measured 0.96-1.07 at sf0.01; a broken
    // deal (e.g. plain modulo on sorted ranks) skews the first shard
    // toward the big buckets and lands well outside this band
    rows.foreach { r =>
      val b = r.getAs[Double]("balance")
      assert(b > 0.5 && b < 1.5,
        s"shard ${r.getAs[Long]("shard")} balance $b outside [0.5, 1.5]")
    }
    // bucket counts differ by at most one (the serpentine deal property)
    val nb = rows.map(_.getAs[Long]("n_buckets"))
    assert(nb.max - nb.min <= 1L, s"bucket deal uneven: ${nb.toSeq}")
  }

  test("d64 PSI is non-negative per bin and totals consistently") {
    // Every PSI term (p−q)·ln(p/q) is ≥ 0 (same sign both factors; the
    // 6-dp ln rounding can only drive a term to exactly 0, never flip
    // it), and the published total must equal the sum of the terms. The
    // fixture's two pseudo-snapshots come from the same generator, so
    // the corpus should read STABLE (< 0.1 — measured 0.066): a big PSI
    // here means the binning or share math broke, not the data.
    val rows = query("d64_quality_psi").run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val terms = rows.map(_.getAs[Double]("psi_term"))
    terms.foreach(t => assert(t >= 0.0, s"negative PSI term $t"))
    val total = rows.head.getAs[Double]("psi_total")
    assert(rows.forall(_.getAs[Double]("psi_total") == total))
    assert(math.abs(terms.sum - total) < 1e-9,
      s"psi_total $total != term sum ${terms.sum}")
    assert(total < 0.1, s"same-generator snapshots should be stable: $total")
    rows.foreach(r => assert((0L to 9L).contains(r.getAs[Long]("bin"))))
  }

  test("m10 shared-frame keys are cross-video and conserve counts") {
    val rows = query("m10_shared_frames").run(spark, sfDir).collect()
    assert(rows.nonEmpty, "fixture should yield 16-bit frame-key collisions")
    rows.foreach { r =>
      val (nv, nf) = (r.getAs[Long]("n_videos"), r.getAs[Long]("n_frames"))
      assert(nv >= 2L, "emitted key must span >= 2 videos")
      assert(nf >= nv, "frame instances can't undercount videos")
    }
  }

  test("d65 blocklist gate: flags are consistent and the gate fires " +
      "without gutting the corpus") {
    val rows = query("d65_blocklist_filter").run(spark, sfDir).collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    rows.foreach { r =>
      val (nb, b, rate) = (r.getAs[Long]("n_blocked"),
        r.getAs[Int]("blocked"), r.getAs[Double]("block_rate"))
      assert((b == 1) == (nb > 0), "blocked flag must mirror any-hit")
      assert(rate >= 0.0 && rate <= 1.0)
      assert(nb <= r.getAs[Long]("n_tokens"))
    }
    val blocked = rows.count(_.getAs[Int]("blocked") == 1)
    assert(blocked > 0 && blocked < rows.length / 2,
      s"demo gate should fire selectively, blocked $blocked of ${rows.length}")
  }

  test("e25 two-tier rerank beats raw prefix recall (what the tier buys)") {
    // e09 = prefix top-3 straight; e25 = prefix top-12 then exact
    // rerank. Same probes, same truth — the rerank must recover
    // substantially more of the true top-3 (measured 0.227 vs 0.133 at
    // sf0.001 = 1.7×, and 0.293 vs 0.053 at sf0.01 = 5.5×; floor at
    // 1.25×, under both).
    def mean(name: String) = {
      val rs = query(name).run(spark, sfDir).collect()
      rs.map(_.getAs[Double]("recall_at_3")).sum / rs.length
    }
    val (raw, tiered) = (mean("e09_matryoshka_recall"),
      mean("e25_matryoshka_rerank"))
    assert(tiered >= 1.25 * raw,
      s"rerank tier bought too little: $tiered vs raw prefix $raw")
  }

  test("q47 DAU/WAU: window containment and ratio bounds hold") {
    // WAU(day) counts distinct users over [day-6, day] ⊇ the day itself,
    // so dau <= wau and stickiness ∈ (0, 1]; and WAU must be at least
    // the MAX single-day DAU inside its window (containment).
    val rows = query("q47_dau_wau").run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("dau"),
        r.getAs[Long]("wau"), r.getAs[Double]("stickiness")))
    assert(rows.nonEmpty)
    val dauByDay = rows.map(r => r._1 -> r._2).toMap
    rows.foreach { case (day, dau, wau, st) =>
      assert(dau <= wau, s"day $day: dau $dau > wau $wau")
      assert(st > 0.0 && st <= 1.0, s"day $day: stickiness $st")
      val windowMax = (day - 6 to day).flatMap(dauByDay.get)
      if (windowMax.nonEmpty)
        assert(wau >= windowMax.max,
          s"day $day: wau $wau under window max ${windowMax.max}")
    }
  }

  test("q48 session funnel partitions q43's sessions across stages") {
    // Every session lands in exactly one stage, so the stage counts must
    // sum to the total session count q43 materializes (two independent
    // lineages, same gap rule).
    val stages = query("q48_session_funnel").run(spark, sfDir).collect()
    val total = stages.map(_.getAs[Long]("n_sessions")).sum
    val q43 = query("q43_session_stats").run(spark, sfDir).count()
    assert(total == q43, s"funnel lost sessions: $total != $q43")
    stages.foreach(r =>
      assert((0L to 3L).contains(r.getAs[Long]("stage"))))
  }

  test("e26 over-fetch curve is monotone and reproduces e09/e25 at its " +
      "endpoints") {
    // Nested candidate sets ⇒ recall monotone in K per probe; and the
    // sweep's K=3 point IS e09's raw prefix recall while K=12 IS e25's
    // two-tier recall — per-probe equality, the strongest cross-query
    // consistency pin available.
    val sweep = query("e26_overfetch_sweep").run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("k_overfetch")) ->
        r.getAs[Double]("recall_at_3")).toMap
    val probes = sweep.keys.map(_._1).toSet
    probes.foreach { a =>
      val ks = Seq(3L, 6L, 12L, 24L).map(k => sweep((a, k)))
      assert(ks == ks.sorted, s"probe $a: recall not monotone in K: $ks")
    }
    def byProbe(name: String) = query(name).run(spark, sfDir).collect()
      .map(r => r.getAs[Long]("a_id") -> r.getAs[Double]("recall_at_3")).toMap
    val (e09, e25) = (byProbe("e09_matryoshka_recall"),
      byProbe("e25_matryoshka_rerank"))
    probes.foreach { a =>
      assert(sweep((a, 3L)) == e09(a),
        s"probe $a: sweep K=3 ${sweep((a, 3L))} != e09 ${e09(a)}")
      assert(sweep((a, 12L)) == e25(a),
        s"probe $a: sweep K=12 ${sweep((a, 12L))} != e25 ${e25(a)}")
    }
  }

  test("d66 token budget: kept bounds hold and totals match the d53 reps") {
    val rows = query("d66_dedup_token_budget").run(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("tokens_kept") <= r.getAs[Long]("n_tokens"))
      val inf = r.getAs[Double]("inflation")
      assert(inf >= 1.0, s"${r.getAs[String]("source")}: inflation $inf < 1")
    }
    // Σ kept across sources == number of docs that are their own d53 rep
    val kept = rows.map(_.getAs[Long]("n_kept")).sum
    val d53Self = query("d53_cluster_reps_md5").run(spark, sfDir)
      .filter(col("rep_id") === col("doc_id")).count()
    assert(kept == d53Self, s"kept totals diverge from d53: $kept != $d53Self")
  }

  test("e22 SQ8 ranking survives quantization on the fixtures") {
    // SQ8 is the mildest compression in the recall family (8 bits/dim vs
    // e11's 1 or e13's 0.5): on the 64-dim fixtures its dequantized
    // ranking should be near-lossless. Floor well below the measured
    // mean (1.00 at sf0.01) but far above chance (~3/n): a broken
    // clamp/scale or a mn/scl column swap craters through 0.8.
    val rec = query("e22_sq8_recall").run(spark, sfDir)
      .agg(avg(col("recall_at_3"))).head().getDouble(0)
    assert(rec >= 0.8, s"SQ8 mean recall@3 fell to $rec")
  }

  test("q49 Gini: bounds, identical-rollup consistency, and top-decile " +
      "floor hold per segment") {
    val rows = query("q49_spend_gini").run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, g, t10) = (r.getAs[Long]("n_customers"),
        r.getAs[Double]("gini"), r.getAs[Double]("top10_share"))
      // Exact-Gini bounds: 0 at perfect equality, < 1 always.
      assert(g >= 0.0 && g < 1.0, s"${r.getAs[String]("segment")}: gini $g")
      // The top decile of an ASCENDING ranking holds at least its
      // proportional share of spend (they're the largest spenders).
      val floor = (n / 10).toDouble / n.toDouble
      assert(t10 >= floor - 1e-9 && t10 <= 1.0,
        s"top10_share $t10 below proportional floor $floor (n=$n)")
    }
  }

  test("d67 mixture diversity: shares sum to 1, entropy is capped by " +
      "ln(k), and eff_sources <= k") {
    val rows = query("d67_mixture_diversity").run(spark, sfDir).collect()
    val k = rows.length
    val shareSum = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares sum to $shareSum")
    rows.foreach { r =>
      val (h, eff, ev) = (r.getAs[Double]("entropy"),
        r.getAs[Double]("eff_sources"), r.getAs[Double]("evenness"))
      assert(h >= 0.0 && h <= math.log(k.toDouble) + 1e-4,
        s"entropy $h outside [0, ln($k)]")
      assert(eff > 0.0 && eff <= k + 1e-4, s"eff_sources $eff > k=$k")
      assert(ev > 0.0 && ev <= 1.0 + 1e-9, s"evenness $ev outside (0,1]")
    }
  }

  test("d68 BPE pair counts: dense top-20 rank, nonincreasing counts, " +
      "2-char pairs") {
    val rows = query("d68_bpe_pair_counts").run(spark, sfDir)
      .orderBy(col("merge_rank")).collect()
    assert(rows.map(_.getAs[Long]("merge_rank")).toSeq ==
      (1L to rows.length).toSeq, "rank not dense from 1")
    assert(rows.length <= 20)
    val counts = rows.map(_.getAs[Long]("pair_count")).toSeq
    assert(counts == counts.sorted.reverse, "counts not nonincreasing")
    rows.foreach(r => assert(r.getAs[String]("pair").length == 2))
  }

  test("d69 chi-square: grid covers all marginals, cells sum to N, and " +
      "dof matches the independent distinct counts") {
    val rows = query("d69_lang_source_chi2").run(spark, sfDir).collect()
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val n = docs.count()
    assert(rows.map(_.getAs[Long]("o")).sum == n,
      "grid cell counts don't sum to the corpus")
    val nl = docs.select(col("lang")).distinct().count()
    val ns = docs.select(col("source")).distinct().count()
    assert(rows.length == nl * ns, "grid is not the full cross product")
    rows.foreach { r =>
      assert(r.getAs[Long]("dof") == (nl - 1) * (ns - 1))
      assert(r.getAs[Double]("contrib") >= 0.0)
      assert(r.getAs[Double]("chi2") >= 0.0)
    }
  }

  test("q50 RFM: scores span 1-5 in balanced quintiles and the cell " +
      "encodes the three scores") {
    val rows = query("q50_rfm_scores").run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (rs, fs, ms) = (r.getAs[Long]("r_score"), r.getAs[Long]("f_score"),
        r.getAs[Long]("m_score"))
      Seq(rs, fs, ms).foreach(v => assert(v >= 1L && v <= 5L))
      assert(r.getAs[Long]("rfm_cell") == rs * 100 + fs * 10 + ms)
    }
    // rank-arithmetic quintiles: bucket sizes differ by at most 1
    Seq("r_score", "f_score", "m_score").foreach { c =>
      val sizes = rows.groupBy(_.getAs[Long](c)).values.map(_.size)
      assert(sizes.max - sizes.min <= 1, s"$c quintiles unbalanced: $sizes")
    }
  }

  test("d70 perplexity buckets: per-language terciles are balanced and " +
      "cover every doc") {
    val rows = query("d70_perplexity_buckets").run(spark, sfDir).collect()
    val n = graft.sources.Tables.documents(spark, sfDir).count()
    assert(rows.length == n, "bucketing dropped docs")
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, docs) =>
      val sizes = docs.groupBy(_.getAs[String]("bucket"))
        .view.mapValues(_.size).toMap
      assert(sizes.keySet.subsetOf(Set("head", "middle", "tail")))
      assert(sizes.values.max - sizes.values.min <= 1,
        s"$lang terciles unbalanced: $sizes")
    }
  }

  test("m11 shot count equals ceil(n_frames / shot_len) frame runs " +
      "per video") {
    val rows = query("m11_shot_boundaries").run(spark, sfDir).collect()
      .map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Long]("n_frames"), r.getAs[Long]("n_shots"))).toMap
    assert(rows.nonEmpty)
    // independently re-derive n_frames/shot_len from the stub convention
    val expected = graft.sources.Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull && pmod(col("doc_id"), lit(3)) === 2)
      .select(col("doc_id"),
        (lit(1) + pmod(expr(
          "cast(conv(substr(md5(text), 17, 2), 16, 10) as int)"),
          lit(16))).as("nf"),
        (lit(1) + pmod(expr(
          "cast(conv(substr(md5(text), 9, 2), 16, 10) as int)"),
          lit(4))).as("sl"))
      .collect()
    expected.foreach { r =>
      val (id, nf, sl) = (r.getAs[Long]("doc_id"),
        r.getAs[Int]("nf").toLong, r.getAs[Int]("sl").toLong)
      val (gotF, gotS) = rows(id)
      assert(gotF == nf, s"video $id: n_frames $gotF != $nf")
      assert(gotS == (nf + sl - 1) / sl,
        s"video $id: n_shots $gotS != ceil($nf/$sl)")
    }
  }

  test("q51 co-purchase lift: canonical pair order, count bounds, and " +
      "support/lift arithmetic consistency") {
    val rows = query("q51_copurchase_lift").run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val n = {
      val li = Tables.lineitem(spark, sfDir)
      li.select(col("l_orderkey")).distinct().count()
    }
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("brand_a"), r.getAs[String]("brand_b"))
      assert(a < b, s"pair ($a, $b) not in canonical order")
      val (ab, na, nb) = (r.getAs[Long]("n_ab"), r.getAs[Long]("n_a"),
        r.getAs[Long]("n_b"))
      assert(ab >= 3 && ab <= math.min(na, nb),
        s"co-count $ab outside [3, min($na, $nb)]")
      assert(math.abs(r.getAs[Double]("support") - ab.toDouble / n) < 1e-5)
      assert(r.getAs[Double]("lift") > 0.0)
    }
  }

  test("d71 Spearman agreement: bounds hold and rho reproduces from the " +
      "reported Sd2/n") {
    val r = query("d71_signal_agreement").run(spark, sfDir).head()
    val (n, d2, rho) = (r.getAs[Long]("n_docs"), r.getAs[Double]("sum_d2"),
      r.getAs[Double]("spearman_rho"))
    assert(n > 1)
    assert(rho >= -1.0 - 1e-9 && rho <= 1.0 + 1e-9, s"rho $rho out of range")
    val recomputed = 1.0 - 6.0 * d2 / (n.toDouble * (n.toDouble * n.toDouble - 1.0))
    assert(math.abs(rho - recomputed) < 1e-6,
      s"rho $rho inconsistent with Sd2=$d2, n=$n")
  }

  test("e28 centroid outliers: dense bottom-20 ranking that matches an " +
      "independent driver-side brute force") {
    val rows = query("e28_centroid_outliers").run(spark, sfDir)
      .orderBy(col("outlier_rank")).collect()
    assert(rows.length == 20)
    assert(rows.map(_.getAs[Long]("outlier_rank")).toSeq == (1L to 20L),
      "rank not dense from 1")
    val cs = rows.map(_.getAs[Double]("centroid_cos")).toSeq
    assert(cs == cs.sorted, "scores not ascending with rank")
    // independent re-derivation in plain Scala, mirroring the query's
    // exact arithmetic (6-dp HALF_UP round → exact decimal sum → double
    // mean; strict left-fold dot/norm): the bottom-20 ids AND scores
    // must agree bit-for-bit — a polluted mean vector, a dim-ordering
    // slip in the reassembly, or a flipped sort all diverge here
    import graft.functions.VectorFunctions.asDouble
    val data = Tables.validEmbeddings(spark, sfDir)
      .select(col("vec_id"), asDouble(col("embedding")).as("xs"))
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Double](1).toArray))
    val dim = data.head._2.length
    val n = data.length
    val mus = Array.tabulate(dim) { p =>
      data.map(d => BigDecimal(d._2(p))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble / n.toDouble
    }
    def fold(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def cosine(a: Array[Double], b: Array[Double]): Double =
      fold(a, b) / (math.sqrt(fold(a, a)) * math.sqrt(fold(b, b)))
    val expected = data.map { case (id, xs) => (id, cosine(xs, mus)) }
      .sortBy { case (id, c) => (c, id) }.take(20)
    val got = rows.map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Double]("centroid_cos"))).toSeq
    assert(got == expected.toSeq,
      s"engine bottom-20 diverges from brute force:\n$got\nvs\n${expected.toSeq}")
  }

  test("m12 VAD: voiced counts, segment bounds, and ratio arithmetic " +
      "hold per audio") {
    val rows = query("m12_speech_ratio").run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nc, nv, ns) = (r.getAs[Long]("n_chunks"),
        r.getAs[Long]("n_voiced"), r.getAs[Long]("n_segments"))
      assert(nc >= 1 && nv >= 0 && nv <= nc)
      // segments are maximal voiced runs: at least 1 if anything is
      // voiced, at most min(voiced count, alternating-pattern ceiling)
      assert(ns <= math.min(nv, (nc + 1) / 2))
      assert((nv == 0) == (ns == 0))
      assert(math.abs(r.getAs[Double]("speech_ratio") -
        math.floor(nv.toDouble / nc.toDouble * 1e6 + 0.5) / 1e6) < 1e-9)
    }
  }

  test("e29 drift monitor: full dim coverage, scalar consistency, and " +
      "no drift on the same-generator fixture") {
    val rows = query("e29_embedding_drift").run(spark, sfDir).collect()
    assert(rows.length == 64, "must report every dim")
    val zs = rows.map(r => math.abs(r.getAs[Double]("z")))
    val maxZ = rows.head.getAs[Double]("max_abs_z")
    assert(math.abs(maxZ - zs.max) < 1e-9, "max_abs_z != max |z|")
    rows.foreach(r => assert(r.getAs[Double]("std_p") >= 0.0))
    // same-generator halves: per-dim mean shift stays well under one
    // prior-std (measured 0.30 at sf0.01); an encoder swap or
    // normalization bug shows up as whole-axis |z| >> 1
    assert(maxZ < 1.0, s"fixture halves drifted: max|z| = $maxZ")
  }

  test("d72 keep-best election: reps are at least as good as the docs " +
      "they represent") {
    val rows = query("d72_best_rep_election").run(spark, sfDir).collect()
    val n = Tables.documents(spark, sfDir).count()
    assert(rows.length == n, "election dropped docs")
    val quality = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("q"))
      .toMap
    rows.foreach { r =>
      val (id, rep) = (r.getAs[Long]("doc_id"), r.getAs[Long]("rep_id"))
      assert(r.getAs[Int]("kept") == (if (id == rep) 1 else 0))
      // a doc is a member of its own buckets, so its elected rep's
      // quality can never be below its own
      assert(quality(rep) >= quality(id) - 1e-12,
        s"doc $id (q=${quality(id)}) elected worse rep $rep (q=${quality(rep)})")
    }
    // the flip must actually bite: at least one rep differs from d53's
    // min-id election on the fixture
    val d53 = query("d53_cluster_reps_md5").run(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rep_id")).toMap
    assert(rows.exists(r =>
      d53(r.getAs[Long]("doc_id")) != r.getAs[Long]("rep_id")),
      "keep-best election never diverged from min-id — the flip is dead")
  }

  test("q49 Gini closed forms on a constructed ledger: 0 under equality, " +
      "(n-1)/3n under linear spends") {
    // Semantic anchor independent of the fixture: segment EQ has 5
    // equal spenders (Gini exactly 0); segment LIN has 10 customers
    // spending 100..1000 — closed form G = (n−1)/(3n) = 0.3 and
    // top-decile share 1000/5500.
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft-gini").toString
    val custSchema = Tables.customer(spark, sfDir).schema
    val ordSchema = Tables.orders(spark, sfDir).schema
    // o_orderdate surfaces as TIMESTAMP_NTZ through the loader
    val ts: Any = ordSchema("o_orderdate").dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
      case _ => java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    }
    val custs =
      (1 to 5).map(i => org.apache.spark.sql.Row(
        i.toLong, s"c$i", 0, 0.0, "EQ")) ++
      (11 to 20).map(i => org.apache.spark.sql.Row(
        i.toLong, s"c$i", 0, 0.0, "LIN"))
    val orders =
      (1 to 5).map(i => org.apache.spark.sql.Row(
        i.toLong, i.toLong, "F", 100.0, ts, "1-URGENT")) ++
      (11 to 20).map(i => org.apache.spark.sql.Row(
        i.toLong, i.toLong, "F", (i - 10) * 100.0, ts, "1-URGENT"))
    spark.createDataFrame(custs.asJava, custSchema)
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    spark.createDataFrame(orders.asJava, ordSchema)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = query("q49_spend_gini").run(spark, dir).collect()
      .map(r => r.getAs[String]("segment") -> r).toMap
    assert(got("EQ").getAs[Double]("gini") == 0.0)
    assert(got("EQ").getAs[Double]("top10_share") == 0.0) // n<10: empty decile
    assert(math.abs(got("LIN").getAs[Double]("gini") - 0.3) < 1e-9)
    assert(math.abs(got("LIN").getAs[Double]("top10_share")
      - 1000.0 / 5500.0) < 1e-6)
  }

  test("d69 chi-square is exactly 0 on a constructed independent " +
      "contingency table") {
    // lang en:20/fr:10 × source s1:12/s2:18 with cells exactly rt·ct/N
    // (8/12/4/6 over N=30) — every contribution must be 0 and so must
    // the statistic; dof = 1.
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft-chi2").toString
    val schema = Tables.documents(spark, sfDir).schema
    var id = 0L
    val rows = Seq(("en", "s1", 8), ("en", "s2", 12),
      ("fr", "s1", 4), ("fr", "s2", 6)).flatMap { case (l, s, n) =>
      (1 to n).map { _ =>
        id += 1
        org.apache.spark.sql.Row(id, "w", l, s, 1L)
      }
    }
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = query("d69_lang_source_chi2").run(spark, dir).collect()
    assert(got.length == 4)
    got.foreach { r =>
      assert(r.getAs[Double]("contrib") == 0.0)
      assert(r.getAs[Double]("chi2") == 0.0)
      assert(r.getAs[Long]("dof") == 1L)
    }
  }

  test("d68 BPE top pair is exact on a constructed vocabulary") {
    // banana×2 + bandana×1: pair totals an:6, na:5, ba:3, nd:1, da:1 —
    // hand-counted; the ranking must reproduce them.
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe").toString
    val schema = Tables.documents(spark, sfDir).schema
    val rows = Seq(
      org.apache.spark.sql.Row(1L, "banana banana", "en", "s1", 13L),
      org.apache.spark.sql.Row(2L, "bandana", "en", "s1", 7L))
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = query("d68_bpe_pair_counts").run(spark, dir)
      .orderBy(col("merge_rank")).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("pair_count")))
    assert(got.take(3).toSeq == Seq(("an", 6L), ("na", 5L), ("ba", 3L)),
      s"BPE head ranking wrong: ${got.toSeq}")
    assert(got.drop(3).toSet == Set(("da", 1L), ("nd", 1L)))
  }

  test("e29 drift alarm fires on an injected single-axis shift") {
    // Construct embeddings whose odd half (snap 1) shifts dim 0 by +5
    // while all other dims are identically distributed — the monitor
    // must flag dim 0 with |z| >> 1 and leave the rest quiet.
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString
    val schema = Tables.validEmbeddings(spark, sfDir).schema
    val dim = 64
    val rows = (0L until 200L).map { id =>
      val emb = (0 until dim).map { p =>
        val base = (((id * 31 + p * 7) % 13) - 6).toFloat / 6.0f
        if (p == 0 && id % 2 == 1) base + 5.0f else base
      }
      org.apache.spark.sql.Row(id, emb, 0)
    }
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = query("e29_embedding_drift").run(spark, dir).collect()
      .map(r => r.getAs[Long]("pos") -> r).toMap
    assert(math.abs(got(0L).getAs[Double]("z")) > 3.0,
      s"shifted dim not flagged: z = ${got(0L).getAs[Double]("z")}")
    (1 until dim).foreach { p =>
      assert(math.abs(got(p.toLong).getAs[Double]("z")) < 1.0,
        s"quiet dim $p fired: z = ${got(p.toLong).getAs[Double]("z")}")
    }
  }

  test("q52 seasonality: revenue conserved, indices consistent, and " +
      "day-weighted index mean is 1") {
    val rows = query("q52_dow_seasonality").run(spark, sfDir).collect()
    assert(rows.length == 7, "a year-spanning fixture must hit all 7 classes")
    val totRev = rows.map(_.getAs[Double]("total_rev")).sum
    val exact = Tables.orders(spark, sfDir)
      .agg(sum(graft.queries.GraftQuery.dec(col("o_totalprice")))
        .cast("double")).head().getDouble(0)
    assert(math.abs(totRev - exact) < 1e-6, "class revenue not conserved")
    val totDays = rows.map(_.getAs[Long]("n_days")).sum
    val overallMean = totRev / totDays.toDouble
    rows.foreach { r =>
      val idx = r.getAs[Double]("seasonal_index")
      assert(math.abs(idx - r.getAs[Double]("mean_rev") / overallMean) < 1e-4)
    }
    val weighted = rows.map(r =>
      r.getAs[Double]("seasonal_index") * r.getAs[Long]("n_days")).sum / totDays
    assert(math.abs(weighted - 1.0) < 1e-4,
      s"day-weighted index mean drifted: $weighted")
  }

  test("d73 k-anonymity: classes cover the corpus and the risky share " +
      "reproduces from the class table") {
    val rows = query("d73_k_anonymity").run(spark, sfDir).collect()
    val n = Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == n,
      "classes don't partition the corpus")
    val risky = rows.filter(_.getAs[Int]("at_risk") == 1)
      .map(_.getAs[Long]("n_docs")).sum
    rows.foreach { r =>
      assert((r.getAs[Long]("n_docs") < 5) == (r.getAs[Int]("at_risk") == 1))
      assert(math.abs(r.getAs[Double]("risky_share")
        - math.floor(risky.toDouble / n.toDouble * 1e6 + 0.5) / 1e6) < 1e-9)
    }
  }

  test("q53 A/B z-test: antisymmetric arms and a null-band result on the " +
      "exchangeable fixture") {
    val rows = query("q53_ab_conversion_z").run(spark, sfDir).collect()
      .map(r => r.getAs[Long]("arm") -> r).toMap
    assert(rows.keySet == Set(0L, 1L))
    val (z0, z1) = (rows(0L).getAs[Double]("z"), rows(1L).getAs[Double]("z"))
    // two-proportion z is antisymmetric in the arm roles
    assert(math.abs(z0 + z1) < 1e-5, s"z not antisymmetric: $z0 vs $z1")
    // id-parity arms of one generator are exchangeable: the test must
    // NOT reject at 95% (a significant z here means broken pooling math)
    assert(math.abs(z0) < 1.96, s"exchangeable arms read significant: $z0")
    rows.values.foreach { r =>
      assert(math.abs(r.getAs[Double]("rate")
        - math.floor(r.getAs[Long]("n_converted").toDouble
          / r.getAs[Long]("n_users").toDouble * 1e6 + 0.5) / 1e6) < 1e-9)
    }
  }

  test("e27 tombstones: probes are live, answers obey the fetch-filter " +
      "arithmetic, and recall is bounded") {
    val rows = query("e27_tombstone_recall").run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("a_id") % 7 != 0, "a deleted probe was queried")
      val (tomb, got, rec) = (r.getAs[Long]("n_tomb_in_12"),
        r.getAs[Long]("n_got"), r.getAs[Double]("recall_at_3"))
      // K=12 fetch minus tombstones, answered top-3: exactly
      // min(3, 12 - tombstones) answers must survive.
      assert(got == math.min(3L, 12L - tomb),
        s"n_got $got != min(3, 12 - $tomb)")
      assert(rec >= 0.0 && rec * 3.0 <= got + 1e-9,
        s"recall $rec exceeds answered count $got")
    }
  }
}
