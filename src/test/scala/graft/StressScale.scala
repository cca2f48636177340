package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-exponent harness (round-16 advice #6): measures the top-5 most
  * expensive bench queries at 1× and 8×-replicated sf0.1 so super-linear
  * blowups are caught by MEASUREMENT, not argument (StressDup covers the
  * dup-pair family; this covers the rest). Each query's driving table is
  * replicated with distinct ids; untouched tables are symlink-copied
  * as-is. Prints wall-time pairs; the observed exponent is
  * log8(t8/t1) — record both in SCALING.md.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1
  *       sbt "Test/runMain graft.StressScale [query ...]"`.
  * Lives in test sources — a measurement tool, never shipped.
  */
object StressScale {

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Which table a query's 8× replication must grow, and how to grow it
    * with ids kept distinct. */
  private def replicate(spark: SparkSession, sfDir: String,
      table: String, idCol: String, reps: Int): String = {
    val base = spark.read.parquet(s"$sfDir/$table.parquet")
    // shift from MAX id, not row count: a sparse id domain (max ≫ n)
    // would otherwise overlap replicas and corrupt the measurement
    val maxId = base.agg(max(col(idCol))).head().getLong(0)
    val shift = math.pow(10, math.ceil(math.log10(maxId.toDouble + 2))).toLong
    val rep = base.crossJoin(
        spark.range(reps.toLong).select(col("id").as("_rep")).hint("broadcast"))
      .withColumn(idCol, col(idCol) + col("_rep") * shift)
      .drop("_rep")
    val dir = java.nio.file.Files.createTempDirectory(s"stress-$table").toString
    rep.write.mode("overwrite").parquet(s"$dir/$table.parquet")
    // the other tables ride along unreplicated
    graft.sources.Tables.names.filter(_ != table).foreach { t =>
      val src = java.nio.file.Paths.get(s"$sfDir/$t.parquet")
      if (java.nio.file.Files.exists(src))
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(s"$dir/$t.parquet"), src)
    }
    dir
  }

  private val driving: Map[String, (String, String)] = Map(
    "d39_prefix_jaccard_join" -> ("documents" -> "doc_id"),
    "d44_dup_span_merge" -> ("documents" -> "doc_id"),
    "d35_containment_pairs" -> ("documents" -> "doc_id"),
    "d52_neardup_capstone" -> ("documents" -> "doc_id"),
    "q29_robust_outliers" -> ("orders" -> "o_orderkey"),
    "e13_pq_adc_recall" -> ("embeddings" -> "vec_id"),
    // Sketch family (round 16): replication shifts event_id/doc_id but
    // keeps user_id/token content — rows grow 8×, the TRUE distinct/term
    // domain doesn't, so a constant-state sketch must scale ~linear in
    // scan cost with unchanged sketch size (exponent ≲ 1; a blowup here
    // means the sketch state leaked into the exchange).
    "q34_hll_registers_md5" -> ("events" -> "event_id"),
    "q36_kmv_distinct" -> ("events" -> "event_id"),
    "q37_kmv_intersect" -> ("events" -> "event_id"),
    "d54_cms_heavy_hitters" -> ("documents" -> "doc_id"),
    "d55_weighted_sample" -> ("documents" -> "doc_id"),
    // Round-16 additions: d56's replicas duplicate text, so the bit
    // table and prior-fp set stay FIXED while probe rows grow 8× — the
    // broadcast pre-pass must scale linear in the probe scan alone.
    // e16's probe count is corpus-derived (~n/mod stays ~100), so work
    // is probes × corpus — linear in corpus at fixed probe count. q39 is
    // one map-side-combinable exchange — pure scan linearity.
    "d56_bloom_probe" -> ("documents" -> "doc_id"),
    "q39_qty_shape_stats" -> ("lineitem" -> "l_orderkey"),
    "e16_randproj_recall" -> ("embeddings" -> "vec_id"),
    // d57's replicas duplicate text: the chunk/source domain is fixed, so
    // growth is the explode scan + the fixed-domain aggs. q40/q41 grow
    // event rows 8× on fixed type/user domains — the window (q40) and
    // register (q41) exchanges must stay domain-sized.
    "d57_source_overlap" -> ("documents" -> "doc_id"),
    "q40_event_transitions" -> ("events" -> "event_id"),
    "q41_hll_merge_rollup" -> ("events" -> "event_id"),
    // Sweep family: d58 is a d48-shaped zero-exchange scan; d59/e17 fan
    // three operating points out of ONE checkpointed scan, so growth must
    // stay ~one scan's worth, not 3×. d59's replicas duplicate text —
    // every band bucket gets 8 copies of each doc, so the PAIR OUTPUT
    // grows ~64× (the StressDup rule: linear in output, not input).
    "d58_gate_ablation" -> ("documents" -> "doc_id"),
    "d59_lsh_band_sweep" -> ("documents" -> "doc_id"),
    "e17_nprobe_sweep" -> ("embeddings" -> "vec_id"),
    // d60: replicas duplicate text, so vocab and the (source, term)
    // domain are FIXED — growth is the explode scan into map-side
    // partials; the term join and divergence fold stay vocab-sized.
    "d60_source_divergence" -> ("documents" -> "doc_id"),
    // d61 rides d09's bucketed pair machinery: duplicated replica text
    // grows the pair output ~8^2x within capped buckets (the d59 rule).
    "d61_split_leakage" -> ("documents" -> "doc_id"),
    // e18 is the e09/e16 harness at k=1: probes stay ~100, corpus 8x.
    "e18_knn_label_purity" -> ("embeddings" -> "vec_id"),
    // e19: the IVF-PQ BUILD is the known O(n·√n) — cells = √n, and
    // nearest-cell assignment is n × cells literal cosines — so the
    // harness exponent is expected ~1.3-1.5 BY DESIGN (the standard IVF
    // build trade; queries amortize it). e20 fixes cells = 8, so its
    // build is linear — the pair isolates quantizer-count growth from
    // everything else.
    "e19_ivfpq_topk" -> ("embeddings" -> "vec_id"),
    "e20_ivfpq_pinned" -> ("embeddings" -> "vec_id"),
    // Round-17 additions: q43/q44 replicas shift event_id but keep
    // user_id/ts — q43's per-user partitions grow 8× (one user_id
    // exchange, linear sort growth inside bounded partitions); q44's
    // calendar spine is FIXED, so only the daily pre-agg scan grows.
    // d62's replicas duplicate text: vocab fixed, growth is the explode
    // scan into map-side partials (the d60 shape). e22 is the e12
    // dual-ranking harness: probes stay ~100, corpus 8×.
    "q43_session_stats" -> ("events" -> "event_id"),
    "q44_daily_gapfill" -> ("events" -> "event_id"),
    "d62_zipf_fit" -> ("documents" -> "doc_id"),
    "e22_sq8_recall" -> ("embeddings" -> "vec_id"),
    // q45: replicas grow both fact sides 8× onto the FIXED 192-cell
    // sketch domain (map-side partials) — the est path must stay
    // scan-linear; the exact degree join grows with the user domain
    // (fixed here). d63's (source, fp) collapse is domain-bounded per
    // source; e23 is the e12 probe harness (probes ~100, corpus 8×).
    "q45_join_size_cms" -> ("events" -> "event_id"),
    "d63_source_dup_matrix" -> ("documents" -> "doc_id"),
    "e23_filtered_ann" -> ("embeddings" -> "vec_id"),
    // q46: replicas shift event_id on fixed user/ts domains, so every
    // purchase's lookback window holds 8× the clicks — PAIR rows grow
    // ~64× (output-linear, the d59 rule). e24: 8× vectors over the same
    // bucket domain — the size agg absorbs everything map-side.
    "q46_attribution_models" -> ("events" -> "event_id"),
    "e24_shard_plan" -> ("embeddings" -> "vec_id"),
    // d64: one scan into the fixed 10-bin domain — pure scan linearity.
    // m10: replicas duplicate text, so the frame-key domain is fixed;
    // growth is the bounded frame explode into the partial collapse.
    "d64_quality_psi" -> ("documents" -> "doc_id"),
    "m10_shared_frames" -> ("documents" -> "doc_id"),
    // d65 is a d48-shaped zero-exchange scan. e25 is the e12/e23 probe
    // harness (probes fixed, corpus 8×). q47: replicas shift event_id
    // but keep user/ts, so the distinct (user, day) activity table — and
    // everything after the barrier — is FIXED; only the scan grows.
    "d65_blocklist_filter" -> ("documents" -> "doc_id"),
    "e25_matryoshka_rerank" -> ("embeddings" -> "vec_id"),
    "q47_dau_wau" -> ("events" -> "event_id"),
    // q48 rides the q43 session envelope (8× rows per user, one
    // exchange). e26 is e25 with six rank windows — same probe-product
    // envelope. d66 is d53's rep election + a narrow second scan;
    // replicas duplicate text, so band buckets gain 8 members each and
    // the window-min output stays linear.
    "q48_session_funnel" -> ("events" -> "event_id"),
    "e26_overfetch_sweep" -> ("embeddings" -> "vec_id"),
    "d66_dedup_token_budget" -> ("documents" -> "doc_id"),
    // Batch 8: q49's replicas shift o_orderkey but keep o_custkey, so
    // the per-customer pre-agg frame — and the segment rank after it —
    // is FIXED; only the fact scan grows. d67/d69 fold one scan onto
    // fixed source / lang×source domains (the d64 envelope); d68's
    // replicas duplicate text so the word vocab (and the pair domain
    // after it) is FIXED — growth is the token explode into map-side
    // partials. e27 is the e23 probe harness (probes ~100, corpus 8×).
    "q49_spend_gini" -> ("orders" -> "o_orderkey"),
    "d67_mixture_diversity" -> ("documents" -> "doc_id"),
    "d68_bpe_pair_counts" -> ("documents" -> "doc_id"),
    "d69_lang_source_chi2" -> ("documents" -> "doc_id"),
    "e27_tombstone_recall" -> ("embeddings" -> "vec_id"),
    // Batch 9: q50's replicas shift o_orderkey but keep o_custkey, so
    // the customer frame — and all three GlobalRank sorts — is FIXED;
    // only the fact scan grows. d70's replicas duplicate text: vocab
    // fixed, the explode scan and the per-lang doc rank both grow 8×
    // (input-linear by design). m11 is a bounded explode into per-video
    // lag windows — partition COUNT grows, size doesn't.
    "q50_rfm_scores" -> ("orders" -> "o_orderkey"),
    "d70_perplexity_buckets" -> ("documents" -> "doc_id"),
    "m11_shot_boundaries" -> ("documents" -> "doc_id"),
    // e28: the per-dim mean folds onto the fixed 64-dim domain; scoring
    // is scan-linear and the bottom-20 rank is a WindowGroupLimit.
    "e28_centroid_outliers" -> ("embeddings" -> "vec_id"),
    // q51: replicas shift l_orderkey, so baskets replicate with the
    // SAME brand content — the pair/marginal domains are FIXED (≤ 300
    // rows) and growth is the distinct scan + bounded per-order pair
    // explode folding onto them.
    "q51_copurchase_lift" -> ("lineitem" -> "l_orderkey"),
    // d71: replicas duplicate text (vocab fixed), so growth is the
    // scoring scan + the two GlobalRank range-sorts over 8× docs —
    // sort-linear by design.
    "d71_signal_agreement" -> ("documents" -> "doc_id"),
    // m12: the m05 chunk explode is bounded per audio; the lag window
    // and fold ride one media_id exchange — partition count grows, not
    // size (the m11 envelope).
    "m12_speech_ratio" -> ("documents" -> "doc_id"),
    // e29: conditional moments fold onto the fixed 64-dim domain — the
    // e10 envelope. d72: d53's band plan with one extra carried column;
    // replicas duplicate text, so every bucket gains 8 members and the
    // window/fold grow with the 8× banded rows (input-linear, the d66
    // rule).
    "e29_embedding_drift" -> ("embeddings" -> "vec_id"),
    "d72_best_rep_election" -> ("documents" -> "doc_id"),
    // q52: the fact scan folds onto the calendar then the 7-class
    // domain (the q28 envelope). d73: one scan onto the fixed
    // lang × source × 10-bucket grid (the d64/d69 envelope).
    "q52_dow_seasonality" -> ("orders" -> "o_orderkey"),
    "d73_k_anonymity" -> ("documents" -> "doc_id"),
    // q53: replicas shift event_id but keep user_id, so the per-user
    // conversion frame — and the 2-row arm rollup — is FIXED; only the
    // conditional-max fold's scan grows.
    "q53_ab_conversion_z" -> ("events" -> "event_id"),
    // Pair family under quadratic-dup replication (the StressDup shape
    // driven through the standard exponent harness): replicas duplicate
    // text, so every minhash/band bucket gains a replica per rep — at
    // 64× the buckets sit AT the 64-member cap, the adversarial corner
    // of the capped-pair design.
    "d12_minhash_lsh_pairs" -> ("documents" -> "doc_id"),
    "d47_banded_lsh_md5" -> ("documents" -> "doc_id"),
    // Round-18 additions: q54 folds onto the 9-digit domain (the d64
    // envelope); q55/q52 share the calendar pre-agg envelope; q56's
    // replicas multiply each customer's same-day orders (8× rows per
    // custkey partition, gap-0 events — linear window growth onto the
    // fixed 53-week grid); q57 keeps the customer/nation frame fixed
    // beyond the fact scan. d74 is two hash windows over 32-byte keys;
    // d75/d76 fold onto source / lang-grid domains; d77 rides d53's
    // band election; d78's replicas duplicate text, so vocab (and the
    // first-chunk domain) is FIXED — growth is the explode scan.
    "q54_benford_digits" -> ("orders" -> "o_orderkey"),
    "q55_cusum_changepoint" -> ("orders" -> "o_orderkey"),
    "q56_order_gap_survival" -> ("orders" -> "o_orderkey"),
    "q57_theil_index" -> ("orders" -> "o_orderkey"),
    "d74_bow_fingerprint_dedup" -> ("documents" -> "doc_id"),
    "d75_source_quality_wilson" -> ("documents" -> "doc_id"),
    "d76_lang_confusion" -> ("documents" -> "doc_id"),
    "d77_dedup_bias_audit" -> ("documents" -> "doc_id"),
    "d78_vocab_growth" -> ("documents" -> "doc_id"),
    // e30: each vector meets a constant number of offset partners —
    // pair count is 3n, pure join-scan linearity onto the 20-bin grid.
    // e31 is the e18 probe harness: the modulus is corpus-derived
    // (max(20, n/100)), so the probe PANEL stays ~100 as the corpus
    // grows — work is a fixed panel × the scan, corpus-LINEAR (measured
    // 0.60 at 64×; anything super-linear here is a real leak).
    // m13's Hamming join runs on the ≤768-row hash DOMAIN regardless of
    // media count; m14 folds the cost model onto 3 kinds.
    "e30_pair_cos_histogram" -> ("embeddings" -> "vec_id"),
    "e31_hubness_audit" -> ("embeddings" -> "vec_id"),
    "m13_phash_hamming_merge" -> ("documents" -> "doc_id"),
    "m14_modality_token_budget" -> ("documents" -> "doc_id"),
    // e32 folds onto the bucket domain then a ≤64-bin grid; q58's
    // replicas shift o_orderkey on a fixed custkey/calendar frame (the
    // q47 activity shape); d79's replicas duplicate text, so the
    // (source, chunk) domain is FIXED — growth is the chunk explode
    // into the distinct pre-fold.
    "e32_bucket_balance" -> ("embeddings" -> "vec_id"),
    "q58_new_vs_returning" -> ("orders" -> "o_orderkey"),
    "d79_boilerplate_chunks" -> ("documents" -> "doc_id"),
    // d80: replicas duplicate text, so the (word, cnt) table — the ONLY
    // thing the 5 merge steps ever scan — is FIXED; growth is the one
    // corpus fold feeding it.
    "d80_bpe_train" -> ("documents" -> "doc_id"),
    // q59 rides the q55 calendar envelope (fold to days, then bounded
    // rank passes); d81 is a d48-shaped zero-exchange scan; d82 folds
    // onto the fixed 10-bin quality grid (the d64 envelope).
    "q59_daily_robust_outliers" -> ("orders" -> "o_orderkey"),
    "d81_code_switch" -> ("documents" -> "doc_id"),
    "d82_gate_threshold_sweep" -> ("documents" -> "doc_id"),
    // d83 explodes a four-counter projection onto the fixed language
    // domain (map-side partials); e33 is a narrow norm pass onto the
    // ≤20-bin grid — both the d64 fixed-domain envelope.
    "d83_lang_mix_totals" -> ("documents" -> "doc_id"),
    "e33_norm_audit" -> ("embeddings" -> "vec_id"),
    // m15 rides m08's one media_id exchange + a media-domain fold.
    "m15_caption_coverage" -> ("documents" -> "doc_id"),
    // q60 folds lineitem onto the order domain then the basket-size
    // grid; e34 is the e22 dual-ranking probe harness.
    "q60_basket_dispersion" -> ("lineitem" -> "l_orderkey"),
    "e34_metric_agreement" -> ("embeddings" -> "vec_id"),
    // Round-19 additions: q61/q62 ride the q55 calendar envelope (fold
    // to days first; the 30-lag window and the 15-lag grid join are
    // calendar-bounded); q63 is the q56 custkey-window shape (replicas
    // add same-day orders — gap-0 events, linear partition growth);
    // q64's customer frame and GlobalRank sorts are FIXED beyond the
    // fact scan (the q50 rule).
    "q61_ewma_anomaly" -> ("orders" -> "o_orderkey"),
    "q62_daily_acf" -> ("orders" -> "o_orderkey"),
    "q63_gap_burstiness" -> ("orders" -> "o_orderkey"),
    "q64_lorenz_deciles" -> ("orders" -> "o_orderkey"),
    // d84: replicas duplicate text, so the term/df/avgdl domains are
    // FIXED — growth is the filtered explode into map-side tf partials
    // plus the bounded TakeOrdered cut. d85 is a d48-shaped
    // zero-exchange regex scan.
    "d84_bm25_topk" -> ("documents" -> "doc_id"),
    "d85_readability" -> ("documents" -> "doc_id"),
    // e35: an 8-way bounded fan-out + one vec_id rank window —
    // input-linear; e36/e37 are e18-harness probe scans (panel
    // corpus-derived / 1-row query) with no rank window (e36) or
    // bounded 50-row lists (e37).
    "e35_ivf_cell_quality" -> ("embeddings" -> "vec_id"),
    "e36_range_search" -> ("embeddings" -> "vec_id"),
    "e37_rrf_hybrid" -> ("embeddings" -> "vec_id"),
    // m16 folds the decode seam onto the ≤9-row kind×aspect domain;
    // m17 rides m05's bounded chunk explode into one media_id fold.
    "m16_resolution_audit" -> ("documents" -> "doc_id"),
    "m17_loudness_gain" -> ("documents" -> "doc_id"),
    // q65 folds onto the (month × priority) grid (the q58 activity
    // shape); d86 is one codegen'd per-row bigram fold (CharBigramStats),
    // a zero-exchange chars-linear scan; e38's
    // cell sizes are an 8-row fold of the assignment scan; m18 rides
    // m11's bounded frame explode and one media_id exchange.
    "q65_priority_mix_drift" -> ("orders" -> "o_orderkey"),
    "d86_char_bigram_entropy" -> ("documents" -> "doc_id"),
    "e38_probe_cost_model" -> ("embeddings" -> "vec_id"),
    "m18_keyframe_select" -> ("documents" -> "doc_id"),
    // q66: replicas shift o_orderkey on fixed custkey/month domains, so
    // the (custkey, month) frame, the self-join, and the month rollup
    // are all FIXED — only the fact scan grows. q67: same fixed
    // customer frame through the GlobalRank running-total sort.
    "q66_revenue_bridge" -> ("orders" -> "o_orderkey"),
    "q67_abc_classes" -> ("orders" -> "o_orderkey"),
    // d87's token explode rides per-doc partitions (the m11 boundary
    // pattern — partition COUNT grows, size doesn't); d88 is a
    // zero-exchange scan onto the source domain; q68 pre-folds BOTH
    // fact tables onto their key domains before the key-set join —
    // replicas shift o_orderkey only on the orders side, so the audit
    // sees 8x childless keys, never a fact x fact blowup.
    "d87_max_token_run" -> ("documents" -> "doc_id"),
    "d88_metadata_consistency" -> ("documents" -> "doc_id"),
    "q68_referential_audit" -> ("orders" -> "o_orderkey"),
    // d89 runs d86's function (its GOLDEN-pinned rows-only name).
    "d89_bigram_entropy_native" -> ("documents" -> "doc_id"),
    // d90 rides d09's capped-bucket pair family (replicas duplicate
    // text → pair OUTPUT grows ~8² within caps, the d59/d61 rule) into
    // a fixed 20-bin fold; d91 rides d53's band election (8 replicas
    // per bucket, input-linear window-min) into the ≤64-bin size grid.
    "d90_pair_jaccard_histogram" -> ("documents" -> "doc_id"),
    "d91_dup_cluster_sizes" -> ("documents" -> "doc_id"),
    // m19 is a pure per-video arithmetic projection (no frame explode
    // at all — the analytic m11 identity) + media-domain windows.
    "m19_sampling_savings" -> ("documents" -> "doc_id"),
    // q69 rides the q55 calendar envelope: fold to days first, then
    // bounded rank windows and a 1-row fold.
    "q69_weekend_effect_u" -> ("orders" -> "o_orderkey"),
    // Round-20 additions — the BPE encoder family. Replicas duplicate
    // text, so the WORD VOCABULARY is fixed: d92's training collect,
    // the native encode pass, and the word join-back all run on the
    // fixed vocab — growth is the one corpus fold (d80's rule) plus
    // the narrow n_docs scan. d93 trains once and encodes the FIXED
    // vocab three times — the corpus fold is the only term that grows.
    // d94's pair ranking and 1-row merge frame are vocab-bounded; its
    // replace-chain runs on the vocab scan, not the corpus.
    "d92_bpe_encode" -> ("documents" -> "doc_id"),
    "d93_bpe_fertility_sweep" -> ("documents" -> "doc_id"),
    "d94_bpe_encode_geometry" -> ("documents" -> "doc_id"),
    // e39: one conditional-count fold onto the 8-cell domain — the
    // d64 fixed-grid envelope (the assignment scan is the only term
    // that grows; e14's degenerate 8-cell quantizer is fixed).
    "e39_cell_staleness" -> ("embeddings" -> "vec_id"),
    // d95: token explode → integer sums onto the doc domain (one
    // map-side-combinable exchange) — input-linear inference. d96:
    // zero-exchange chunk explode, output-linear (~n_tokens/stride
    // chunks per doc).
    "d95_hash_classifier_score" -> ("documents" -> "doc_id"),
    "d96_retrieval_chunks" -> ("documents" -> "doc_id"),
    // d97 rides d22's exact envelope (per-(doc, chunk-hash) collapse,
    // count-only window) with the chunking itself a zero-exchange
    // projection; replicas duplicate text so the chunk-hash domain is
    // FIXED — growth is the explode scan into map-side partials.
    "d97_cdc_chunk_dedup" -> ("documents" -> "doc_id"),
    // d98 rides d09's capped-bucket pair family (replicas duplicate
    // text → pair OUTPUT grows ~8² within caps, the d59/d61/d90 rule)
    // plus two join-backs of the bounded pair side onto the source map.
    "d98_cross_source_neardup" -> ("documents" -> "doc_id"),
    // q70 folds the fact scan onto the ≤11-row discount domain — the
    // q52/q60 fixed-grid envelope.
    "q70_discount_lift" -> ("lineitem" -> "l_orderkey"),
    // e40: encode/reconstruct are literal-codebook arithmetic fused into
    // the scan; the fold lands on the 8-subspace grid (the d64 envelope;
    // the bounded 16-row pqTrain sample collect is the only driver term).
    "e40_pq_distortion" -> ("embeddings" -> "vec_id"),
    // d99: both gate verdicts are scan-fused expressions; one
    // conditional-count fold onto the source domain (the d64 envelope).
    "d99_gate_agreement" -> ("documents" -> "doc_id"),
    // d100 rides d38's exact envelope (native k-sigs, capped buckets,
    // pair OUTPUT grows ~8² within caps under text-duplicating replicas
    // — the d59/d61/d90 rule).
    "d100_onebit_minwise" -> ("documents" -> "doc_id"),
    // d101: one corpus fold onto the fixed source × 101-bin histogram
    // (the d64 envelope); replicas duplicate text so the score
    // distribution — and every threshold window after the fold — is
    // FIXED; growth is the scoring scan into map-side partials.
    "d101_source_quality_calibration" -> ("documents" -> "doc_id"),
    // e41 rides the e03/e04 bucket-join family: 8× vectors over the
    // same bucket domain → buckets gain 8 replicas each, so PAIR rows
    // grow ~8² (the d59/d61 output-linear rule) before the per-anchor
    // WindowGroupLimit cuts them back to 2 rows per anchor.
    "e41_hard_negatives" -> ("embeddings" -> "vec_id"),
    // d102: one tokenize-and-count fold onto the fixed 3-row L domain
    // (the d64 envelope) — growth is the token-count scan alone.
    "d102_context_budget_curve" -> ("documents" -> "doc_id"),
    // e42 rides e41's bucket-join envelope (pair rows ~8² within
    // buckets) into a distinct on (τ, b_id) and a vec × 3 grid join —
    // output-linear in the corpus after the pair cut.
    "e42_semantic_dedup_sweep" -> ("embeddings" -> "vec_id"),
    // m20: decode-seam geometry (no exchange) into the SCALAR
    // array_min bucket election (a projection — no fan-out, no window,
    // nothing that grows per image), then the ≤5-row bucket fold.
    "m20_aspect_bucket_plan" -> ("documents" -> "doc_id"),
    // d103: replicas duplicate text, so every fingerprint group gains
    // 8 members — the adversarial corner for the election exchange,
    // which the literal rn ≤ 4 WindowGroupLimit must cut map-side;
    // totals ride a window-free source fold.
    "d103_dup_cap_retention" -> ("documents" -> "doc_id"),
    // d104: replicas duplicate text, so the (n, gram) domains — bench
    // set and distinct-corpus side alike — are FIXED (the d21/d60
    // envelope); growth is the tagged-gram explode into the distinct
    // pre-folds. Replica ids shuffle the md5 bench split but keep it
    // ~1/16 of the corpus at any scale.
    "d104_decontam_sweep" -> ("documents" -> "doc_id"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a testdata scale dir"))
    // SPARK_GRAFT_STRESS_REPS (default 8): replica count for the scaled
    // corpus — run 8 and 64 to get a THREE-point exponent fit (1×/8×/64×)
    // on a family; a stable exponent across the two spans is the evidence
    // a two-point log-ratio can't give.
    val reps = sys.env.get("SPARK_GRAFT_STRESS_REPS").map(_.toInt).getOrElse(8)
    val names = if (args.nonEmpty) args.toSeq else driving.keys.toSeq.sorted
    val spark = GraftSession.getOrCreate("graft-stress-scale")
    spark.sparkContext.setLogLevel("WARN")
    for (name <- names) {
      val q = graft.queries.GraftQuery.all.find(_.name == name)
        .getOrElse(sys.error(s"unknown query $name"))
      val (table, idCol) = driving.getOrElse(name,
        sys.error(s"no driving-table mapping for $name"))
      // warm codegen/readers on the 1x corpus (untimed)
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      // collect the previous query's garbage OUTSIDE the timed window
      // (the Bench rule — a prior query's heap landing as a GC pause
      // inside this timing skews the exponent)
      System.gc()
      val (_, t1) = timed {
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      val dirN = replicate(spark, sfDir, table, idCol, reps)
      System.gc()
      val (_, tN) = timed {
        q.run(spark, dirN).write.format("noop").mode("overwrite").save()
      }
      val exp = math.log(tN / t1) / math.log(reps.toDouble)
      println(f"[scale] $name%-24s 1x ${t1}%7.2f s   ${reps}%dx ${tN}%7.2f s   exponent ${exp}%5.2f")
    }
    spark.stop()
  }
}
