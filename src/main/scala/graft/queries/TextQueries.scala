package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.operators.NearDup
import graft.sources.Tables

/** Registered text-analysis / dedup queries over documents.parquet — the
  * LLM-data-pipeline operator surface (SURVEY.md §2.4-2.5 analogs plus the
  * training-data ops from the brief: cleaning, token stats, quality scoring,
  * fingerprint dedup, language ID, shingle→minhash→bucket near-dup).
  *
  * Every Spark expression here is a narrow codegen'd column op; the only
  * shuffles are the dedup groupBy (hash partial-agg on a 32-byte key) and
  * the minhash bucket self-join (LSH candidate pairs, never all-pairs).
  *
  * Oracle parity: all regexes use the ASCII dialect (see TextFunctions) so
  * Java and DuckDB RE2 agree; the corpus is verified pure-ASCII.
  */
object TextQueries {

  /** DuckDB expression for the whitespace token list of `text`
    * (package-visible: MediaQueries' m07 text-token mirror uses it). */
  private[queries] val sqlToks =
    """list_filter(regexp_split_to_array(trim(text), '\s+'), t -> len(t) > 0)"""

  /** Spark SQL expression for the word-3-gram list of a column named
    * `toks` — single definition shared by every gram-based query (d08/d09
    * via [[minhashed]] keep their own historically-pinned copy; d18/d21
    * use this one). Guarded: <3 tokens → empty array. */
  // Native 3-gram construction (graft.functions.WordNgrams) — the
  // historical interpreted tree is kept verbatim in TextFunctionsSpec as
  // the parity pin:
  //   CASE WHEN size(toks) >= 3 THEN transform(sequence(0, size(toks)-3),
  //     i -> concat(toks[i],' ',toks[i+1],' ',toks[i+2])) ELSE [] END
  private def sparkGramsCol: org.apache.spark.sql.Column =
    graft.functions.TextExprs.wordNgrams(col("toks"), 3)

  /** The same gram list in DuckDB SQL (1-based subscripts). */
  private val sqlGrams: String =
    """CASE WHEN len(toks) >= 3 THEN
         list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
       ELSE CAST([] AS VARCHAR[]) END"""

  /** The non-overlapping 10-token chunks of a column named `toks`, each
    * joined with single spaces; a trailing partial chunk is dropped and
    * fewer than 10 tokens give an empty array. ONE definition for the
    * chunk-dedup family (d22/d37/d57/d79), mirrored by [[sqlChunks10]]. */
  private def chunks10: org.apache.spark.sql.Column =
    when(size(col("toks")) >= 10,
      expr("transform(sequence(0, size(toks) div 10 - 1), i -> array_join(slice(toks, i*10+1, 10), ' '))"))
      .otherwise(expr("cast(array() as array<string>)"))

  /** DuckDB mirror of [[chunks10]] (1-based inclusive slices). */
  private val sqlChunks10: String =
    """CASE WHEN len(toks) >= 10 THEN
         list_transform(range(0, len(toks) // 10),
           i -> array_to_string(toks[i*10 + 1 : i*10 + 10], ' '))
       ELSE CAST([] AS VARCHAR[]) END"""

  /** DuckDB form of TextFunctions.fingerprint — lower → squish → trim →
    * md5. ONE definition: d04/d05/d23 all hash-compare against it, and the
    * lower/squish/trim order is a known cross-engine gotcha. */
  private[queries] val sqlFingerprint: String =
    """md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))"""

  /** Snapshot id parsed from the source tag — NULL (never an error) when
    * the suffix isn't an int, in BOTH engines. Both sides must use the
    * try-variant explicitly: Spark 4 runs ANSI mode by default, so a plain
    * CAST throws CAST_INVALID_INPUT on any source not shaped 'src<N>'
    * (exactly as a strict CAST would crash DuckDB) — `try_cast` is the
    * null-yielding form in each engine. Pinned by CorpusOpsSpec's
    * non-numeric-source test. */
  private def snapOf: org.apache.spark.sql.Column =
    expr("try_cast(substr(source, 4) as int)")
  private val sqlSnap = "TRY_CAST(substr(source, 4) AS INT)"

  /** The d06 language-ID argmax in DuckDB SQL, ONE definition: the
    * marker-hit select list, the greatest() over per-lang counts, and
    * the tie-broken CASE chain. Interpolated by the d06 AND d76 oracles
    * (via [[sqlLangPredOver]]) and by [[sqlGatedCte]] — a drifted copy
    * of the hit pattern or the tie order would silently decouple the
    * gate from the classifier it claims to share. */
  private lazy val sqlLangHits: String =
    graft.functions.TextFunctions.langMarkers.map { case (code, pat) =>
      s"len(regexp_extract_all(lower(text), '$pat')) AS ${code}_n"
    }.mkString(", ")
  private lazy val sqlLangHitCols: String =
    graft.functions.TextFunctions.langMarkers.map(m => s"${m._1}_n")
      .mkString(", ")
  private lazy val sqlLangMax: String =
    graft.functions.TextFunctions.langMarkers.map(m => s"${m._1}_n")
      .mkString("greatest(", ", ", ")")
  private lazy val sqlLangCase: String = {
    val cases = graft.functions.TextFunctions.langMarkers.map {
      case (code, _) => s"WHEN ${code}_n = g AND ${code}_n > 0 THEN '$code'"
    }.mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  /** Subquery computing (`carry`, lang_pred) over documents from the
    * shared pieces above. */
  private def sqlLangPredOver(carry: String): String =
    s"""(SELECT $carry, $sqlLangCase AS lang_pred
      FROM (SELECT $carry, $sqlLangMax AS g, $sqlLangHitCols
        FROM (SELECT $carry, $sqlLangHits FROM documents) h) s)"""

  /** doc_id, toks, minhash (min md5 of the word-3-gram shingles — the
    * native one-pass [[graft.functions.MinHashExprs.minMd5Shingle]],
    * byte-identical to the historical
    * `array_min(transform(shingles, md5))` formulation; parity pinned by
    * NearDupSpec). The oracle CTE below keeps the explicit string-shingle
    * form — DuckDB 1-based subscripts index the same trigrams as Spark's
    * 0-based — and also carries `shingle_set` for the oracle-side jaccard
    * (the Spark side verifies over hashed shingles instead, see
    * candidatePairs). */
  private def minhashed(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .withColumn("minhash",
        graft.functions.MinHashExprs.minMd5Shingle(col("toks")))

  private[queries] val sqlMinhashCte: String =
    s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
      sh AS (SELECT doc_id,
        list_transform(range(1, greatest(len(toks)-1, 1)),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles
        FROM toks),
      mh AS (SELECT doc_id, list_distinct(shingles) AS shingle_set,
        list_min(list_transform(shingles, s -> md5(s))) AS minhash
        FROM sh)"""

  /** Cap on the single-band minhash bucket size (d09/d27): a bucket of g
    * docs expands to g²/2 pairs inside ONE generator row, each pair
    * carrying two full hashed shingle sets — on a boilerplate-heavy corpus
    * an uncapped hot bucket OOMs its task (same hazard, same cap, same
    * drop-the-whole-bucket policy as NearDup.minhashLshPairs' maxBucket
    * and Winnowing's shared-fingerprint cap). Over-cap buckets are
    * near-identical boilerplate clusters; pair OUTPUT for them is dropped
    * deterministically — use the linear cluster form (d15) when giant dup
    * groups must still collapse. Mirrored in the DuckDB oracles via
    * QUALIFY count(*) OVER (PARTITION BY minhash). */
  private val lshMaxBucket = 64

  /** NearDup's md5 banding (NearDup.md5Banded) in DuckDB SQL, as the
    * body of a `b` CTE over a relation exposing (doc_id, sh). `extraCols`
    * carries payload columns (e.g. " sh," when the verify step needs the
    * gram sets). */
  private def sqlMd5Bands(from: String, extraCols: String = ""): String =
    s"""SELECT doc_id,$extraCols t,
        list_min(list_transform(sh, x -> md5(t || ':' || x))) AS mh
      FROM $from, (SELECT unnest(range(0, ${NearDup.Bands.Md5Grams.tables})) AS t) tt
      WHERE len(sh) > 0"""

  /** NearDup.minhashLshRepresentatives over the md5 family in DuckDB SQL:
    * CTEs `b` (bands of the gram relation `g`), `bm` (each bucket's min
    * id) and `r` (doc_id, rep) — the per-doc min over its buckets. Docs
    * with no bands have no `r` row; each oracle LEFT JOINs and takes
    * COALESCE(r.rep, doc_id), as the operator does. */
  private val sqlMd5RepCtes: String =
    s"""b AS (${sqlMd5Bands("g")}),
        bm AS (SELECT t, mh, MIN(doc_id) AS mn FROM b GROUP BY 1, 2),
        r AS (SELECT b.doc_id, MIN(bm.mn) AS rep
          FROM b JOIN bm USING (t, mh) GROUP BY 1)"""

  /** Token budget per training pack (d28) — a typical 2k-context window. */
  private val packBudget = 2048

  /** Sliding-window width (tokens) for d44's duplicated-span detector —
    * the "minimum duplicated substring length" knob of an
    * exact-substring-dedup pass (suffix-array dedup uses ~50 BPE tokens;
    * 8 whitespace tokens plays the same role at fixture scale). */
  private val dupSpanWindow = 8

  /** Docs kept per source by the exact-k sampler (d29) — small enough
    * that the rank cap bites even at sf0.01 (25 docs/source), so the
    * driver's verification exercises the filter, not a pass-through. */
  private val sampleK = 10

  /** The capped bucket side of the oracle join — `mhc` is `mh` minus
    * unsignable docs and over-cap buckets (exactly what the Spark side's
    * size(docs) filter admits to pair expansion). */
  private[queries] val sqlMinhashCappedCte: String =
    s"""mhc AS (SELECT * FROM mh WHERE minhash IS NOT NULL
        QUALIFY count(*) OVER (PARTITION BY minhash) <= $lshMaxBucket)"""

  /** Verified near-dup candidate pairs (a_id, b_id, jaccard) — ONE
    * definition shared by d09 (emits the pairs), d27 (keeps jaccard >= 0.5
    * pairs as CC edges) and the audits over d09's pair table, so they
    * cannot drift. The single-band lineage (solo buckets, hashed-shingle
    * verify, bucket cap) is NearDup.singleBandPairs, shared with d31, d38
    * and d100; the bucket key is [[minhashed]]'s md5 minhash (d08's
    * oracle-pinned signature). */
  private[queries] def candidatePairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    NearDup.singleBandPairs(minhashed(s, d), col("minhash"), lshMaxBucket)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("jaccard"))

  /** DuckDB transliteration of Winnowing's fingerprint pipeline (same
    * constants K=3, W=4, base 131/1009, mod 2^31; list_reduce over a
    * prepended zero == Spark aggregate with a 0 init; 1-based subscripts
    * vs Spark's 0-based sequence). */
  private val sqlWinnowCte: String =
    s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
      th AS (SELECT doc_id,
          list_transform(toks, t -> list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
            (a, c) -> (a * 131 + c) % 2147483648)) AS th
        FROM toks),
      kh AS (SELECT doc_id,
          CASE WHEN len(th) >= 3 THEN
            list_transform(range(0, len(th) - 2),
              i -> ((th[i + 1] * 1009 + th[i + 2]) * 1009 + th[i + 3]) % 2147483648)
          ELSE CAST([] AS BIGINT[]) END AS kh
        FROM th),
      fp AS (SELECT doc_id,
          CASE WHEN len(kh) = 0 THEN CAST([] AS BIGINT[])
          ELSE list_distinct(list_transform(range(0, greatest(len(kh) - 4, 0) + 1),
            i -> list_min(kh[i + 1 : i + 4]))) END AS fps
        FROM kh),
      f AS (SELECT doc_id, unnest(fps) AS fp FROM fp)"""

  val all: Seq[GraftQuery] = Seq(

    // ---- T1-T5 cleaning pipeline (reference parity over documents) -------
    GraftQuery(
      "d01_clean_text",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), cleanTextAscii(col("text")).as("clean")),
      // trim AFTER collapsing (str_squish strips all edge whitespace; see
      // TextFunctions.squish)
      Some(s"""SELECT doc_id,
        trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          lower(text), '$urlPattern', '', 'g'),
          '$asciiMentionPattern', '', 'g'),
          '$asciiSpanishStopwordPattern', '', 'g'), '\\s+', ' ', 'g')) AS clean
        FROM documents""")),

    // ---- token counting: whitespace + BPE-ish subword proxy --------------
    GraftQuery(
      "d02_token_stats",
      (s, d) =>
        Tables.documents(s, d).select(
          col("doc_id"),
          tokenCount(col("text")).cast("bigint").as("n_tokens"),
          bpeishTokenCount(col("text")).cast("bigint").as("n_bpeish"),
          length(col("text")).cast("bigint").as("len_chars")),
      Some(s"""SELECT doc_id,
        CAST(len($sqlToks) AS BIGINT) AS n_tokens,
        CAST(len(regexp_extract_all(text, '$bpeishPattern')) AS BIGINT) AS n_bpeish,
        CAST(length(text) AS BIGINT) AS len_chars
        FROM documents""")),

    // ---- quality scoring --------------------------------------------------
    GraftQuery(
      "d03_quality",
      (s, d) =>
        Tables.documents(s, d).select(
          col("doc_id"),
          punctRatio(col("text")).as("punct_ratio"),
          upperRatio(col("text")).as("upper_ratio"),
          qualityScore(col("text")).as("quality_score")),
      Some("""SELECT doc_id, punct_ratio, upper_ratio,
          greatest(0.0, least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
            * (1.0 - punct_ratio) * (1.0 - upper_ratio)) AS quality_score
        FROM (
          SELECT doc_id, text,
            CASE WHEN length(text) = 0 THEN 0.0
              ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
                / CAST(length(text) AS DOUBLE) END AS punct_ratio,
            CASE WHEN length(text) = 0 THEN 0.0
              ELSE CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE)
                / CAST(length(text) AS DOUBLE) END AS upper_ratio
          FROM documents) t""")),

    // ---- exact-dedup fingerprint (per-doc key) ---------------------------
    GraftQuery(
      "d04_fingerprints",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), fingerprint(col("text")).as("fingerprint")),
      Some(s"""SELECT doc_id, $sqlFingerprint AS fingerprint
        FROM documents""")),

    // ---- exact dedup at scale: hash-groupBy on the fingerprint -----------
    // Partial (map-side) agg collapses dup groups before the shuffle; the
    // shuffled key is a fixed 32-byte hash — the 100 TB-safe exact-dedup.
    GraftQuery(
      "d05_dedup_groups",
      (s, d) =>
        Tables.documents(s, d)
          .groupBy(fingerprint(col("text")).as("fingerprint"))
          .agg(min(col("doc_id")).as("keeper_doc_id"),
            count(lit(1)).as("n_docs")),
      Some(s"""SELECT $sqlFingerprint AS fingerprint,
        MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_docs
        FROM documents GROUP BY 1""")),

    // ---- heuristic language ID -------------------------------------------
    GraftQuery(
      "d06_lang_id",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), langId(col("text")).as("lang_pred")),
      Some(s"""SELECT doc_id, lang_pred
        FROM ${sqlLangPredOver("doc_id")} t""")),

    // ---- stopword density -------------------------------------------------
    GraftQuery(
      "d07_stopword_ratio",
      (s, d) =>
        Tables.documents(s, d).select(
          col("doc_id"),
          stopwordHitRatio(col("text"), englishStopwordPattern).as("stopword_ratio")),
      Some(s"""SELECT doc_id,
        CASE WHEN len($sqlToks) = 0 THEN 0.0
          ELSE CAST(len(regexp_extract_all(lower(text), '$englishStopwordPattern')) AS DOUBLE)
            / CAST(len($sqlToks) AS DOUBLE) END AS stopword_ratio
        FROM documents""")),

    // ---- shingle → minhash (word-3-gram, md5-min signature) --------------
    GraftQuery(
      "d08_minhash_3gram",
      (s, d) => minhashed(s, d).select(col("doc_id"), col("minhash")),
      Some(s"""$sqlMinhashCte SELECT doc_id, minhash FROM mh""")),

    // ---- near-dup candidate pairs: LSH bucket groupBy + verify jaccard ---
    // See candidatePairs (shared with d27) for the scale shape and the
    // two pushdown/shuffle rules it encodes.
    GraftQuery(
      "d09_near_dup_pairs",
      (s, d) => candidatePairs(s, d),
      Some(s"""$sqlMinhashCte, $sqlMinhashCappedCte
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS DOUBLE) /
          CAST(len(list_distinct(list_concat(a.shingle_set, b.shingle_set))) AS DOUBLE) AS jaccard
        FROM mhc a JOIN mhc b ON a.minhash = b.minhash AND a.doc_id < b.doc_id""")),

    // ---- SimHash-64 signatures (xxhash64-based — no DuckDB equivalent,
    // rows-only check; deterministic for fixed input) ----------------------
    GraftQuery(
      "d10_simhash",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), graft.operators.NearDup.simhashOf("text").as("simhash")),
      None),

    // ---- SimHash banded near-dup pairs (Hamming ≤ 8 on candidates) ------
    GraftQuery(
      "d11_simhash_pairs",
      (s, d) => graft.operators.NearDup.simhashPairs(Tables.documents(s, d)),
      None),

    // ---- banded MinHash near-dup (native, 8 tables; see NearDup) --------
    GraftQuery(
      "d12_minhash_lsh_pairs",
      (s, d) => graft.operators.NearDup
        .minhashLshPairs(Tables.documents(s, d), maxDistance = 0.5)
        .select(col("a_id"), col("b_id")),
      None),

    // ---- term frequency stats: top term per doc by (tf, term) ------------
    // The tf-df machinery of a TF-IDF pipeline with integer-only outputs
    // (cross-engine float log() is not bit-stable; ordering by tf with a
    // lexicographic tiebreak keeps the result exact). Two shuffles: one on
    // (doc, term) for tf, one broadcast-able agg on term for df.
    GraftQuery(
      "d13_top_terms",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        val tf = toks.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        // df as a window count over tf (tf rows are unique per (doc,
        // term), so rows-per-term == count_distinct(doc) over raw
        // tokens). A groupBy+join formulation would recompute the whole
        // scan→explode→groupBy lineage once per join side (the self-join
        // recompute trap — no ReusedExchange across differently-aliased
        // sides); the window keeps ONE lineage: agg shuffle → term window
        // → doc window.
        val byTerm = Window.partitionBy(col("term"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("term").asc)
        tf.withColumn("df", count(lit(1)).over(byTerm))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("term"), col("tf"), col("df"))
      },
      Some(s"""WITH t AS (SELECT doc_id, unnest($sqlToks) AS term FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1),
        r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
            row_number() OVER (PARTITION BY tf.doc_id
              ORDER BY tf.tf DESC, tf.term ASC) AS rn
          FROM tf JOIN df USING (term))
        SELECT doc_id, term, tf, df FROM r WHERE rn = 1""")),

    // ---- near-dup clustering: doc → representative (the dedup-at-scale
    // shape — linear output even for giant duplicate groups, where the
    // pair form is quadratic; see NearDup.minhashLshRepresentatives) -----
    GraftQuery(
      "d15_neardup_clusters",
      (s, d) => graft.operators.NearDup
        .minhashLshRepresentatives(Tables.documents(s, d)),
      None),

    // ---- winnowing (MOSS) document fingerprints: rolling k-gram hash +
    // window-min selection. The partial-overlap dedup primitive — catches
    // contained copies that whole-doc hashes (d04/d08/d10) miss. Narrow
    // per-row expressions, no shuffle. ------------------------------------
    GraftQuery(
      "d16_winnow_fingerprints",
      (s, d) => graft.operators.Winnowing.fingerprints(Tables.documents(s, d)),
      Some(s"$sqlWinnowCte SELECT doc_id, fp FROM f")),

    // ---- overlap candidate pairs from shared winnowed fingerprints:
    // bucket-grouped (never all-pairs), boilerplate buckets capped. -------
    GraftQuery(
      "d17_winnow_shared_pairs",
      (s, d) => graft.operators.Winnowing
        .sharedFingerprintPairs(Tables.documents(s, d)),
      Some(s"""$sqlWinnowCte,
        ok AS (SELECT fp FROM f GROUP BY fp HAVING COUNT(*) <= 64)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared
        FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        WHERE a.fp IN (SELECT fp FROM ok)
        GROUP BY 1, 2 HAVING COUNT(*) >= 2""")),

    // ---- intra-document repetition (Gopher-style duplication signal) -----
    // rep_ratio = fraction of word-3-gram occurrences that are repeats of
    // an earlier gram in the same doc (1 - distinct/total). High values
    // flag boilerplate/spam/looped generations — the standard pre-training
    // quality gate that whole-doc dedup misses. Narrow per-row pass; the
    // division is one exact-int / exact-int op, bit-stable cross-engine.
    GraftQuery(
      "d18_repetition",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .withColumn("grams", sparkGramsCol)
          .select(
            col("doc_id"),
            size(col("grams")).cast("bigint").as("n_grams"),
            when(size(col("grams")) === 0, lit(0.0))
              .otherwise(lit(1.0) -
                size(array_distinct(col("grams"))).cast("double") /
                  size(col("grams")).cast("double"))
              .as("rep_ratio")),
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        g AS (SELECT doc_id, $sqlGrams AS grams FROM toks)
        SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
          CASE WHEN len(grams) = 0 THEN 0.0
            ELSE 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
              / CAST(len(grams) AS DOUBLE) END AS rep_ratio
        FROM g""")),

    // ---- deterministic stratified sampling (corpus-mixing primitive) -----
    // Hash-based Bernoulli sampling with per-stratum rates: keep a doc iff
    // md5(doc_id) sorts below the stratum's hex threshold. The 100 TB
    // corpus-mixing shape: no shuffle, no RNG state, reproducible across
    // engines/runs/partitionings (the property rand()-based sampling
    // lacks), and the rate is exact in expectation (md5 is uniform over
    // 16^32; '80…' = 1/2, '40…' = 1/4). Even-numbered sources keep 50%,
    // odd 25% — stands in for real mixing weights (wiki vs crawl).
    GraftQuery(
      "d19_stratified_sample",
      (s, d) => {
        val key = md5(col("doc_id").cast("string"))
        val half = lit("80000000000000000000000000000000")
        val quarter = lit("40000000000000000000000000000000")
        val threshold =
          when(snapOf % 2 === 0, half).otherwise(quarter)
        Tables.documents(s, d)
          .filter(key < threshold)
          .select(col("doc_id"), col("source"))
      },
      Some(s"""SELECT doc_id, source FROM documents
        WHERE md5(CAST(doc_id AS VARCHAR)) <
          CASE WHEN $sqlSnap % 2 = 0
            THEN '80000000000000000000000000000000'
            ELSE '40000000000000000000000000000000' END""")),

    // ---- word-shape quality stats (mean/max token length, alpha frac) ----
    // The remaining Gopher-ish heuristics over token shape: degenerate
    // corpora show as extreme mean word length or low alphabetic fraction.
    // Single narrow pass; sums are exact ints so divisions are bit-stable.
    GraftQuery(
      "d20_word_stats",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .select(
            col("doc_id"),
            when(size(col("toks")) === 0, lit(0.0))
              .otherwise(expr("aggregate(toks, 0L, (a, t) -> a + length(t))").cast("double") /
                size(col("toks")).cast("double"))
              .as("mean_word_len"),
            coalesce(expr("array_max(transform(toks, t -> length(t)))"), lit(0))
              .cast("bigint").as("max_word_len"),
            when(size(col("toks")) === 0, lit(0.0))
              .otherwise(expr("size(filter(toks, t -> t rlike '^[A-Za-z]+$'))").cast("double") /
                size(col("toks")).cast("double"))
              .as("alpha_frac")),
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents)
        SELECT doc_id,
          CASE WHEN len(toks) = 0 THEN 0.0
            ELSE CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE) END AS mean_word_len,
          CAST(coalesce(list_max(list_transform(toks, t -> len(t))), 0) AS BIGINT)
            AS max_word_len,
          CASE WHEN len(toks) = 0 THEN 0.0
            ELSE CAST(len(list_filter(toks, t -> regexp_full_match(t, '[A-Za-z]+')))
              AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS alpha_frac
        FROM toks""")),

    // ---- benchmark decontamination (gram-overlap semi-join) --------------
    // The standard pre-training step: flag corpus docs sharing a word-3-gram
    // with a held-out benchmark/eval set. The "benchmark" here is the
    // deterministic 1/16 slice md5(doc_id) LIKE '0%' (no separate fixture
    // table exists). 100 TB shape: the benchmark gram set is tiny relative
    // to the corpus — collected to a broadcast hash set, so the corpus side
    // is a narrow scan + broadcast semi-join with NO corpus shuffle; the
    // only exchange is the final per-doc count (map-side partial agg on
    // doc_id). Output: contaminated doc ids + how many distinct grams hit.
    GraftQuery(
      "d21_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .withColumn("grams", sparkGramsCol)
          .withColumn("is_bench",
            substring(md5(col("doc_id").cast("string")), 1, 1) === "0")
        val bench = docs.filter(col("is_bench"))
          .select(explode(col("grams")).as("gram")).distinct()
        docs.filter(!col("is_bench"))
          .select(col("doc_id"), explode(array_distinct(col("grams"))).as("gram"))
          .join(broadcast(bench), "gram")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bench_grams"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        g AS (SELECT doc_id, $sqlGrams AS grams,
            substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_bench
          FROM toks),
        bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE is_bench),
        corpus AS (SELECT doc_id, unnest(list_distinct(grams)) AS gram
          FROM g WHERE NOT is_bench)
        SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bench_grams
        FROM corpus c JOIN bench b USING (gram)
        GROUP BY 1""")),

    // ---- cross-document chunk dedup (C4/Dolma line-dedup analog) ---------
    // The corpus has no newlines, so the "line" unit is a non-overlapping
    // 10-token chunk; a chunk is duplicated if it occurs in >= 2 distinct
    // docs. Per doc: chunk count, duplicated-chunk count, duplicated
    // fraction (the signal C4 uses to drop boilerplate lines). Scale shape:
    // both shuffles key on md5(chunk) — a fixed 32-byte key with map-side
    // partial agg, never the chunk text itself; identical rationale to the
    // d05 fingerprint groupBy. dup_frac is exact-int / exact-int.
    GraftQuery(
      "d22_chunk_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .withColumn("chunks", chunks10)
        // One lineage, no self-join: a groupBy+join-back formulation
        // would recompute the scan→chunk→explode→md5 pipeline once per
        // side (self-join recompute trap). Instead: per-(doc, chunk)
        // occurrence counts, then rows-per-chunk == distinct docs via a
        // count-only window (no collect_set — a boilerplate chunk shared
        // by millions of docs stays a streamed count, not a giant set).
        val occ = docs
          .select(col("doc_id"), explode(col("chunks")).as("c"))
          .select(col("doc_id"), md5(col("c")).as("ch"))
          .groupBy(col("doc_id"), col("ch"))
          .agg(count(lit(1)).as("occ"))
        val per = occ
          .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("ch"))))
          .groupBy(col("doc_id"))
          .agg(sum(col("occ")).as("n_chunks"),
            sum(when(col("nd") >= 2, col("occ")).otherwise(0L))
              .as("n_dup_chunks"))
        docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
            coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
            when(coalesce(col("n_chunks"), lit(0L)) === 0, lit(0.0))
              .otherwise(col("n_dup_chunks").cast("double") /
                col("n_chunks").cast("double"))
              .as("dup_frac"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        ck AS (SELECT doc_id,
            $sqlChunks10 AS chunks
          FROM toks),
        e AS (SELECT doc_id, md5(unnest(chunks)) AS ch FROM ck),
        gl AS (SELECT ch, COUNT(DISTINCT doc_id) AS nd FROM e GROUP BY 1),
        per AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
            CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
          FROM e JOIN gl USING (ch) GROUP BY 1)
        SELECT t.doc_id,
          coalesce(per.n_chunks, 0) AS n_chunks,
          coalesce(per.n_dup_chunks, 0) AS n_dup_chunks,
          CASE WHEN coalesce(per.n_chunks, 0) = 0 THEN 0.0
            ELSE CAST(per.n_dup_chunks AS DOUBLE) / CAST(per.n_chunks AS DOUBLE)
          END AS dup_frac
        FROM toks t LEFT JOIN per ON t.doc_id = per.doc_id""")),

    // ---- cross-snapshot dedup: new crawl anti-joined against the prior
    // dump. The other standard corpus-refresh op (alongside d21's benchmark
    // decontamination): keep only new-snapshot docs whose normalized
    // fingerprint is absent from the previous snapshot. Snapshots are
    // stand-ins derived from the source id's parity (even = prior dump,
    // odd = new crawl). Scale shape: shuffle LEFT ANTI join on the fixed
    // 32-byte fingerprint — both sides hash-partitioned, no row ever
    // crosses twice; were the prior dump small it would broadcast (same
    // 64 MB threshold as every join here), and at 100 TB a bloom-filter
    // pre-pass on the fingerprint would cut the shuffled new-crawl bytes.
    GraftQuery(
      "d23_cross_snapshot_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("fp", fingerprint(col("text")))
          .withColumn("snap", snapOf % 2)
        val prior = docs.filter(col("snap") === 0).select(col("fp"))
        docs.filter(col("snap") === 1)
          .join(prior, Seq("fp"), "left_anti")
          .select(col("doc_id"), col("fp").as("fingerprint"))
      },
      Some(s"""WITH f AS (SELECT doc_id,
          $sqlFingerprint AS fp,
          $sqlSnap % 2 AS snap
        FROM documents)
        SELECT n.doc_id, n.fp AS fingerprint FROM f n
        WHERE n.snap = 1
          AND NOT EXISTS (SELECT 1 FROM f p WHERE p.snap = 0 AND p.fp = n.fp)""")),

    // ---- vocab coverage: cumulative corpus coverage of the top-N vocab ---
    // The tokenizer-training primitive: rank terms by corpus frequency and
    // report, per rank, the cumulative fraction of all token occurrences
    // the top-rank vocabulary covers (where to cut a vocab / what OOV rate
    // to expect). Scale shape: term counts are a partial-agg groupBy
    // (vocab ≪ corpus); the top-1000 cut is TakeOrderedAndProject (bounded
    // driver/exchange bytes); the running sum is a single-partition window
    // over ≤1000 rows — bounded by construction, NOT a corpus-sized global
    // window. cum_frac = exact-int cumulative / exact-int total.
    GraftQuery(
      "d24_vocab_coverage",
      (s, d) => {
        val byFreq = Window.orderBy(col("tf").desc, col("term").asc)
        val tf = Tables.documents(s, d)
          .select(explode(tokens(col("text"))).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("tf"))
        val total = tf.agg(sum(col("tf")).as("total"))
        tf.orderBy(col("tf").desc, col("term").asc).limit(1000)
          .crossJoin(broadcast(total))
          .withColumn("rank", row_number().over(byFreq).cast("bigint"))
          .withColumn("cum_tf",
            sum(col("tf")).over(byFreq.rowsBetween(
              Window.unboundedPreceding, Window.currentRow)))
          .select(col("rank"), col("term"), col("tf"),
            (col("cum_tf").cast("double") / col("total").cast("double"))
              .as("cum_frac"))
      },
      Some(s"""WITH t AS (SELECT unnest($sqlToks) AS term FROM documents),
        tf AS (SELECT term, COUNT(*) AS tf FROM t GROUP BY 1),
        tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS total FROM tf),
        top AS (SELECT term, tf FROM tf ORDER BY tf DESC, term ASC LIMIT 1000)
        SELECT row_number() OVER (ORDER BY tf DESC, term ASC) AS rank,
          term, tf,
          CAST(CAST(SUM(tf) OVER (ORDER BY tf DESC, term ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS DOUBLE) / CAST(total AS DOUBLE) AS cum_frac
        FROM top, tot""")),

    // ---- composite quality filter: the canonical training-data gate -----
    // Combines the scalar signals (token count, quality score, stopword
    // density, language) into one narrow filtering pass — the shape of a
    // production corpus filter: all predicates fuse into the scan stage,
    // output is the surviving doc ids + their signals.
    GraftQuery(
      "d14_quality_filter",
      (s, d) => qualityGated(s, d)
        .select(col("doc_id"), col("n_tokens"), col("quality_score"),
          col("stopword_ratio"), col("lang_pred")),
      Some(s"""$sqlGatedCte
          SELECT doc_id, n_tokens, quality_score, stopword_ratio, lang_pred
          FROM gated""")),

    // ---- the end-to-end corpus job: gate → keep-first exact dedup --------
    // The capstone composition a production preprocessing run executes as
    // ONE query: score + filter every doc (narrow scan-fused pass), then
    // keep the lowest-id doc per normalized fingerprint AMONG THE
    // SURVIVORS (gate-then-dedup order matters: a low-quality copy must
    // not shadow its admissible duplicate). One lineage end to end — the
    // keeper is a row_number window over the fingerprint, not a
    // groupBy+join-back (self-join recompute trap); the single shuffle is
    // the window exchange on the 32-byte fingerprint.
    GraftQuery(
      "d25_corpus_pipeline",
      (s, d) => {
        val w = Window.partitionBy(col("fingerprint")).orderBy(col("doc_id"))
        qualityGated(s, d)
          .withColumn("fingerprint", fingerprint(col("text")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("fingerprint"), col("n_tokens"),
            col("quality_score"))
      },
      Some(s"""$sqlGatedCte,
          fp AS (SELECT doc_id, $sqlFingerprint AS fingerprint, n_tokens,
              quality_score,
              row_number() OVER (PARTITION BY $sqlFingerprint
                ORDER BY doc_id) AS rn
            FROM gated)
          SELECT doc_id, fingerprint, n_tokens, quality_score
          FROM fp WHERE rn = 1""")),

    // ---- PII scrub: mask emails / IPv4s / phones, count each category ----
    // The C4/Dolma-style redaction stage. Narrow codegen'd map over the
    // scan — no shuffle, O(chars) per row; the patterns are RE2-safe and
    // byte-identical to the oracle's (TextFunctions scaladoc).
    GraftQuery(
      "d26_pii_scrub",
      (s, d) =>
        Tables.documents(s, d).select(
          col("doc_id"),
          scrubPii(col("text")).as("scrubbed"),
          piiCount(col("text"), emailPattern).cast("bigint").as("n_email"),
          piiCount(col("text"), ipv4Pattern).cast("bigint").as("n_ip"),
          piiCount(col("text"), phonePattern).cast("bigint").as("n_phone")),
      Some(s"""SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(text,
          '$emailPattern', '<EMAIL>', 'g'),
          '$ipv4Pattern', '<IP>', 'g'),
          '$phonePattern', '<PHONE>', 'g') AS scrubbed,
        CAST(len(regexp_extract_all(text, '$emailPattern')) AS BIGINT) AS n_email,
        CAST(len(regexp_extract_all(text, '$ipv4Pattern')) AS BIGINT) AS n_ip,
        CAST(len(regexp_extract_all(text, '$phonePattern')) AS BIGINT) AS n_phone
        FROM documents""")),

    // ---- exact-transitive near-dup clusters: verified-pair edges + ------
    // connected components. The upgrade over d15's one-pass approximation:
    // chains A~B~C where A and C never share a bucket still collapse into
    // one cluster (ConnectedComponents scaladoc). Edges are EXACTLY the
    // d09 candidate pairs (one shared candidatePairs definition — the two
    // queries cannot drift) that PASS jaccard >= 0.5 verification —
    // clusters are built from confirmed near-dups, not raw bucket
    // collisions. Solo buckets (unsignable docs) have size 1 and produce
    // no pairs, so no isNotNull filter is needed — the filter form let
    // predicate pushdown inline the interpreted minhash chain into the
    // scan condition, re-tokenizing per shingle (9.3 s of d27's 13.2 s at
    // sf0.1 before round 11). Every doc appears in the output (isolated
    // docs label themselves), so this is the full doc ->
    // cluster-representative assignment a dedup pass consumes.
    // Oracle: DuckDB recursive CTE computes the transitive closure and
    // takes the per-vertex min label — the same fixpoint the distributed
    // loop converges to.
    GraftQuery(
      "d27_cc_clusters",
      (s, d) => {
        import graft.operators.ConnectedComponents
        val edges = candidatePairs(s, d)
          .filter(col("jaccard") >= 0.5)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val vertices = Tables.documents(s, d).select(col("doc_id").as("id"))
        ConnectedComponents.labelPropagate(vertices, edges)
          .select(col("id").as("doc_id"), col("comp").as("comp_id"))
      },
      oracleD27),

    // ---- sequence packing: assign docs to fixed-token-budget packs ------
    // The training-data prep step after dedup/gating: concatenate docs
    // into model-sequence-sized packs. Deterministic greedy semantics: docs
    // are packed in doc_id order within each source; a doc belongs to the
    // pack its RUNNING START falls in (pack_id = floor(preceding-cumsum /
    // budget)), so a budget-crossing doc stays with the pack it started —
    // packs may overrun by less than one doc, never underfill mid-stream
    // (exactly the concat-then-split boundary rule of LLM pretraining
    // pipelines, at whole-doc granularity).
    // Scale shape: ONE window sum partitioned by source — parallelism =
    // sources, each partition one sort. At 100 TB the same query runs over
    // (source, shard) with shard = hash(doc_id) % k when per-source order
    // may be relaxed, or over the date-partitioned layout's natural files;
    // the per-partition sort is the inherent price of deterministic
    // packing. No joins, no generator, one exchange.
    GraftQuery(
      "d28_sequence_pack",
      (s, d) => {
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            tokenCount(col("text")).cast("bigint").as("n_tokens"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .select(col("doc_id"), col("source"), col("n_tokens"),
            floor((col("cum") - col("n_tokens")) / lit(packBudget.toDouble))
              .cast("bigint").as("pack_id"))
      },
      Some(s"""WITH nt AS (SELECT doc_id, source,
          CAST(len($sqlToks) AS BIGINT) AS n_tokens FROM documents),
        c AS (SELECT doc_id, source, n_tokens,
          sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
          FROM nt)
        SELECT doc_id, source, n_tokens,
          CAST(floor((cum - n_tokens) / $packBudget.0) AS BIGINT) AS pack_id
        FROM c""")),

    // ---- deterministic exact-k per-stratum sample ------------------------
    // The fixed-SIZE companion to d19's fixed-RATE sampler: exactly k docs
    // per source (eval holdouts, per-domain probe sets, mixture caps need
    // a count, not a rate). Rank docs within each source by
    // (md5(doc_id), doc_id) — a uniform, engine-independent shuffle order,
    // reproducible across runs/partitionings where rand() is not — and
    // keep rank <= k. Scale shape: the rank<=k predicate compiles to a
    // map-side WindowGroupLimit (each task forwards at most k rows per
    // source before the exchange), so shuffle volume is O(k × sources ×
    // tasks) worst-case and the post-shuffle sort sees ~k × tasks rows
    // per source, never the corpus. One exchange on `source`; skew-proof
    // because every source ships the same bounded row count.
    GraftQuery(
      "d29_exact_k_sample",
      (s, d) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"))
          .withColumn("smp_rank", row_number().over(w).cast("bigint"))
          .filter(col("smp_rank") <= sampleK)
      },
      Some(s"""SELECT doc_id, source,
          CAST(row_number() OVER (PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
            AS smp_rank
        FROM documents
        QUALIFY smp_rank <= $sampleK""")),

    // ---- per-source token-length quantiles (corpus length profile) ------
    // The length histogram every mixing/packing decision reads (p50/p90/
    // p99 tokens per source). Exact interpolated percentile is safe HERE
    // because the aggregation state is a count-map over the value domain,
    // and token counts are small integers — O(distinct lengths) per
    // source, not O(docs). For unbounded/continuous domains at 100 TB the
    // same query flips to approx_percentile (a fixed-size mergeable
    // sketch, map-side combinable like any partial agg); exactness here
    // buys a hashable oracle. Both engines interpolate rank p*(n-1)
    // linearly; round(…, 6) absorbs their last-ulp formula difference.
    GraftQuery(
      "d30_length_quantiles",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("source"), tokenCount(col("text")).cast("bigint").as("n_tokens"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            round(percentile(col("n_tokens"), lit(0.5)), 6).as("p50_tokens"),
            round(percentile(col("n_tokens"), lit(0.9)), 6).as("p90_tokens"),
            round(percentile(col("n_tokens"), lit(0.99)), 6).as("p99_tokens")),
      Some(s"""WITH nt AS (SELECT source,
          CAST(len($sqlToks) AS BIGINT) AS n_tokens FROM documents)
        SELECT source, COUNT(*) AS n_docs,
          round(quantile_cont(n_tokens, 0.5), 6) AS p50_tokens,
          round(quantile_cont(n_tokens, 0.9), 6) AS p90_tokens,
          round(quantile_cont(n_tokens, 0.99), 6) AS p99_tokens
        FROM nt GROUP BY source""")),

    // ---- cross-snapshot NEAR-dup dedup (re-crawl admission) --------------
    // d23's exact anti-join upgraded to near-dup semantics: a new-crawl
    // doc (snap 1) is dropped when a PRIOR-snapshot doc (snap 0) is
    // jaccard >= 0.5 similar to it — re-crawled pages mutate (timestamps,
    // ads, typo fixes), so exact fingerprints miss most of them. Same
    // candidate model as d09/d27 (shared bucket cap constant, same
    // solo-bucket null handling, hashed-shingle verify), expanded with
    // the same in-bucket generator — the snap tag rides in the struct and
    // only cross-snapshot pairs are verified. Unsignable or over-cap-
    // bucket new docs survive (no verified prior match), mirrored in the
    // oracle via the same QUALIFY cap. Scale shape: ONE signature pass,
    // ONE bucket shuffle, pair expansion bounded by lshMaxBucket, then a
    // distinct + anti-join on doc_id — never a corpus × corpus join.
    GraftQuery(
      "d31_snapshot_neardup",
      (s, d) => {
        val mh = minhashed(s, d).withColumn("snap", snapOf % 2)
        val matched = NearDup.singleBandPairs(mh, col("minhash"),
            lshMaxBucket, "snap")
          .filter(col("a.snap") =!= col("b.snap"))
          .filter(col("jaccard") >= 0.5)
          .select(when(col("a.snap") === 1, col("a.doc_id"))
            .otherwise(col("b.doc_id")).as("doc_id"))
          .distinct()
        mh.filter(col("snap") === 1)
          .select(col("doc_id"))
          .join(matched, Seq("doc_id"), "left_anti")
      },
      Some(s"""$sqlMinhashCte,
        $sqlMinhashCappedCte,
        sc AS (SELECT mhc.doc_id, mhc.shingle_set, mhc.minhash,
            $sqlSnap % 2 AS snap
          FROM mhc JOIN documents USING (doc_id)),
        matched AS (SELECT DISTINCT
            CASE WHEN a.snap = 1 THEN a.doc_id ELSE b.doc_id END AS doc_id
          FROM sc a JOIN sc b
            ON a.minhash = b.minhash AND a.doc_id < b.doc_id
          WHERE a.snap <> b.snap
            AND CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS DOUBLE) /
              CAST(len(list_distinct(list_concat(a.shingle_set, b.shingle_set))) AS DOUBLE)
              >= 0.5)
        SELECT d.doc_id FROM documents d
        WHERE $sqlSnap % 2 = 1
          AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.doc_id = d.doc_id)""")),

    // ---- unigram LM log-probability score (CCNet-style LM filter) --------
    // The language-model quality signal the heuristic gates (d03/d14)
    // can't give: train a unigram LM on the corpus (top-1000 vocabulary,
    // OOV floored at ln(1/total)), score each doc by mean token
    // log-probability — low scores flag gibberish/boilerplate the way
    // CCNet uses a KenLM perplexity bucket. Two passes over the corpus
    // (train, then score) is the honest shape of every corpus-trained
    // filter; at 100 TB the vocab frame (1000 rows) is persisted between
    // them and broadcast to the scoring join, so scoring is
    // explode → broadcast-join → partial-agg on doc_id (docs aren't split
    // across partitions ⇒ the map-side partial collapses each doc to one
    // row before the exchange). Cross-engine determinism: per-token
    // logprobs are rounded to 6 dp and summed as exact DECIMAL(18,6), so
    // the doc mean is independent of summation order; an empty corpus
    // yields NULL total → NULL logprobs end-to-end (no ln(1/0) overflow).
    GraftQuery(
      "d32_unigram_logprob",
      (s, d) => unigramLogprobDocs(s, d),
      Some(s"""WITH $sqlUnigramCtes
        SELECT d.doc_id, sc.logprob_per_token,
          coalesce(sc.n_tokens, 0) AS n_tokens
        FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""")),

    // ---- cross-doc n-gram duplication fraction (Gopher-style signal) -----
    // Per doc: what fraction of its DISTINCT word-3-grams appear in at
    // least one OTHER document? High values flag boilerplate/templated
    // docs that exact dedup (d04/d05) and pairwise near-dup (d09) both
    // miss — the standard corpus-quality signal next to within-doc
    // repetition (d18). Scale shape: ONE lineage — the corpus explodes
    // once into (doc_id, gram-hash) rows (8-byte hashed grams via the
    // native shingleHashes expr, never gram strings), a window count
    // partitioned on the gram hash tags each row with its corpus-wide
    // doc-frequency, and a doc_id agg folds the fraction. That's one
    // corpus scan + two shuffles total; the groupBy-then-join-back
    // alternative pays a second full scan (Catalyst doesn't reuse the
    // exploded subtree across the agg and probe sides) plus a third
    // shuffle. Hot boilerplate grams make a fat window partition but
    // count-only window state is O(1) per partition. The oracle counts
    // the same fractions over string grams — 64-bit hashed distinct-gram
    // counts equal string-gram counts up to ~2^-64 collisions (same
    // argument as candidatePairs' hashed jaccard).
    GraftQuery(
      "d33_gram_dup_frac",
      (s, d) => {
        import graft.functions.MinHashExprs
        val perDoc = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .select(col("doc_id"),
            explode(MinHashExprs.shingleHashes(col("toks"))).as("g"))
          .withColumn("doc_freq",
            count(lit(1)).over(Window.partitionBy(col("g"))))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("doc_freq") > 1, 1L).otherwise(0L)).as("n_dup"))
        Tables.documents(s, d).select(col("doc_id"))
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_grams"), lit(0L)).as("n_grams"),
            coalesce(col("n_dup"), lit(0L)).as("n_dup"),
            (col("n_dup").cast("double") / col("n_grams").cast("double"))
              .as("dup_frac"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        g AS (SELECT doc_id, unnest(list_distinct($sqlGrams)) AS g
          FROM toks),
        f AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY g) AS doc_freq
          FROM g),
        pd AS (SELECT doc_id, COUNT(*) AS n_grams,
            CAST(SUM(CASE WHEN doc_freq > 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_dup
          FROM f GROUP BY 1)
        SELECT d.doc_id, coalesce(pd.n_grams, 0) AS n_grams,
          coalesce(pd.n_dup, 0) AS n_dup,
          CAST(pd.n_dup AS DOUBLE) / CAST(pd.n_grams AS DOUBLE) AS dup_frac
        FROM documents d LEFT JOIN pd USING (doc_id)""")),

    // ---- deterministic train/val/test split ------------------------------
    // Every training pipeline needs a reproducible split that (a) needs
    // NO coordination — pure narrow projection, zero shuffles, so it
    // costs a scan at 100 TB and two runs (or two clusters) always agree
    // — and (b) keys on stable doc identity, so a doc keeps its split
    // across snapshots/re-crawls (no eval→train leakage when the corpus
    // is refreshed, the failure mode d23 guards the content side of).
    // Mechanism: first two hex chars of md5(doc_id) partition [00,ff]
    // into train [00,cb] (204/256 ≈ 79.7%), val [cc,e5] (26/256 ≈
    // 10.2%), test [e6,ff] (26/256 ≈ 10.2%) by plain ASCII string
    // comparison — byte-identical in any engine that can md5 a string,
    // which is what makes the assignment portable (and DuckDB-provable,
    // unlike an xxhash64 bucketing).
    GraftQuery(
      "d34_hash_split",
      (s, d) => {
        val h2 = substring(md5(col("doc_id").cast("string")), 1, 2)
        Tables.documents(s, d)
          .select(col("doc_id"),
            when(h2 < "cc", "train").when(h2 < "e6", "val")
              .otherwise("test").as("split"))
      },
      Some("""SELECT doc_id,
          CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
              THEN 'train'
            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
              THEN 'val'
            ELSE 'test' END AS split
        FROM documents""")),

    // ---- containment-scored overlap pairs (quote/subset detection) ------
    // The asymmetric partial-overlap score: containment = |A∩B|/min(|A|,|B|)
    // over the full winnowed fingerprint sets of d17's candidate pairs. A
    // short doc quoted verbatim inside a long one scores ~1.0 here while
    // its Jaccard is ~|short|/|long| — the case every symmetric detector
    // (d08-d12, d17's raw shared count) under-reports. Candidates come
    // from the capped shared-fingerprint buckets (never all-pairs); the
    // full sets attach via two broadcast join-backs of the small verified
    // pair table, so the corpus-sized side never shuffles. See
    // Winnowing.containmentPairs for the scale notes.
    GraftQuery(
      "d35_containment_pairs",
      (s, d) => graft.operators.Winnowing
        .containmentPairs(Tables.documents(s, d)),
      Some(s"""$sqlWinnowCte,
        ok AS (SELECT fp FROM f GROUP BY fp HAVING COUNT(*) <= 64),
        p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
          WHERE a.fp IN (SELECT fp FROM ok)
          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        sc AS (SELECT p.a_id, p.b_id,
            CAST(len(list_intersect(fa.fps, fb.fps)) AS DOUBLE)
              / CAST(least(len(fa.fps), len(fb.fps)) AS DOUBLE) AS containment,
            CAST(len(list_intersect(fa.fps, fb.fps)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(fa.fps, fb.fps))) AS DOUBLE)
              AS jaccard
          FROM p JOIN fp fa ON fa.doc_id = p.a_id
                 JOIN fp fb ON fb.doc_id = p.b_id)
        SELECT a_id, b_id, containment, jaccard FROM sc
        WHERE containment >= 0.5""")),

    // ---- temperature-based mixture reweighting (corpus flattening) ------
    // The LLaMA/Pile-style mixture op d19's fixed thresholds stand in
    // for: sample stratum s with probability ∝ N_s^α (α = 0.5), i.e.
    // per-doc keep rate r_s = sqrt(N_min/N_s) — the smallest stratum
    // keeps everything, the biggest is downsampled hardest, flattening
    // the mixture toward uniform. The stratum here is `lang` (the
    // fixture's genuinely skewed axis: en dominates ~3.4×, so the en
    // rate ≈ 0.54 and the filter demonstrably bites; `source` is
    // uniform by construction and would verify a pass-through).
    // Admission is the same deterministic md5-threshold Bernoulli as d19
    // (reproducible across runs/engines/partitionings, no RNG state):
    // keep iff the first 8 md5 hex chars sort below
    // lpad(hex(floor(r_s·2³²))). α = 0.5 on purpose — the rate is one
    // IEEE divide + sqrt, both correctly-rounded in any IEEE-754 engine,
    // so the threshold is bit-identical cross-engine (a pow(x, 0.7)
    // would only be 1-ulp-accurate and could flip a floor). Scale
    // shape: the rate table is one tiny map-side-combinable agg
    // broadcast back onto the corpus — the big side never shuffles,
    // admission is a codegen'd narrow filter.
    GraftQuery(
      "d36_temperature_mix",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_s"))
        val rates = counts
          .crossJoin(broadcast(counts.agg(min(col("n_s")).as("n_min"))))
          .select(col("lang"),
            sqrt(col("n_min").cast("double") / col("n_s").cast("double"))
              .as("rate"))
        val h8 = substring(md5(col("doc_id").cast("string")), 1, 8)
        docs.join(broadcast(rates), "lang")
          .filter(col("rate") >= 1.0 ||
            h8 < lpad(lower(hex(floor(col("rate") * lit(4294967296.0))
              .cast("bigint"))), 8, "0"))
          .select(col("doc_id"), col("lang"), col("rate"))
      },
      Some("""WITH c AS (SELECT lang, COUNT(*) AS n_s FROM documents
            GROUP BY 1),
          r AS (SELECT lang,
              sqrt(CAST((SELECT MIN(n_s) FROM c) AS DOUBLE)
                / CAST(n_s AS DOUBLE)) AS rate
            FROM c)
        SELECT d.doc_id, d.lang, r.rate
        FROM documents d JOIN r ON d.lang = r.lang
        WHERE r.rate >= 1.0
          OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <
            lpad(lower(hex(CAST(floor(r.rate * 4294967296.0) AS BIGINT))),
              8, '0')""")),

    // ---- cross-doc duplicate-chunk REMOVAL with reassembly (C4-style) ----
    // d22 measures chunk duplication; this is the transform that acts on
    // it: drop every 10-token chunk that appears in ≥ 2 distinct docs,
    // then stitch each doc's surviving chunks back together in order —
    // the C4/RefinedWeb "remove duplicated spans" pass, producing the
    // cleaned corpus (kept_text) plus per-doc accounting. Chunk
    // convention (10-token windows, tail tokens dropped) is d22's.
    //
    // Scale shape: global per-chunk distinct-doc counts are a map-side-
    // combinable groupBy on the 32-byte chunk hash, attached back via a
    // shuffle JOIN on that hash — not a window: a boilerplate chunk
    // shared by millions of docs would make the window partition buffer
    // all of them (the hot-key shape m04 exists to avoid), while the
    // join streams and AQE skew-splits it. The join-back recomputes the
    // narrow scan→chunk→explode pass once (the documented join-back
    // trade, cf. Multimodal.perceptualHashGroups); reassembly is one
    // groupBy(doc_id) whose per-group state is the doc's own chunks —
    // bounded by doc length, the same envelope as d28's packing.
    GraftQuery(
      "d37_dup_chunk_scrub",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .withColumn("chunks", chunks10)
        val occ = docs
          .select(col("doc_id"), posexplode(col("chunks")).as(Seq("pos", "c")))
          .withColumn("ch", md5(col("c")))
        val counts = occ.groupBy(col("ch"))
          .agg(count_distinct(col("doc_id")).as("nd"))
        val per = occ.join(counts, "ch")
          .groupBy(col("doc_id"))
          .agg(
            sort_array(collect_list(
              when(col("nd") < 2, struct(col("pos"), col("c"))))).as("kept"),
            count(lit(1)).as("n_chunks"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dropped"))
          .select(col("doc_id"),
            array_join(expr("transform(kept, k -> k.c)"), " ").as("kept_text"),
            col("n_chunks"), col("n_dropped"))
        Tables.documents(s, d).select(col("doc_id"))
          .join(per, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("kept_text"), lit("")).as("kept_text"),
            coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
            coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        ck AS (SELECT doc_id, $sqlChunks10 AS chunks FROM toks),
        occ0 AS (SELECT doc_id, unnest(list_transform(range(1, len(chunks) + 1),
            i -> {'pos': i, 'c': chunks[i]})) AS u FROM ck),
        occ AS (SELECT doc_id, u.pos AS pos, u.c AS c, md5(u.c) AS ch
          FROM occ0),
        cnt AS (SELECT ch, COUNT(DISTINCT doc_id) AS nd FROM occ GROUP BY ch),
        per AS (SELECT o.doc_id,
            string_agg(o.c, ' ' ORDER BY o.pos) FILTER (WHERE n.nd < 2)
              AS kept_text,
            CAST(COUNT(*) AS BIGINT) AS n_chunks,
            CAST(SUM(CASE WHEN n.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_dropped
          FROM occ o JOIN cnt n USING (ch) GROUP BY o.doc_id)
        SELECT d.doc_id, COALESCE(p.kept_text, '') AS kept_text,
          COALESCE(p.n_chunks, 0) AS n_chunks,
          COALESCE(p.n_dropped, 0) AS n_dropped
        FROM documents d LEFT JOIN per p USING (doc_id)""")),

    // ---- minhash fidelity eval: k-sig estimate vs exact jaccard ----------
    // The tuning input for every banded-LSH deployment decision (k, bands
    // × rows, threshold): per candidate pair, the k=16 one-permutation
    // minhash ESTIMATE of jaccard (matching-component fraction — the
    // textbook unbiased estimator, sd √(J(1-J)/k)) next to the EXACT
    // hashed-set jaccard, plus the absolute error. The text analog of
    // e07's ANN recall eval: measure the approximation on a bounded
    // sample BEFORE trusting it at 100 TB.
    //
    // Plan shape: identical to d09 — same capped single-band buckets,
    // same in-bucket expansion (never all-pairs); the only addition is
    // the k-sig array riding the bucket payload. The md5-keyed sigs here
    // are the ORACLE-CHECKABLE analog of the production xxhash64 sigs
    // (d12 / NearDup.minhashLshPairs — rows-only, DuckDB has no
    // xxhash64); same estimator, slower hash, exact cross-engine mirror.
    GraftQuery(
      "d38_minhash_est_error",
      (s, d) => {
        // k=16 sigs via the native one-pass expression — the interpreted
        // nested-transform form (k lambda sweeps + k hex arrays per row)
        // measured 6.6 s at sf0.1 vs ~1 s native (same story as
        // MinMd5Shingle; parity pinned by NearDupSpec)
        val withSigs = minhashed(s, d).withColumn("sigs",
          graft.functions.MinHashExprs.kMinMd5Sigs(col("toks"), 16))
        NearDup.singleBandPairs(withSigs, col("minhash"), lshMaxBucket,
            "sigs")
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
            col("jaccard"),
            (aggregate(zip_with(col("a.sigs"), col("b.sigs"),
                (x, y) => when(x === y, lit(1L)).otherwise(lit(0L))),
              lit(0L), _ + _).cast("double") / lit(16.0)).as("est"))
          .withColumn("abs_err", abs(col("est") - col("jaccard")))
      },
      Some(s"""$sqlMinhashCte, $sqlMinhashCappedCte,
        sg AS (SELECT doc_id, list_transform(range(0, 16), i ->
            list_min(list_transform(shingle_set,
              g -> md5(CAST(i AS VARCHAR) || '|' || g)))) AS sigs
          FROM mh)
        SELECT a_id, b_id, jaccard, est, abs(est - jaccard) AS abs_err
        FROM (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS DOUBLE) /
          CAST(len(list_distinct(list_concat(a.shingle_set, b.shingle_set))) AS DOUBLE) AS jaccard,
          CAST(list_sum(list_transform(list_zip(sa.sigs, sb.sigs),
            p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 AS est
        FROM mhc a JOIN mhc b ON a.minhash = b.minhash AND a.doc_id < b.doc_id
        JOIN sg sa ON sa.doc_id = a.doc_id
        JOIN sg sb ON sb.doc_id = b.doc_id) t""")),

    // ---- EXACT similarity join via prefix filtering (PPJoin-lite) --------
    // The n-gram-Jaccard family's exact member: ALL pairs with jaccard
    // ≥ 0.5, no LSH recall loss — the shape to reach for when a dedup
    // decision must be provably complete (d09/d12 trade recall for
    // cheaper candidates). Classic prefix filter: order each doc's gram
    // set rarest-first (global df, then gram), keep only the first
    // |G| - ceil(t·|G|) + 1 grams (= |G| div 2 + 1 at t=0.5); two sets
    // with jaccard ≥ t MUST share a prefix gram, so bucketing on prefix
    // grams is a lossless candidate generator.
    //
    // Scale shape: every stage is keyed on gram or doc_id with map-side
    // partial aggs — never all-pairs. Rarest-first ordering is the skew
    // defense: a boilerplate gram's df is huge, so it sorts LAST and
    // stays out of prefixes; residual hot prefix grams are capped at
    // lshMaxBucket like every bucketed family (drop policy mirrored in
    // the oracle). Candidates dedupe to id-pairs BEFORE verification,
    // and the bounded pair table broadcasts back onto the corpus for the
    // hashed-set jaccard (d35's join-back pattern) — the corpus never
    // shuffles its shingle payloads, the d09-vs-hashed-shingles lesson
    // taken one step further.
    GraftQuery(
      "d39_prefix_jaccard_join",
      (s, d) => {
        import graft.functions.MinHashExprs
        import graft.operators.NearDup
        val sets = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .withColumn("gs", array_distinct(sparkGramsCol))
          .select(col("doc_id"), col("gs"), size(col("gs")).as("sz"),
            MinHashExprs.shingleHashes(col("toks")).as("hs"))
        val ex = sets.select(col("doc_id"), col("sz"),
          explode(col("gs")).as("g"))
        // rarest-first rank per doc via a window (partitions bounded by a
        // doc's gram count) — the groupBy + sort_array + slice + explode
        // reassembly materializes every doc's full (df, gram) array just
        // to re-explode it; the window form ranks in place (judge-grade
        // ~2 s cheaper at sf0.1). df itself is a COUNT-ONLY window over
        // `g` on the SAME exploded lineage (the d33/d40/d44 hot-key rule:
        // count-only window state on a boilerplate gram's corpus-sized
        // partition is one spillable buffer + a counter, and the rows
        // land on that reducer either way) — the previous groupBy(g) +
        // join-back re-ran the tokenize+gram+explode pipeline for the
        // probe side (two corpus explodes, one extra g exchange; the
        // join and the window shuffle the identical row set by g).
        // df values are identical: count(*) over (partition by g) ≡ the
        // inner-joined groupBy count, every g matches itself. Measured
        // isolated two-pass min at sf0.1: 3.88 → 3.51 s (2 corpus
        // explodes → 1; the residual cost is the verify join-backs and
        // the pair expansion, already at their documented floor).
        val wDoc = Window.partitionBy(col("doc_id"))
          .orderBy(col("df"), col("g"))
        val pref = ex
          .withColumn("df", count(lit(1))
            .over(Window.partitionBy(col("g"))))
          .withColumn("rn", row_number().over(wDoc))
          .filter(col("rn") <= expr("sz div 2 + 1"))
          .select(col("doc_id"), col("g"))
        val buckets = NearDup.cappedBuckets(pref, Seq("g"),
          struct(col("doc_id")), col("doc_id"), lshMaxBucket)
        val cand = NearDup.pairsWithinBuckets(buckets)
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
          .distinct()
        // Verify via two sequential join-backs (d35's pattern). Join
        // strategy is left to AQE ON PURPOSE: on a typical corpus the
        // pair table is tiny and AQE broadcasts it (the corpus never
        // shuffles its hash sets — plan-asserted at test scale), but an
        // EXACT join's pair output is quadratic in dup-group size, and on
        // a dup-heavy corpus `aSide` (pairs × hash-set payload) can reach
        // hundreds of MB — a forced broadcast() hint OOMed the driver on
        // the 8× stress corpus (StressDup, ~476k pairs × ~1.6 KB); AQE
        // flips that case to a shuffle join at runtime. Measured against
        // the one-scan melt alternative (join the corpus once against
        // exploded (pair, role) rows, reassemble per pair): the melt's
        // extra aggregate + exchange cost MORE than the second
        // column-pruned scan (5.9 s vs 4.1 s warm at sf0.1).
        val aSide = sets.select(col("doc_id").as("a_id"), col("hs").as("a_hs"))
          .join(cand, "a_id")
        sets.select(col("doc_id").as("b_id"), col("hs").as("b_hs"))
          .join(aSide, "b_id")
          .withColumn("jaccard",
            MinHashExprs.jaccardSorted(col("a_hs"), col("b_hs")))
          .filter(col("jaccard") >= 0.5)
          .select(col("a_id"), col("b_id"), col("jaccard"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        sh AS (SELECT doc_id, $sqlGrams AS grams FROM toks),
        sets AS (SELECT doc_id, list_distinct(grams) AS gs FROM sh),
        sz AS (SELECT doc_id, gs, len(gs) AS sz FROM sets),
        ex AS (SELECT doc_id, sz, unnest(gs) AS g FROM sz),
        dfreq AS (SELECT g, COUNT(*) AS df FROM ex GROUP BY g),
        ordered AS (SELECT e.doc_id, e.sz, e.g,
            row_number() OVER (PARTITION BY e.doc_id
              ORDER BY f.df, e.g) AS rn
          FROM ex e JOIN dfreq f USING (g)),
        pref AS (SELECT doc_id, g FROM ordered WHERE rn <= sz // 2 + 1),
        pc AS (SELECT g, COUNT(*) AS cnt FROM pref GROUP BY g),
        cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM pref a JOIN pref b ON a.g = b.g AND a.doc_id < b.doc_id
          JOIN pc ON pc.g = a.g AND pc.cnt <= $lshMaxBucket),
        ver AS (SELECT c.a_id, c.b_id,
            CAST(len(list_intersect(sa.gs, sb.gs)) AS DOUBLE) /
            CAST(len(list_distinct(list_concat(sa.gs, sb.gs))) AS DOUBLE)
              AS jaccard
          FROM cand c JOIN sz sa ON sa.doc_id = c.a_id
          JOIN sz sb ON sb.doc_id = c.b_id)
        SELECT a_id, b_id, jaccard FROM ver WHERE jaccard >= 0.5""")),

    // ---- bigram LM log-prob score (Jelinek-Mercer interpolation) ---------
    // d32's unigram filter upgraded one order: score each document by the
    // mean log-probability of its bigrams under the corpus-trained
    // interpolated model p(cur|prev) = λ·c(prev,cur)/c(prev,·) +
    // (1-λ)·c(·,cur)/N (λ=0.5) — the Jelinek-Mercer smoother, the
    // context-sensitivity a unigram model can't give (word salad with a
    // plausible unigram mix scores low here). No OOV floor is needed:
    // scoring the training corpus itself, every bigram has c ≥ 1 (a
    // held-out scorer would add d32's floor).
    //
    // Scale shape: ONE lineage — the corpus explodes once into (doc_id,
    // prev, cur) rows, then a chain of three COUNT-ONLY windows tags each
    // row with c(prev,cur), c(prev,·), c(·,cur) (the d33 hot-key rule:
    // a boilerplate bigram's partition is corpus-sized but count-only
    // window state is O(1)), the 1-row corpus total broadcasts on, and a
    // doc_id agg folds the mean. Four exchanges and zero joins in the
    // scoring lineage itself; the only join is a final doc_id-only left
    // join-back of a second documents scan so sub-2-token docs emit a
    // NULL score — still far from the groupBy-count-tables alternative,
    // which scans the full corpus text four times. Cross-engine determinism: per-bigram
    // logprobs round to 6 dp and sum as exact DECIMAL(18,6) (the d32
    // technique), so the doc mean is independent of summation order; the
    // double expression inside ln is written with IDENTICAL operation
    // order in both engines.
    GraftQuery(
      "d40_bigram_logprob",
      (s, d) => {
        val toked = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
        // N = total bigram occurrences: a narrow no-explode scan (1 row).
        val total = toked.agg(
          sum(greatest(size(col("toks")) - 1, lit(0))).cast("bigint").as("nn"))
        val occ = toked.filter(size(col("toks")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(toks)-2), i -> struct(toks[i] AS prev, toks[i+1] AS cur))"))
            .as("bg"))
          .select(col("doc_id"), col("bg.prev").as("prev"),
            col("bg.cur").as("cur"))
        val scored = occ
          .withColumn("cbi",
            count(lit(1)).over(Window.partitionBy(col("prev"), col("cur"))))
          .withColumn("cleft",
            count(lit(1)).over(Window.partitionBy(col("prev"))))
          .withColumn("cright",
            count(lit(1)).over(Window.partitionBy(col("cur"))))
          .crossJoin(broadcast(total))
          .select(col("doc_id"),
            round(log(
              lit(0.5) * col("cbi").cast("double") / col("cleft").cast("double")
                + lit(0.5) * col("cright").cast("double") / col("nn").cast("double")), 6)
              .cast("decimal(18,6)").as("lp"))
          .groupBy(col("doc_id"))
          .agg(
            (sum(col("lp")).cast("double") / count(lit(1)).cast("double"))
              .as("logprob_per_bigram"),
            count(lit(1)).as("n_bigrams"))
        Tables.documents(s, d).select(col("doc_id"))
          .join(scored, Seq("doc_id"), "left")
          .select(col("doc_id"), col("logprob_per_bigram"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        nn AS (SELECT CAST(SUM(greatest(len(toks) - 1, 0)) AS BIGINT) AS nn
          FROM toks),
        occ AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
            i -> {'p': toks[i], 'c': toks[i+1]})) AS u
          FROM toks WHERE len(toks) >= 2),
        bg AS (SELECT doc_id, u.p AS prev, u.c AS cur FROM occ),
        cnt AS (SELECT doc_id,
            COUNT(*) OVER (PARTITION BY prev, cur) AS cbi,
            COUNT(*) OVER (PARTITION BY prev) AS cleft,
            COUNT(*) OVER (PARTITION BY cur) AS cright
          FROM bg),
        sc AS (SELECT doc_id,
            CAST(round(ln(
              0.5 * CAST(cbi AS DOUBLE) / CAST(cleft AS DOUBLE)
                + 0.5 * CAST(cright AS DOUBLE) / CAST(nn AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS lp
          FROM cnt, nn),
        agg AS (SELECT doc_id,
            CAST(SUM(lp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
              AS logprob_per_bigram,
            CAST(COUNT(*) AS BIGINT) AS n_bigrams
          FROM sc GROUP BY 1)
        SELECT d.doc_id, a.logprob_per_bigram,
          coalesce(a.n_bigrams, 0) AS n_bigrams
        FROM documents d LEFT JOIN agg a USING (doc_id)""")),

    // ---- deterministic epoch shuffle + dataloader shard assignment -------
    // The last step before training ever reads a corpus: a full epoch
    // permutation (seeded, reproducible — md5("epoch0:" || doc_id) is the
    // standard keyed-hash shuffle, a different epoch tag reshuffles
    // without data movement elsewhere) plus round-robin assignment to 8
    // dataloader shards: shard = (rank-1) % 8, pos = (rank-1) div 8 —
    // every shard gets ⌈n/8⌉±1 docs in a deterministic read order.
    //
    // Scale shape: the q27 lesson applied — exact global rank via
    // GlobalRank's range-sort + partition-offset zip, NEVER a
    // single-partition row_number window. Sorting on the md5 key is the
    // permutation itself, so the rank consumes the only shuffle the
    // operation fundamentally needs.
    GraftQuery(
      "d41_epoch_shards",
      (s, d) => {
        import graft.operators.GlobalRank
        val keyed = Tables.documents(s, d).select(col("doc_id"),
          md5(concat(lit("epoch0:"), col("doc_id").cast("string"))).as("k"))
        GlobalRank.withRowNumber(keyed, Seq(col("k"), col("doc_id")))
          .select(col("doc_id"),
            ((col("rn") - 1) % 8).as("shard"),
            expr("(rn - 1) div 8").as("pos"))
      },
      Some("""WITH r AS (SELECT doc_id,
          row_number() OVER (
            ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents)
        SELECT doc_id, CAST((rn - 1) % 8 AS BIGINT) AS shard,
          CAST((rn - 1) // 8 AS BIGINT) AS pos
        FROM r""")),

    // ---- per-doc token-distribution Shannon entropy ----------------------
    // The information-theoretic sibling of d18's repetition ratio: H =
    // -Σ_t (c_t/n)·ln(c_t/n) over the doc's own token distribution. Low
    // entropy flags degenerate repetition (keyword stuffing, scraped
    // navigation) that the repeated-token FRACTION underweights when the
    // repeats spread over a few distinct tokens; max entropy (ln n) means
    // every token unique. A standard Gopher-family quality signal.
    //
    // Scale shape: one explode, then two map-side-combinable aggregates —
    // (doc_id, term) counts, then the per-doc fold. Docs aren't split
    // across partitions, so the first partial agg collapses each doc's
    // terms before its exchange and the second sees one row per (doc,
    // term). Determinism: per-term ln(c/n) rounds to 6 dp, weights by the
    // exact integer count, and sums as DECIMAL(18,6) (d32's technique) —
    // the final single division is the only unrounded double op.
    GraftQuery(
      "d43_token_entropy",
      (s, d) => {
        val terms = Tables.documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        val perTerm = terms.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("c"))
        val perDoc = perTerm
          .withColumn("n", sum(col("c")).over(Window.partitionBy(col("doc_id"))))
          .select(col("doc_id"), col("n"),
            (col("c") * round(log(col("c").cast("double") / col("n").cast("double")), 6)
              .cast("decimal(18,6)")).as("w"))
          .groupBy(col("doc_id"))
          .agg(
            (-(sum(col("w")).cast("double")) / first(col("n")).cast("double"))
              .as("entropy"),
            first(col("n")).as("n_tokens"))
        Tables.documents(s, d).select(col("doc_id"))
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"), col("entropy"),
            coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      },
      Some(s"""WITH t AS (SELECT doc_id, unnest($sqlToks) AS term
          FROM documents),
        pt AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
          FROM t GROUP BY 1, 2),
        pn AS (SELECT doc_id, term, c,
            SUM(c) OVER (PARTITION BY doc_id) AS n
          FROM pt),
        pd AS (SELECT doc_id,
            -CAST(SUM(c * CAST(round(ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 6)
              AS DECIMAL(18,6))) AS DOUBLE) / CAST(MIN(n) AS DOUBLE) AS entropy,
            CAST(MIN(n) AS BIGINT) AS n_tokens
          FROM pn GROUP BY 1)
        SELECT d.doc_id, pd.entropy, coalesce(pd.n_tokens, 0) AS n_tokens
        FROM documents d LEFT JOIN pd USING (doc_id)""")),

    // ---- cross-doc duplicated-SPAN merge (exact-substring-dedup analog) --
    // The span-level view the chunk family (d22 fixed chunks, d33 gram
    // fractions, d37 chunk scrub) can't give: WHERE duplicated text lives
    // in each doc, as maximal merged spans. Slide an 8-token window
    // (stride 1) over every doc, hash each window, count occurrences
    // corpus-wide (within-doc repeats count — self-plagiarized
    // boilerplate is still duplicated text); a doc's duplicated window
    // positions then merge into maximal spans wherever consecutive
    // positions are ≤ W apart (windows overlap or touch ⟺ the duplicated
    // token ranges are contiguous) — the gaps-and-islands construction.
    // Output: one row per (doc, span): 1-based [start_tok, end_tok] and
    // its length — the spans a surgical dedup pass would cut (vs dropping
    // whole docs), per Lee et al.'s exact-substring finding.
    //
    // Scale shape: the window hashes groupBy with full map-side partial
    // agg (32-byte key); the join-back carries only (doc_id, pos, hash) —
    // never text; boilerplate hash hot keys meet an already-aggregated
    // build side (one row per hash), AQE's skew split handles the probe.
    // The islands window partitions by doc — bounded by doc length, the
    // same per-doc bound every d-query relies on.
    GraftQuery(
      "d44_dup_span_merge",
      (s, d) => {
        val W = dupSpanWindow
        val occ = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .select(col("doc_id"), explode(expr(
            s"""CASE WHEN size(toks) >= $W THEN
                 transform(sequence(1, size(toks) - ${W - 1}), p -> named_struct(
                   'pos', CAST(p AS BIGINT),
                   'h', md5(concat_ws(' ', slice(toks, p, $W)))))
               ELSE CAST(array() AS array<struct<pos: bigint, h: string>>)
               END""")).as("w"))
          .select(col("doc_id"), col("w.pos").as("pos"), col("w.h").as("h"))
        // Corpus-wide occurrence count as a COUNT-ONLY window over h
        // (round 21): the former groupBy(h) + join-back re-derived the
        // whole explode + md5 lineage for the probe side (two corpus
        // scans) and paid a second h exchange; the window form shuffles
        // the narrow (doc_id, pos, h) rows ONCE and counts in O(1) state
        // per partition — a boilerplate hash's partition is corpus-sized
        // but count-only window state is constant (the d33/d40 hot-key
        // rule). Same rows: within-doc repeats count in both forms.
        val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val spans = occ
          .withColumn("c", count(lit(1)).over(Window.partitionBy(col("h"))))
          .filter(col("c") >= 2)
          .select(col("doc_id"), col("pos"))
          .withColumn("brk",
            when(col("pos") - lag(col("pos"), 1).over(byDoc) > W, 1L)
              .otherwise(0L))
          .withColumn("grp", sum(col("brk")).over(byDoc))
          .groupBy(col("doc_id"), col("grp"))
          .agg(min(col("pos")).as("start_tok"),
            (max(col("pos")) + (W - 1)).as("end_tok"))
        spans
          .withColumn("span_idx", row_number().over(
            Window.partitionBy(col("doc_id")).orderBy(col("start_tok")))
            .cast("bigint"))
          .select(col("doc_id"), col("span_idx"), col("start_tok"),
            col("end_tok"),
            (col("end_tok") - col("start_tok") + 1).as("span_len"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        w AS (SELECT doc_id, unnest(list_transform(
            range(1, len(toks) - ${dupSpanWindow - 2}),
            p -> {'pos': CAST(p AS BIGINT),
              'h': md5(array_to_string(toks[p:p+${dupSpanWindow - 1}], ' '))})) AS u
          FROM toks WHERE len(toks) >= $dupSpanWindow),
        occ AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM w),
        dup AS (SELECT o.doc_id, o.pos FROM occ o
          JOIN (SELECT h FROM occ GROUP BY h HAVING COUNT(*) >= 2) c
            USING (h)),
        brk AS (SELECT doc_id, pos,
            CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
              > $dupSpanWindow THEN 1 ELSE 0 END AS brk
          FROM dup),
        grp AS (SELECT doc_id, pos,
            SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM brk),
        sp AS (SELECT doc_id, MIN(pos) AS start_tok,
            MAX(pos) + ${dupSpanWindow - 1} AS end_tok
          FROM grp GROUP BY doc_id, g)
        SELECT doc_id,
          CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_tok)
            AS BIGINT) AS span_idx,
          start_tok, end_tok, end_tok - start_tok + 1 AS span_len
        FROM sp""")),

    // ---- per-doc TF-IDF keywords (top-3 terms per document) --------------
    // The keyword-extraction primitive the corpus-level term rankings
    // (d13/d24) can't give: each document's most CHARACTERISTIC terms —
    // term frequency × inverse document frequency, top-3 per doc. Scale
    // shape: ONE corpus explode; the (doc, term) tf agg and the term df
    // agg are both map-side combinable (df folds the already-distinct tf
    // rows, vocab-sized, never re-scanning the corpus); the df join-back
    // keys on term (vocab ≪ corpus — broadcasts under the 64 MB
    // threshold, degrades to a hash join keyed the way the df agg already
    // partitioned); the top-3 window partitions by doc_id — bounded by
    // distinct terms per doc, the same per-doc bound every d-query
    // window relies on. The corpus doc count is a 1-row broadcast.
    //
    // Determinism: idf rounds ln(N/df) to 6 decimals (the d32 rule — both
    // engines' libm agree through 6dp), tf is an exact small integer, and
    // the tf·idf product is then the same IEEE double in both engines;
    // ties break on term asc.
    GraftQuery(
      "d45_tfidf_keywords",
      (s, d) => {
        val tf = Tables.documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val nDocs = broadcast(
          Tables.documents(s, d).agg(count(lit(1)).as("n_docs")))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("term").asc)
        // df as a COUNT-ONLY window over term (the d39/bm25 move): the
        // groupBy(term) + join-back re-ran the corpus explode + tf fold
        // for the df side (branch re-derivation — the round-18 rule;
        // ReuseExchange does not rescue it because the df branch prunes
        // differently). Identical df values (count of tf rows per term);
        // hot-term partitions are count-only window state (d33/d40 rule).
        // Isolated min-of-4 at sf0.1: 1.19 → 1.09 s (one corpus explode
        // fewer; the bigger win is at scale, where the explode is the
        // dominant pass).
        tf.withColumn("df",
            count(lit(1)).over(Window.partitionBy(col("term"))))
          .crossJoin(nDocs)
          .withColumn("tfidf", col("tf").cast("double") *
            round(log(col("n_docs").cast("double") / col("df").cast("double")), 6))
          .withColumn("rank", row_number().over(w).cast("bigint"))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("rank"), col("term"), col("tf"),
            col("tfidf"))
      },
      Some(s"""WITH t AS (SELECT doc_id, unnest($sqlToks) AS term
          FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        sc AS (SELECT tf.doc_id, tf.term, tf.tf,
            CAST(tf.tf AS DOUBLE) *
              round(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6)
              AS tfidf
          FROM tf JOIN df USING (term), nd)
        SELECT doc_id,
          CAST(row_number() OVER (PARTITION BY doc_id
            ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rank,
          term, tf, tfidf
        FROM sc
        QUALIFY rank <= 3""")),

    // ---- cross-snapshot unigram drift (dataset-shift detector) -----------
    // The corpus-refresh monitoring op next to d23/d31's dedup: which
    // terms' relative frequency moved most between the prior dump
    // (snap 0) and the new crawl (snap 1)? Top-20 by drift magnitude with
    // both snapshots' counts and probabilities — the table a pipeline
    // reads before deciding a re-crawl changed the data distribution
    // enough to re-mix. Scale shape: ONE corpus explode with the snap tag
    // riding along; per-term conditional sums in a single map-side-
    // combinable groupBy (never a per-snapshot agg + self-join); the
    // totals are a 1-row broadcast; the top-20 cut is
    // TakeOrderedAndProject — bounded driver/exchange bytes, no global
    // sort materialized.
    //
    // Determinism: the ranking key |cnt_a·tot_b − cnt_b·tot_a| is exact
    // int64 cross-multiplication (no float epsilon deciding the cut;
    // overflow-safe while counts·total < 2^63 — at larger scale widen to
    // decimal), ties break on term asc; p_a/p_b/drift are single IEEE
    // divisions — bit-identical in both engines.
    GraftQuery(
      "d46_unigram_drift",
      (s, d) => {
        val counts = Tables.documents(s, d)
          .withColumn("snap", snapOf % 2)
          .filter(col("snap").isNotNull)
          .select(col("snap"), explode(tokens(col("text"))).as("term"))
          .groupBy(col("term"))
          .agg(sum(when(col("snap") === 0, 1L).otherwise(0L)).as("cnt_a"),
            sum(when(col("snap") === 1, 1L).otherwise(0L)).as("cnt_b"))
        val totals = broadcast(counts.agg(
          sum(col("cnt_a")).as("tot_a"), sum(col("cnt_b")).as("tot_b")))
        counts.crossJoin(totals)
          .orderBy(abs(col("cnt_a") * col("tot_b") - col("cnt_b") * col("tot_a")).desc,
            col("term").asc)
          .limit(20)
          .select(col("term"), col("cnt_a"), col("cnt_b"),
            (col("cnt_a").cast("double") / col("tot_a").cast("double")).as("p_a"),
            (col("cnt_b").cast("double") / col("tot_b").cast("double")).as("p_b"),
            round(col("cnt_a").cast("double") / col("tot_a").cast("double")
              - col("cnt_b").cast("double") / col("tot_b").cast("double"), 6)
              .as("drift"))
      },
      Some(s"""WITH t AS (SELECT $sqlSnap % 2 AS snap, unnest($sqlToks) AS term
          FROM documents WHERE $sqlSnap IS NOT NULL),
        c AS (SELECT term,
            CAST(SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
            CAST(SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
          FROM t GROUP BY 1),
        tot AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS tot_a,
            CAST(SUM(cnt_b) AS BIGINT) AS tot_b FROM c)
        SELECT term, cnt_a, cnt_b,
          CAST(cnt_a AS DOUBLE) / CAST(tot_a AS DOUBLE) AS p_a,
          CAST(cnt_b AS DOUBLE) / CAST(tot_b AS DOUBLE) AS p_b,
          round(CAST(cnt_a AS DOUBLE) / CAST(tot_a AS DOUBLE)
            - CAST(cnt_b AS DOUBLE) / CAST(tot_b AS DOUBLE), 6) AS drift
        FROM c, tot
        ORDER BY abs(cnt_a * tot_b - cnt_b * tot_a) DESC, term ASC
        LIMIT 20""")),

    // ---- banded MinHash LSH pairs, ORACLE-CHECKABLE variant of d12 -------
    // d12 (NearDup.minhashLshPairs) is the production path: xxhash64
    // shingles, native codegen'd signatures, 8 B longs on the wire,
    // shuffle-free multi-table dedup — but xxhash64 has no DuckDB
    // counterpart, so it verifies rows-only. This variant keys every
    // band's signature with md5 (table t's signature = min over shingles
    // of md5('t:' || shingle)), which BOTH engines compute identically —
    // moving the banded-LSH recall semantics (T independent tables,
    // bucket-cap policy, exact set-Jaccard verify) under the hash-match
    // gate. Same pipeline shape as d12: ONE corpus explode into T bucket
    // rows per doc, bucket groupBy (capped), in-bucket pair expansion,
    // distinct over the bounded pair table. The md5-over-strings
    // signature cost is the price of oracle parity — production stays on
    // d12's native path (why the two cannot merge: NearDup's header).
    // The lineage, and its id-only shuffle shape, is
    // NearDup.md5BandedPairs, shared with d52's edges.
    GraftQuery(
      "d47_banded_lsh_md5",
      (s, d) => NearDup.md5BandedPairs(
        Tables.documents(s, d).withColumn("toks", tokens(col("text"))),
        lshMaxBucket),
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        g AS (SELECT doc_id, $sqlGrams AS sh FROM toks),
        b AS (${sqlMd5Bands("g", " sh,")}),
        bc AS (SELECT * FROM b
          QUALIFY COUNT(*) OVER (PARTITION BY t, mh) <= $lshMaxBucket)
        SELECT DISTINCT a.doc_id AS a_id, c.doc_id AS b_id,
          CAST(len(list_intersect(list_distinct(a.sh), list_distinct(c.sh)))
              AS DOUBLE)
            / CAST(len(list_distinct(list_concat(a.sh, c.sh))) AS DOUBLE)
            AS jaccard
        FROM bc a JOIN bc c ON a.t = c.t AND a.mh = c.mh
          AND a.doc_id < c.doc_id
        WHERE CAST(len(list_intersect(list_distinct(a.sh), list_distinct(c.sh)))
              AS DOUBLE)
            / CAST(len(list_distinct(list_concat(a.sh, c.sh))) AS DOUBLE)
            >= 0.5""")),

    // ---- Gopher-style rule flags (the named rule-filter battery) ---------
    // The Rae et al. (Gopher) repetition/format rules as per-doc flags,
    // complementing d03's composite score and d14's gate: token-count
    // bounds (50..100k), mean word length in [3, 10], ≥80% of words
    // containing an alphabetic character, and word-3-gram repetition
    // ≤0.2 (d18's signal as a rule), plus the conjunction. Flags emit as
    // 0/1 BIGINT — booleans hash differently across engines, integers
    // don't. Scale shape: ONE corpus scan, all-narrow per-doc lambdas,
    // zero exchanges, zero joins (plan-pinned) — the shape a 100 TB
    // pre-filter pass must have, since it runs before anything shuffles.
    // Ratios are single IEEE divisions of exact integers — bit-identical
    // in both engines.
    GraftQuery(
      "d48_gopher_flags",
      (s, d) =>
        gopherMetrics(Tables.documents(s, d).withColumn("toks", tokens(col("text"))))
          .select(
            col("doc_id"), col("n_tokens"),
            col("mean_word_len"), col("alpha_word_ratio"), col("rep_ratio"),
            (col("n_tokens") >= 50 && col("n_tokens") <= 100000)
              .cast("bigint").as("f_word_count"),
            (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
              .cast("bigint").as("f_mean_word_len"),
            (col("alpha_word_ratio") >= 0.8)
              .cast("bigint").as("f_alpha_words"),
            (col("rep_ratio") <= 0.2).cast("bigint").as("f_repetition"))
          .withColumn("f_pass",
            (col("f_word_count") === 1 && col("f_mean_word_len") === 1 &&
              col("f_alpha_words") === 1 && col("f_repetition") === 1)
              .cast("bigint")),
      Some(s"""WITH $sqlGopherCtes
        SELECT doc_id, n_tokens, mean_word_len, alpha_word_ratio, rep_ratio,
          CAST(n_tokens >= 50 AND n_tokens <= 100000 AS BIGINT)
            AS f_word_count,
          CAST(mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS BIGINT)
            AS f_mean_word_len,
          CAST(alpha_word_ratio >= 0.8 AS BIGINT) AS f_alpha_words,
          CAST(rep_ratio <= 0.2 AS BIGINT) AS f_repetition,
          CAST(n_tokens >= 50 AND n_tokens <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND alpha_word_ratio >= 0.8 AND rep_ratio <= 0.2 AS BIGINT)
            AS f_pass
        FROM m""")),

    // ---- DSIR importance weights (target-domain resampling) --------------
    // Data Selection via Importance Resampling (Xie et al.): score each
    // RAW-pool doc (snap 1) by how much more likely its tokens are under
    // the TARGET domain's unigram LM (snap 0) than under the raw pool's
    // own — weight = mean per-token log ratio, add-1 smoothed over the
    // shared vocab. High-weight docs are the ones to upsample when
    // steering a mixture toward the target domain. Output: top-50 raw
    // docs by weight (ties doc_id asc) with token count and weight.
    //
    // Scale shape: the snap tag rides ONE corpus explode into the same
    // conditional-sum term agg as d46 (never per-snapshot aggs + a
    // self-join); vocab size and totals are a 1-row broadcast; the
    // per-term log-ratio table is vocab-sized (broadcasts under the
    // 64 MB threshold, else hash-joins on term exactly as the term agg
    // left it); the scoring pass explodes raw docs once, folds a
    // decimal-exact per-doc sum (the d32 rule: each term's double rounds
    // to 6 decimals THEN sums as DECIMAL(18,6) — order-free), and the
    // top-50 cut is TakeOrderedAndProject.
    GraftQuery(
      "d49_dsir_weights",
      (s, d) => {
        val tagged = Tables.documents(s, d)
          .withColumn("snap", snapOf % 2)
          .filter(col("snap").isNotNull)
        val terms = tagged
          .select(col("snap"), col("doc_id"),
            explode(tokens(col("text"))).as("term"))
        val counts = terms.groupBy(col("term"))
          .agg(sum(when(col("snap") === 0, 1L).otherwise(0L)).as("ct"),
            sum(when(col("snap") === 1, 1L).otherwise(0L)).as("cr"))
        val totals = broadcast(counts.agg(
          sum(col("ct")).as("tot_t"), sum(col("cr")).as("tot_r"),
          count(lit(1)).as("v")))
        val ratio = counts.crossJoin(totals)
          .select(col("term"),
            round(
              log((col("ct") + 1).cast("double") /
                (col("tot_t") + col("v")).cast("double")) -
              log((col("cr") + 1).cast("double") /
                (col("tot_r") + col("v")).cast("double")), 6)
              .cast("decimal(18,6)").as("lr"))
        terms.filter(col("snap") === 1)
          .join(ratio, Seq("term"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            (sum(col("lr")).cast("double") / count(lit(1)).cast("double"))
              .as("weight"))
          .orderBy(col("weight").desc, col("doc_id").asc)
          .limit(50)
      },
      Some(s"""WITH t AS (SELECT $sqlSnap % 2 AS snap, doc_id,
            unnest($sqlToks) AS term
          FROM documents WHERE $sqlSnap IS NOT NULL),
        c AS (SELECT term,
            CAST(SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ct,
            CAST(SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cr
          FROM t GROUP BY 1),
        tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tot_t,
            CAST(SUM(cr) AS BIGINT) AS tot_r,
            CAST(COUNT(*) AS BIGINT) AS v FROM c),
        r AS (SELECT term,
            CAST(round(ln(CAST(ct + 1 AS DOUBLE) / CAST(tot_t + v AS DOUBLE))
              - ln(CAST(cr + 1 AS DOUBLE) / CAST(tot_r + v AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS lr
          FROM c, tot)
        SELECT t.doc_id, COUNT(*) AS n_tokens,
          CAST(SUM(r.lr) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS weight
        FROM t JOIN r USING (term)
        WHERE t.snap = 1
        GROUP BY t.doc_id
        ORDER BY weight DESC, t.doc_id ASC
        LIMIT 50""")),

    // ---- md5-keyed SimHash signatures, ORACLE-CHECKABLE variant of d10 ---
    // d10/d11 (NearDup.simhashOf / simhashPairs) are the production path:
    // one native codegen'd xxhash64-per-token expression, 64 scalar
    // counters, a LONG signature — but xxhash64 has no DuckDB counterpart,
    // so they verify rows-only. This analog derives bit j of the signature
    // from md5(token) — nibble = hex digit j/4, bit = (nibble >> j%4) & 1
    // — which BOTH engines compute identically, moving the SimHash
    // semantics (per-token ±1 votes on 64 counters, majority sign bit,
    // ties to 0) under the hash-match gate. The signature emits as a
    // 64-char '0'/'1' string: a 64-bit integer would need unsigned
    // arithmetic that overflows BIGINT in one engine or the other, and
    // the bit string bands/hamming-compares with plain substr in both.
    // Scale shape: identical to d10 — one narrow scan pass, zero
    // exchanges; md5 runs ONCE per token (bound inside the fold's input —
    // an hs alias column would be re-inlined 64× by projection collapse).
    // The interpreted 64-wide zip_with fold is the price of oracle
    // parity; production stays on d10's native expression.
    GraftQuery(
      "d50_simhash_md5",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .select(col("doc_id"),
            graft.functions.MinHashExprs.simhashMd5Bits(col("toks"))
              .as("sim_bits")),
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        hs AS (SELECT doc_id, list_transform(toks, t -> md5(t)) AS hs
          FROM toks)
        SELECT doc_id,
          CASE WHEN hs IS NULL THEN NULL ELSE $sqlSimhashMd5Bits END
            AS sim_bits
        FROM hs""")),

    // ---- md5-keyed SimHash banded pairs, ORACLE-CHECKABLE variant of d11 -
    // d11's pipeline shape exactly (band the 64-bit signature into four
    // 16-bit keys, group by (band, value), in-bucket pair expansion,
    // Hamming ≤ 8 verify, a_id < b_id) over d50's md5-derived signatures.
    // The four band WORDS (w0..w3, the integer values of d50's 16-bit
    // bit-string slices, MSB first — a bijection, so the bucketing is
    // identical) are derived from the native signature as FOUR separate
    // conv(_, 2, 10) columns (multi-reference keeps CollapseProject from
    // inlining the signature into any single consumer), and the banded
    // payload is id + 4 longs — bounded like d11's 8-byte signature, so
    // the Hamming verify needs no join-back and runs as NATIVE
    // bit_count(xor) per pair (the 64-char substr-compare loop this
    // replaced was the dominant d51 cost: 14.8 → 4.0 s at sf0.1, then
    // the native signature expression cut the remaining fold cost). Pair
    // dedup across bands is a distinct over the bounded pair table — the
    // oracle replays it as SELECT DISTINCT; production d11 keeps its
    // shuffle-free first-collision filter.
    GraftQuery(
      "d51_simhash_md5_pairs",
      (s, d) => {
        import graft.operators.NearDup
        val sig = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .select(col("doc_id"),
            graft.functions.MinHashExprs.simhashMd5Bits(col("toks"))
              .as("bits"))
        // four references to `bits` keep CollapseProject from inlining
        // the signature into any single consumer; conv(_, 2, 10) of a
        // 16-char MSB-first slice is exactly the band WORD
        val words = sig.select(
          col("doc_id") +: (0 until 4).map(b => expr(
            s"cast(conv(substr(bits, ${b * 16 + 1}, 16), 2, 10) as bigint)")
            .as(s"w$b")): _*)
        val banded = words.select(col("doc_id"),
          col("w0"), col("w1"), col("w2"), col("w3"),
          explode(expr(
            """transform(sequence(0, 3), b -> struct(b AS band,
                 IF(b = 0, w0, IF(b = 1, w1, IF(b = 2, w2, w3))) AS v))"""))
            .as("bk"))
        // capped like NearDup.simhashPairsFromSigs (this query is d11's
        // oracle-pinned analog — same bucket policy, bounded-buffer slice)
        val grouped = NearDup.cappedBuckets(
          banded.select(col("bk.band").as("band"), col("bk.v").as("v"),
            col("doc_id"), col("w0"), col("w1"), col("w2"), col("w3")),
          Seq("band", "v"),
          struct(col("doc_id").as("id"),
            col("w0"), col("w1"), col("w2"), col("w3")),
          col("doc_id"), lshMaxBucket)
        NearDup.pairsWithinBuckets(grouped)
          .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
            (bit_count(col("a.w0").bitwiseXOR(col("b.w0"))) +
              bit_count(col("a.w1").bitwiseXOR(col("b.w1"))) +
              bit_count(col("a.w2").bitwiseXOR(col("b.w2"))) +
              bit_count(col("a.w3").bitwiseXOR(col("b.w3"))))
              .cast("bigint").as("hamming"))
          .filter(col("hamming") <= 8)
          .distinct()
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        hs AS (SELECT doc_id, list_transform(toks, t -> md5(t)) AS hs
          FROM toks),
        sig AS (SELECT doc_id,
            CASE WHEN hs IS NULL THEN NULL ELSE $sqlSimhashMd5Bits END
              AS bits
          FROM hs),
        b AS (SELECT doc_id, bits, t,
            substr(bits, CAST(t*16 + 1 AS INT), 16) AS v
          FROM sig, (SELECT unnest(range(0, 4)) AS t) tt
          QUALIFY COUNT(*) OVER (PARTITION BY t, v) <= $lshMaxBucket),
        p AS (SELECT DISTINCT a.doc_id AS a_id, c.doc_id AS b_id,
            a.bits AS a_bits, c.bits AS c_bits
          FROM b a JOIN b c ON a.t = c.t AND a.v = c.v
            AND a.doc_id < c.doc_id),
        h AS (SELECT a_id, b_id,
            CAST(len(list_filter(range(1, 65), i ->
              substr(a_bits, CAST(i AS INT), 1)
                != substr(c_bits, CAST(i AS INT), 1))) AS BIGINT) AS hamming
          FROM p)
        SELECT a_id, b_id, hamming FROM h WHERE hamming <= 8""")),

    // ---- near-dup dedup CAPSTONE: the full preprocessing lineage ---------
    // The query a real 100 TB corpus-prep run executes, end to end, as ONE
    // lineage — each stage is an already-oracle-pinned operator:
    //   Gopher gate (d48's conjunction, shared gopherMetrics definition)
    //   → md5-banded LSH candidates over the gated corpus (d47's keys +
    //     bucket cap) → hashed-shingle Jaccard ≥ 0.5 verified edges (the
    //     d09 join-back rule) → exact-transitive connected components
    //     (d27's checkpointed min-label propagation) → keep-representative
    //     (comp min id) → per-source retention accounting.
    // Output: per source, total docs, docs surviving the gate, docs kept
    // after dedup (one representative per duplicate component), and the
    // kept/total ratio (one IEEE division of exact int64 counts).
    //
    // Scale shape: every stage keeps its parent's contract — the gate is a
    // narrow scan conjunction; buckets shuffle (t, mh, id) rows only;
    // pair expansion is capped; CC shuffles (edge ∪ label) rows per round
    // with map-side min partials; the final rollup is a source-keyed agg
    // with full partials. The gated frame is CHECKPOINTED once
    // (localCheckpoint — the d27 materialization pattern; a cluster run
    // uses reliable checkpoint): four branches consume it (shingles,
    // hashes, vertices, gate marks), and without the barrier each branch
    // re-ran the whole gate scan AND the admit filter's pushdown
    // substitution re-tokenized per gram iteration (measured 93 s at
    // sf0.1; 7 s with the checkpoint + native rep_ratio).
    // Oracle: DuckDB replays the whole lineage, closing the dup graph
    // with a recursive CTE exactly as d27's oracle does.
    GraftQuery(
      "d52_neardup_capstone",
      (s, d) => {
        import graft.operators.ConnectedComponents
        val docs = Tables.documents(s, d)
        val gated = graft.operators.Checkpoints.barrier(
          gopherMetrics(docs.withColumn("toks", tokens(col("text"))))
            .filter(gopherAdmit)
            .select(col("doc_id"), col("source"), col("toks")))
        val edges = NearDup.md5BandedPairs(gated, lshMaxBucket)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val comp = ConnectedComponents.labelPropagate(
          gated.select(col("doc_id").as("id")), edges)
        docs.select(col("doc_id"), col("source"))
          .join(gated.select(col("doc_id"), lit(1L).as("is_gated")),
            Seq("doc_id"), "left")
          .join(comp.select(col("id").as("doc_id"), col("comp").as("comp_id")),
            Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(coalesce(col("is_gated"), lit(0L))).as("n_gated"),
            sum(when(col("comp_id") === col("doc_id"), 1L).otherwise(0L))
              .as("n_kept"))
          .withColumn("retention",
            col("n_kept").cast("double") / col("n_docs").cast("double"))
      },
      Some(s"""WITH RECURSIVE $sqlGopherCtes,
        gated AS (SELECT doc_id, source, toks, grams AS sh FROM m
          WHERE $sqlGopherAdmit),
        b AS (${sqlMd5Bands("gated", " sh,")}),
        bc AS (SELECT * FROM b
          QUALIFY COUNT(*) OVER (PARTITION BY t, mh) <= $lshMaxBucket),
        e AS (SELECT DISTINCT a.doc_id AS src, c.doc_id AS dst
          FROM bc a JOIN bc c ON a.t = c.t AND a.mh = c.mh
            AND a.doc_id < c.doc_id
          WHERE CAST(len(list_intersect(list_distinct(a.sh),
                list_distinct(c.sh))) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(a.sh, c.sh))) AS DOUBLE)
              >= 0.5),
        und AS (SELECT src, dst FROM e
          UNION SELECT dst AS src, src AS dst FROM e),
        reach AS (SELECT doc_id AS id, doc_id AS comp FROM gated
          UNION
          SELECT u.dst AS id, r.comp FROM reach r JOIN und u ON u.src = r.id),
        comp AS (SELECT id AS doc_id, MIN(comp) AS comp_id
          FROM reach GROUP BY 1)
        SELECT d.source,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(COUNT(g.doc_id) AS BIGINT) AS n_gated,
          CAST(COUNT(CASE WHEN c.comp_id = d.doc_id THEN 1 END) AS BIGINT)
            AS n_kept,
          CAST(COUNT(CASE WHEN c.comp_id = d.doc_id THEN 1 END) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS retention
        FROM documents d
        LEFT JOIN gated g ON g.doc_id = d.doc_id
        LEFT JOIN comp c ON c.doc_id = d.doc_id
        GROUP BY d.source""")),

    // ---- LSH cluster representatives, ORACLE-CHECKABLE variant of d15 ----
    // d15 (NearDup.minhashLshRepresentatives) is the 100 TB dedup SHAPE —
    // linear cluster output (doc → min id sharing any band bucket, self
    // if nothing collides) instead of quadratic pairs — but its xxhash64
    // signatures verify rows-only. This analog runs the same one-pass
    // pipeline (bucket window-min, per-doc min over T tables, UNCAPPED:
    // linear output is the point — a giant dup group is g rows here) over
    // d47's md5-keyed band signatures, which DuckDB replays exactly —
    // pinning the representative semantics (min-id election, multi-table
    // fold, short-doc self-representation) under the hash-match gate.
    // It runs d15's own operator; only the band family differs.
    GraftQuery(
      "d53_cluster_reps_md5",
      (s, d) => NearDup.minhashLshRepresentatives(Tables.documents(s, d),
        NearDup.Bands.Md5Grams),
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        g AS (SELECT doc_id, $sqlGrams AS sh FROM toks),
        $sqlMd5RepCtes
        SELECT d.doc_id, COALESCE(r.rep, d.doc_id) AS rep_id
        FROM documents d LEFT JOIN r USING (doc_id)""")),

    // ---- count-min sketch heavy hitters (md5-keyed, integer-exact) -------
    // The frequency-sketch sibling of the HLL pin (q34/q35): a depth-3 ×
    // width-64 count-min sketch over the corpus token stream, hash row j
    // keyed by md5('j:' || term) (first 4 hex chars → int, mod width) —
    // every quantity is an INTEGER (cell counts, minima), so unlike most
    // sketches the whole estimator is oracle-hashable directly: no analog
    // needed, the production math IS the pinned math. Output: the exact
    // top-20 terms with their true counts, the CMS estimate min_j
    // cms[j][h_j(term)], and the overcount — CMS guarantees est ≥ exact
    // (pure collision inflation), which PropertySpec asserts corpus-wide.
    //
    // Scale shape — the reason CMS exists: the sketch build is one token
    // explode folded onto a FIXED 3×64-cell key domain with map-side
    // partial sums, i.e. per-partition sketches merged cell-wise by the
    // exchange — constant state per executor, constant shuffle, no
    // per-term key explosion anywhere in the sketch path (the exact top-20
    // here is eval-side ground truth, same pattern as q35's
    // COUNT(DISTINCT)). The width is deliberately tiny so fixture-scale
    // collisions are visible in overcount; production would size
    // width = ⌈e/ε⌉ for an ε·N error bound — the plan shape is identical
    // at any width.
    GraftQuery(
      "d54_cms_heavy_hitters",
      (s, d) => {
        val tk = Tables.documents(s, d)
          .select(explode(tokens(col("text"))).as("term"))
        // sketch geometry shared with the streaming substrate
        // (operators/Sketches — StatefulOpsSpec maintains the raw-stream
        // cmsCells fold as a streaming aggregation; that face is
        // unchanged). This BATCH eval needs the exact term histogram
        // anyway for the top-20 ground truth, and the cell counts are a
        // linear fold of that same histogram (Σ exact_c over terms
        // hashing to the cell — identical integers to the raw-stream
        // count), so the corpus tokenizes ONCE behind a vocab-sized
        // barrier instead of once per consumer (the round-18 branch
        // rule; isolated two-pass min at sf0.1: 1.65 → 0.77 s).
        val cmsBuckets = graft.operators.Sketches.cmsBuckets("term")
        val hist = graft.operators.Checkpoints.barrier(
          tk.groupBy(col("term")).agg(count(lit(1)).as("exact_c")))
        val cells = hist
          .select(col("exact_c"), explode(expr(cmsBuckets)).as("c"))
          .groupBy(col("c.j").as("j"), col("c.b").as("b"))
          .agg(sum(col("exact_c")).as("cnt"))
        val top = hist
          .orderBy(col("exact_c").desc, col("term").asc)
          .limit(20)
        top
          .select(col("term"), col("exact_c"),
            explode(expr(cmsBuckets)).as("c"))
          .join(broadcast(cells),
            col("c.j") === cells("j") && col("c.b") === cells("b"))
          .groupBy(col("term"), col("exact_c"))
          .agg(min(col("cnt")).as("est_c"))
          .select(col("term"), col("exact_c"), col("est_c"),
            (col("est_c") - col("exact_c")).as("overcount"))
      },
      Some(s"""WITH tk AS (SELECT unnest($sqlToks) AS term FROM documents),
        cells AS (SELECT jj.j,
            CAST('0x' || substr(md5(jj.j || ':' || term), 1, 4) AS BIGINT)
              % 64 AS b,
            COUNT(*) AS cnt
          FROM tk, (SELECT unnest(range(0, 3)) AS j) jj
          GROUP BY 1, 2),
        top AS (SELECT term, COUNT(*) AS exact_c FROM tk GROUP BY 1
          ORDER BY exact_c DESC, term ASC LIMIT 20),
        h AS (SELECT t.term, t.exact_c, jj.j,
            CAST('0x' || substr(md5(jj.j || ':' || t.term), 1, 4) AS BIGINT)
              % 64 AS b
          FROM top t, (SELECT unnest(range(0, 3)) AS j) jj)
        SELECT h.term, h.exact_c, CAST(MIN(c.cnt) AS BIGINT) AS est_c,
          CAST(MIN(c.cnt) - h.exact_c AS BIGINT) AS overcount
        FROM h JOIN cells c ON c.j = h.j AND c.b = h.b
        GROUP BY 1, 2""")),

    // ---- weighted sampling without replacement (Efraimidis–Spirakis) -----
    // The corpus-subselection primitive a mixture pipeline needs between
    // d19's uniform Bernoulli and d49's DSIR weights: draw a fixed-size
    // sample where P(doc ∈ sample) scales with a weight (here n_chars —
    // longer docs carry more training signal). ES A-Res: key = u^(1/w)
    // with u ~ U(0,1), take the top-k keys — exactly a weighted draw
    // WITHOUT replacement, and embarrassingly parallel (keys are per-row;
    // top-k is one TakeOrdered). Determinized for the oracle: u comes
    // from md5(doc_id)'s first 52 bits ((v+0.5)/2⁵², strictly inside
    // (0,1)), the monotone ln(u)/w replaces the pow (same argmax,
    // libm-stabler), and the RANKING key is the value ROUNDED to 6
    // decimals with doc_id as tie-break — the d45 rule: never rank on a
    // raw libm double across engines.
    //
    // Scale: one narrow scan (no tokenize — the weight is the stored
    // n_chars), top-100 via global TakeOrderedAndProject (per-partition
    // heads only; no full sort, no window). The 100 TB shape of "sample
    // k docs by weight" with zero coordination beyond one reduce.
    GraftQuery(
      "d55_weighted_sample",
      (s, d) =>
        Tables.documents(s, d)
          .filter(col("n_chars") > 0)
          .select(col("doc_id"), col("n_chars").as("weight"),
            expr("""round(ln((cast(conv(substr(md5(cast(doc_id as string)),
                1, 13), 16, 10) as bigint) + 0.5e0) / 4503599627370496.0e0)
              / cast(n_chars as double), 6)""").as("es_key"))
          .orderBy(col("es_key").desc, col("doc_id").asc)
          .limit(100),
      Some("""SELECT doc_id, n_chars AS weight,
          round(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)
              AS BIGINT) + 0.5e0) / 4503599627370496.0e0)
            / CAST(n_chars AS DOUBLE), 6) AS es_key
        FROM documents WHERE n_chars > 0
        ORDER BY es_key DESC, doc_id ASC LIMIT 100""")),

    // ---- Bloom-filter cross-snapshot pre-pass (d23's promised rewrite) ---
    // d23's scaladoc ends "at 100 TB a bloom-filter pre-pass on the
    // fingerprint would cut the shuffled new-crawl bytes" — this is that
    // pre-pass, realized and EVALUATED. Build: the prior dump's
    // fingerprints set k=3 bit positions (disjoint 16-bit slices of the
    // md5 fingerprint ITSELF — it is already a uniform hash, no second
    // hash needed) in an m=2^16 filter; the filter materializes as a
    // ≤65536-row distinct-position table. Probe: each new-crawl doc
    // passes iff all 3 of its positions are set. Eval: bloom admission
    // vs exact membership — no false negatives BY CONSTRUCTION (a real
    // dup's positions were all inserted), so every disagreement is a
    // false positive, and the fp columns measure the filter's actual FP
    // rate at this fill factor.
    //
    // Scale shape — the entire point: the prior dump (any size) COLLAPSES
    // to ≤m distinct positions via map-side-partial distinct, then
    // BROADCASTS; the probe side never shuffles (narrow scan → 3-row
    // explode → broadcast join → per-doc re-agg on the pre-shuffle
    // partition). d23's anti-join shuffles BOTH snapshots on the 32-byte
    // fp; this plan ships ~0.5 MB of filter to every executor and scans.
    // At a real 100 TB refresh, m scales with the prior dump's cardinality
    // (m ≈ 1.44·n·log2(1/ε) bits) and the bit table becomes spark's
    // BloomFilter aggregate / a bitmap — fixed m=2^16 here keeps both
    // engines' math identical for the oracle. The exact-membership join
    // exists only for the eval columns; the production pre-pass is just
    // bits-build + probe.
    GraftQuery(
      "d56_bloom_probe",
      (s, d) => {
        val f = Tables.documents(s, d)
          .select(col("doc_id"), fingerprint(col("text")).as("fp"),
            (snapOf % 2).as("snap"))
        // shared substrate (operators/Sketches): the SAME position
        // derivation and bit table StatefulOpsSpec maintains as a
        // streaming aggregation
        val pos = expr(graft.operators.Sketches.bloomPositions("fp"))
        val bits = graft.operators.Sketches
          .bloomBits(f.filter(col("snap") === 0), "fp")
          .select(col("pos")).withColumn("hit", lit(1))
        val probed = f.filter(col("snap") === 1)
          .select(col("doc_id"), col("fp"), explode(pos).as("pos"))
          .join(broadcast(bits), Seq("pos"), "left")
          .groupBy(col("doc_id"), col("fp"))
          .agg(when(sum(coalesce(col("hit"), lit(0))) === 3, lit(1))
            .otherwise(lit(0)).as("bloom_pass"))
        val prior = f.filter(col("snap") === 0)
          .select(col("fp")).distinct().withColumn("seen", lit(1))
        probed.join(prior, Seq("fp"), "left")
          .select(col("doc_id"), col("bloom_pass").cast("int").as("bloom_pass"),
            coalesce(col("seen"), lit(0)).cast("int").as("exact_dup"),
            when(col("bloom_pass") === 1 && col("seen").isNull, lit(1))
              .otherwise(lit(0)).cast("int").as("false_pos"))
      },
      Some(s"""WITH f AS (SELECT doc_id, $sqlFingerprint AS fp,
            $sqlSnap % 2 AS snap FROM documents),
        pp AS (SELECT doc_id, fp, snap,
            CAST('0x' || substr(fp, jj.j*4 + 1, 4) AS BIGINT) AS pos
          FROM f, (SELECT unnest(range(0, 3)) AS j) jj),
        bits AS (SELECT DISTINCT pos FROM pp WHERE snap = 0),
        probed AS (SELECT pp.doc_id, pp.fp,
            CASE WHEN SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) = 3
              THEN 1 ELSE 0 END AS bloom_pass
          FROM pp LEFT JOIN bits b ON pp.pos = b.pos
          WHERE pp.snap = 1 GROUP BY 1, 2),
        prior AS (SELECT DISTINCT fp FROM f WHERE snap = 0)
        SELECT h.doc_id, CAST(h.bloom_pass AS INT) AS bloom_pass,
          CAST(CASE WHEN p.fp IS NOT NULL THEN 1 ELSE 0 END AS INT)
            AS exact_dup,
          CAST(CASE WHEN h.bloom_pass = 1 AND p.fp IS NULL THEN 1 ELSE 0 END
            AS INT) AS false_pos
        FROM probed h LEFT JOIN prior p ON h.fp = p.fp""")),

    // ---- cross-source boilerplate provenance (source-pair overlap) -------
    // The mixture-design audit d22/d33 imply but don't answer: WHICH
    // source pairs share boilerplate? Per 10-token chunk (d22's exact
    // chunk convention), the distinct set of sources containing it; every
    // source pair sharing a chunk scores one count. The output is the
    // ≤(20 choose 2)-row overlap matrix a curator reads before weighting
    // sources (two mirrors of the same crawl look independent in d19's
    // per-source stats but light up here).
    //
    // Scale shape: chunk explode → distinct (source, chunk) groupBy (the
    // d22 partial-agg collapse; a chunk repeated millions of times within
    // one source costs ONE row past the map side) → per-chunk sorted
    // source-set agg (collect_set bounded by the SOURCE DOMAIN, ~20 — the
    // d47 bounded-set rule, never a per-doc list) → narrow
    // nested-transform pair expansion (≤190 pairs/chunk worst case) →
    // tiny-domain count agg. No self-join: the (source,chunk) frame would
    // recompute the whole tokenize→chunk scan once per join side (the
    // d22 recompute trap); the set-expansion form scans once.
    GraftQuery(
      "d57_source_overlap",
      (s, d) => {
        val chunks = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .withColumn("chunks", chunks10)
          .select(col("source"), explode(col("chunks")).as("c"))
          .select(col("source"), md5(col("c")).as("ch"))
          .distinct()
        NearDup.pairsWithinBuckets(chunks
            .groupBy(col("ch"))
            .agg(sort_array(collect_set(col("source"))).as("docs")))
          .groupBy(col("a").as("src_a"), col("b").as("src_b"))
          .agg(count(lit(1)).as("n_shared_chunks"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, source, $sqlToks AS toks
          FROM documents),
        ck AS (SELECT doc_id, source,
            $sqlChunks10 AS chunks
          FROM toks),
        e AS (SELECT DISTINCT source, md5(unnest(chunks)) AS ch FROM ck)
        SELECT a.source AS src_a, b.source AS src_b,
          COUNT(*) AS n_shared_chunks
        FROM e a JOIN e b ON a.ch = b.ch AND a.source < b.source
        GROUP BY 1, 2""")),

    // ---- Gopher gate ablation (per-rule marginal kill analysis) ----------
    // The tuning readout for d48's rule battery: per rule, how many docs
    // it fails (n_fail) and how many it fails ALONE (n_fail_alone — the
    // docs that would re-enter the corpus if just this rule were dropped;
    // the marginal a curator actually weighs when loosening a gate).
    // Rules with big n_fail but near-zero n_fail_alone are redundant with
    // the rest of the battery; rules where the two are close carry
    // independent signal. n_docs/n_pass ride along for rates.
    //
    // Scale shape: the d48 narrow metric pass (native shingle hasher, no
    // exchange), then ONE constant-width aggregate (9 conditional sums —
    // map-side combinable, 1 output row), then a literal 4-struct explode
    // — nothing past the scan is corpus-sized. The ablation of a 100 TB
    // gate costs exactly one gate pass.
    GraftQuery(
      "d58_gate_ablation",
      (s, d) => {
        val f = gopherMetrics(
          Tables.documents(s, d).withColumn("toks", tokens(col("text"))))
          .select(
            (col("n_tokens") >= 50 && col("n_tokens") <= 100000)
              .cast("bigint").as("fw"),
            (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
              .cast("bigint").as("fm"),
            (col("alpha_word_ratio") >= 0.8).cast("bigint").as("fa"),
            (col("rep_ratio") <= 0.2).cast("bigint").as("fr"))
        def fails(flag: String, others: Seq[String]) = sum(
          when(col(flag) === 0 && others.map(col(_) === 1).reduce(_ && _),
            1L).otherwise(0L))
        val a = f.agg(count(lit(1)).as("n_docs"),
          sum(when(col("fw") === 0, 1L).otherwise(0L)).as("wc_f"),
          fails("fw", Seq("fm", "fa", "fr")).as("wc_a"),
          sum(when(col("fm") === 0, 1L).otherwise(0L)).as("mw_f"),
          fails("fm", Seq("fw", "fa", "fr")).as("mw_a"),
          sum(when(col("fa") === 0, 1L).otherwise(0L)).as("aw_f"),
          fails("fa", Seq("fw", "fm", "fr")).as("aw_a"),
          sum(when(col("fr") === 0, 1L).otherwise(0L)).as("rp_f"),
          fails("fr", Seq("fw", "fm", "fa")).as("rp_a"),
          sum(when(col("fw") === 1 && col("fm") === 1 && col("fa") === 1 &&
            col("fr") === 1, 1L).otherwise(0L)).as("n_pass"))
        a.select(expr("""explode(array(
            struct('word_count' AS rule, wc_f AS n_fail, wc_a AS n_fail_alone),
            struct('mean_word_len' AS rule, mw_f AS n_fail, mw_a AS n_fail_alone),
            struct('alpha_words' AS rule, aw_f AS n_fail, aw_a AS n_fail_alone),
            struct('repetition' AS rule, rp_f AS n_fail, rp_a AS n_fail_alone)))""")
            .as("r"), col("n_docs"), col("n_pass"))
          .select(col("r.rule").as("rule"), col("r.n_fail").as("n_fail"),
            col("r.n_fail_alone").as("n_fail_alone"),
            col("n_docs"), col("n_pass"),
            round(col("r.n_fail").cast("double") /
              col("n_docs").cast("double"), 6).as("fail_rate"))
      },
      Some(s"""WITH $sqlGopherCtes,
        fl AS (SELECT
            CAST(n_tokens >= 50 AND n_tokens <= 100000 AS BIGINT) AS fw,
            CAST(mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS BIGINT)
              AS fm,
            CAST(alpha_word_ratio >= 0.8 AS BIGINT) AS fa,
            CAST(rep_ratio <= 0.2 AS BIGINT) AS fr
          FROM m),
        a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(CASE WHEN fw = 0 THEN 1 ELSE 0 END) AS BIGINT) AS wc_f,
            CAST(SUM(CASE WHEN fw = 0 AND fm = 1 AND fa = 1 AND fr = 1
              THEN 1 ELSE 0 END) AS BIGINT) AS wc_a,
            CAST(SUM(CASE WHEN fm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS mw_f,
            CAST(SUM(CASE WHEN fm = 0 AND fw = 1 AND fa = 1 AND fr = 1
              THEN 1 ELSE 0 END) AS BIGINT) AS mw_a,
            CAST(SUM(CASE WHEN fa = 0 THEN 1 ELSE 0 END) AS BIGINT) AS aw_f,
            CAST(SUM(CASE WHEN fa = 0 AND fw = 1 AND fm = 1 AND fr = 1
              THEN 1 ELSE 0 END) AS BIGINT) AS aw_a,
            CAST(SUM(CASE WHEN fr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS rp_f,
            CAST(SUM(CASE WHEN fr = 0 AND fw = 1 AND fm = 1 AND fa = 1
              THEN 1 ELSE 0 END) AS BIGINT) AS rp_a,
            CAST(SUM(CASE WHEN fw = 1 AND fm = 1 AND fa = 1 AND fr = 1
              THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
          FROM fl)
        SELECT 'word_count' AS rule, wc_f AS n_fail, wc_a AS n_fail_alone,
          n_docs, n_pass,
          round(CAST(wc_f AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS fail_rate
        FROM a
        UNION ALL SELECT 'mean_word_len', mw_f, mw_a, n_docs, n_pass,
          round(CAST(mw_f AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) FROM a
        UNION ALL SELECT 'alpha_words', aw_f, aw_a, n_docs, n_pass,
          round(CAST(aw_f AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) FROM a
        UNION ALL SELECT 'repetition', rp_f, rp_a, n_docs, n_pass,
          round(CAST(rp_f AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) FROM a""")),

    // ---- LSH bands×rows operating-point sweep (e17's text-side twin) -----
    // The tuning curve that fixes a banded-LSH deployment: with the SAME
    // k=16 signature budget (d38's md5-keyed sigs), compare bands×rows ∈
    // {8×2, 4×4, 2×8} — more bands/shorter rows catches lower-similarity
    // pairs (S-curve threshold (1/b)^(1/r) ≈ 0.35 / 0.71 / 0.84) at the
    // price of more candidates to verify. Output per config: candidate
    // pair count and how many estimate as true near-dups (sig agreement
    // ≥ 0.5), i.e. the verification bill vs the yield — what you read
    // before paying for a 100 TB candidate-verify stage.
    //
    // Scale shape: the signature scan runs ONCE behind a localCheckpoint
    // (three configs + two sig join-backs would otherwise re-tokenize the
    // corpus five times — the d52 barrier lesson); band buckets carry
    // ONLY doc ids (the d47 rework rule), capped at lshMaxBucket with the
    // drop-the-whole-bucket policy every bucketed family shares; pairs
    // dedupe per config BEFORE the est join-backs; and the est works on
    // the 16-hash sigs alone — no shingle payload ever shuffles.
    GraftQuery(
      "d59_lsh_band_sweep",
      (s, d) => {
        import graft.functions.MinHashExprs
        import graft.operators.NearDup
        // signable docs = ≥3 tokens (the precise condition under which
        // minhash/sigs are non-null). Filtering on size(toks) keeps the
        // pushed-down predicate a trivial split-length test; a
        // filter(minhash.isNotNull) would substitute the whole
        // tokenize→minhash chain into the scan-side predicate and
        // re-evaluate it alongside kMinMd5Sigs (the candidatePairs
        // pushdown trap — minhash itself isn't even consumed here, so
        // this way it prunes out of the plan entirely).
        val sigs = graft.operators.Checkpoints.barrier(
          minhashed(s, d)
            .filter(size(col("toks")) >= 3)
            .select(col("doc_id"),
              MinHashExprs.kMinMd5Sigs(col("toks"), 16).as("sigs")))
        val cfgs = Seq((8, 2), (4, 4), (2, 8))
        val bands = cfgs.map { case (b, r) =>
          sigs.select(col("doc_id"), lit(s"${b}x$r").as("cfg"),
            explode(expr(s"""transform(sequence(0, ${b - 1}),
              i -> struct(i AS bi,
                md5(array_join(slice(sigs, i*$r + 1, $r), '|')) AS bh))"""))
              .as("bd"))
        }.reduce(_ union _)
        val buckets = NearDup.cappedBuckets(
          bands.select(col("cfg"), col("bd.bi").as("bi"),
            col("bd.bh").as("bh"), col("doc_id")),
          Seq("cfg", "bi", "bh"), col("doc_id"), col("doc_id"),
          lshMaxBucket)
        val pairs = NearDup.pairsWithinBuckets(buckets, "cfg")
          .select(col("cfg"), col("a").as("a_id"), col("b").as("b_id"))
          .distinct()
        pairs
          .join(sigs.select(col("doc_id").as("a_id"),
            col("sigs").as("a_sigs")), Seq("a_id"))
          .join(sigs.select(col("doc_id").as("b_id"),
            col("sigs").as("b_sigs")), Seq("b_id"))
          .withColumn("est", aggregate(zip_with(col("a_sigs"), col("b_sigs"),
              (x, y) => when(x === y, lit(1L)).otherwise(lit(0L))),
            lit(0L), _ + _).cast("double") / lit(16.0))
          .groupBy(col("cfg"))
          .agg(count(lit(1)).as("n_candidates"),
            sum(when(col("est") >= 0.5, 1L).otherwise(0L)).as("n_est_dup"))
          .select(col("cfg"), col("n_candidates"), col("n_est_dup"),
            round(col("n_est_dup").cast("double") /
              col("n_candidates").cast("double"), 6).as("est_precision"))
      },
      Some(s"""$sqlMinhashCte,
        sg AS (SELECT mh.doc_id, list_transform(range(0, 16), i ->
            list_min(list_transform(shingle_set,
              g -> md5(CAST(i AS VARCHAR) || '|' || g)))) AS sigs
          FROM mh WHERE minhash IS NOT NULL),
        bb AS (
          SELECT doc_id, '8x2' AS cfg, ii.i AS bi,
            md5(array_to_string(sigs[ii.i*2 + 1 : ii.i*2 + 2], '|')) AS bh
          FROM sg, (SELECT unnest(range(0, 8)) AS i) ii
          UNION ALL
          SELECT doc_id, '4x4' AS cfg, ii.i AS bi,
            md5(array_to_string(sigs[ii.i*4 + 1 : ii.i*4 + 4], '|')) AS bh
          FROM sg, (SELECT unnest(range(0, 4)) AS i) ii
          UNION ALL
          SELECT doc_id, '2x8' AS cfg, ii.i AS bi,
            md5(array_to_string(sigs[ii.i*8 + 1 : ii.i*8 + 8], '|')) AS bh
          FROM sg, (SELECT unnest(range(0, 2)) AS i) ii),
        cap AS (SELECT cfg, bi, bh FROM bb GROUP BY 1, 2, 3
          HAVING COUNT(*) BETWEEN 2 AND $lshMaxBucket),
        pr AS (SELECT DISTINCT b1.cfg, b1.doc_id AS a_id, b2.doc_id AS b_id
          FROM bb b1
          JOIN bb b2 ON b1.cfg = b2.cfg AND b1.bi = b2.bi AND b1.bh = b2.bh
            AND b1.doc_id < b2.doc_id
          JOIN cap c ON c.cfg = b1.cfg AND c.bi = b1.bi AND c.bh = b1.bh),
        pe AS (SELECT pr.cfg,
            CAST(list_sum(list_transform(list_zip(sa.sigs, sb.sigs),
              p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE)
              / 16.0 AS est
          FROM pr
          JOIN sg sa ON sa.doc_id = pr.a_id
          JOIN sg sb ON sb.doc_id = pr.b_id)
        SELECT cfg, CAST(COUNT(*) AS BIGINT) AS n_candidates,
          CAST(SUM(CASE WHEN est >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_est_dup,
          round(CAST(SUM(CASE WHEN est >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE), 6) AS est_precision
        FROM pe GROUP BY 1""")),

    // ---- per-source Jensen-Shannon divergence vs the corpus --------------
    // The mixture-monitoring scalar behind d46's term-level drift: how far
    // each source's unigram distribution sits from the corpus-wide one
    // (JS ∈ [0, ln 2]: symmetric, finite even with disjoint vocab — the
    // reason it beats raw KL for source scoring). A source that spikes
    // here is the one to inspect before it skews the mixture.
    //
    // Vocab-absence algebra (the scale trick): terms ABSENT from a source
    // contribute exactly 0.5·ln2·q each, so JS folds into a sum over the
    // source's PRESENT (source, term) rows plus one closed-form absent
    // correction from Σ_present ct — the |vocab| × |sources| dense matrix
    // never materializes. Scale shape: ONE (source, term) count agg; the
    // corpus term table DERIVES from it (no second scan); the term
    // join-back is vocab-keyed; per-term contributions round to 6 then
    // sum as DECIMAL(18,6) (the d32/d49 order-free rule); output is
    // |sources| rows.
    GraftQuery(
      "d60_source_divergence",
      (s, d) => {
        val st = Tables.documents(s, d)
          .select(col("source"), explode(tokens(col("text"))).as("term"))
          .groupBy(col("source"), col("term"))
          .agg(count(lit(1)).as("cs"))
        val ct = st.groupBy(col("term")).agg(sum(col("cs")).as("ct"))
        val ns = st.groupBy(col("source")).agg(sum(col("cs")).as("ns"))
        val nTot = broadcast(ct.agg(sum(col("ct")).as("n_total")))
        val contrib = st
          .join(ct, Seq("term"))
          .join(broadcast(ns), Seq("source"))
          .crossJoin(nTot)
          .select(col("source"), col("ct"),
            (col("cs").cast("double") / col("ns").cast("double")).as("p"),
            (col("ct").cast("double") / col("n_total").cast("double"))
              .as("q"))
          .select(col("source"), col("ct"),
            expr("""round(0.5e0 * (p * ln(2.0e0 * p / (p + q))
                + q * ln(2.0e0 * q / (p + q))), 6)""")
              .cast("decimal(18,6)").as("c"))
        contrib.groupBy(col("source"))
          .agg(sum(col("c")).as("sc"), sum(col("ct")).as("sct"))
          .crossJoin(nTot)
          .join(broadcast(ns), Seq("source"))
          .select(col("source"), col("ns").as("n_tokens"),
            expr("""round(cast(sc as double) + 0.5e0 * ln(2.0e0)
                * (1.0e0 - cast(sct as double) / cast(n_total as double)),
              6)""").as("js_divergence"))
      },
      Some(s"""WITH t AS (SELECT source, unnest($sqlToks) AS term
          FROM documents),
        st AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS cs
          FROM t GROUP BY 1, 2),
        ct AS (SELECT term, CAST(SUM(cs) AS BIGINT) AS ct
          FROM st GROUP BY 1),
        ns AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ns
          FROM st GROUP BY 1),
        tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS n_total FROM ct),
        pq AS (SELECT st.source, ct.ct,
            CAST(st.cs AS DOUBLE) / CAST(ns.ns AS DOUBLE) AS p,
            CAST(ct.ct AS DOUBLE) / CAST(tot.n_total AS DOUBLE) AS q
          FROM st, ct, ns, tot
          WHERE st.term = ct.term AND st.source = ns.source),
        cb AS (SELECT source, ct,
            CAST(round(0.5e0 * (p * ln(2.0e0 * p / (p + q))
              + q * ln(2.0e0 * q / (p + q))), 6) AS DECIMAL(18,6)) AS c
          FROM pq),
        agg AS (SELECT source, SUM(c) AS sc, CAST(SUM(ct) AS BIGINT) AS sct
          FROM cb GROUP BY 1)
        SELECT a.source, ns.ns AS n_tokens,
          round(CAST(a.sc AS DOUBLE) + 0.5e0 * ln(2.0e0)
            * (1.0e0 - CAST(a.sct AS DOUBLE) / CAST(tot.n_total AS DOUBLE)),
            6) AS js_divergence
        FROM agg a, ns, tot WHERE a.source = ns.source""")),

    // ---- train/val/test near-dup leakage audit (d34 × d09) ---------------
    // The eval-integrity check every training pipeline runs before
    // trusting a held-out score: near-duplicate pairs (d09's verified
    // jaccard ≥ 0.5) whose members land in DIFFERENT d34 splits — a
    // test doc with a train-side near-twin inflates eval exactly like
    // benchmark contamination (d21), but from INSIDE the corpus. Output:
    // the 3×3 (unordered) split-pair matrix with leak flags; off-diagonal
    // rows are the leakage bill, and their existence is the argument for
    // dedup-BEFORE-split (d52's capstone ordering) rather than after.
    //
    // Scale shape: the whole audit rides d09's bounded verified-pair
    // table — the corpus-scale work is the already-amortized candidate
    // generation; split labels are pure md5 arithmetic RECOMPUTED from
    // doc_id (the d34 rule IS the contract — never a join against a
    // materialized split table), and the final agg is a ≤6-row domain.
    GraftQuery(
      "d61_split_leakage",
      (s, d) => {
        def splitOf(c: org.apache.spark.sql.Column) = {
          val h2 = substring(md5(c.cast("string")), 1, 2)
          when(h2 < "cc", "train").when(h2 < "e6", "val").otherwise("test")
        }
        candidatePairs(s, d)
          .filter(col("jaccard") >= 0.5)
          .select(splitOf(col("a_id")).as("sa"), splitOf(col("b_id")).as("sb"))
          .groupBy(least(col("sa"), col("sb")).as("split_lo"),
            greatest(col("sa"), col("sb")).as("split_hi"))
          .agg(count(lit(1)).as("n_pairs"))
          .select(col("split_lo"), col("split_hi"), col("n_pairs"),
            when(col("split_lo") =!= col("split_hi"), 1).otherwise(0)
              .cast("int").as("is_leak"))
      },
      Some(s"""$sqlMinhashCte, $sqlMinhashCappedCte,
        p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS DOUBLE)
              / CAST(len(list_distinct(
                  list_concat(a.shingle_set, b.shingle_set))) AS DOUBLE)
              AS jaccard
          FROM mhc a JOIN mhc b
            ON a.minhash = b.minhash AND a.doc_id < b.doc_id),
        sp AS (SELECT
            CASE WHEN substring(md5(CAST(a_id AS VARCHAR)), 1, 2) < 'cc'
                THEN 'train'
              WHEN substring(md5(CAST(a_id AS VARCHAR)), 1, 2) < 'e6'
                THEN 'val' ELSE 'test' END AS sa,
            CASE WHEN substring(md5(CAST(b_id AS VARCHAR)), 1, 2) < 'cc'
                THEN 'train'
              WHEN substring(md5(CAST(b_id AS VARCHAR)), 1, 2) < 'e6'
                THEN 'val' ELSE 'test' END AS sb
          FROM p WHERE jaccard >= 0.5)
        SELECT least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi,
          CAST(COUNT(*) AS BIGINT) AS n_pairs,
          CAST(CASE WHEN least(sa, sb) <> greatest(sa, sb) THEN 1 ELSE 0 END
            AS INT) AS is_leak
        FROM sp GROUP BY 1, 2""")),

    // ---- Zipf-law fit of the term-frequency distribution -----------------
    // The corpus-health scalar behind d24's coverage curve: a natural-
    // language corpus follows freq ∝ rank^(-α) with α ≈ 1; machine-
    // generated spam, boilerplate floods, or template pollution bend the
    // log-log line (α drifts, R² collapses). Fit ln(freq) = a − α·ln(rank)
    // by OLS over the top-1000 ranked terms (the head carries the law;
    // d24's cut) — the number a mixture dashboard tracks per source dump.
    //
    // Scale shape: d24's exact substrate verbatim — vocab-sized term
    // counts with map-side partials, TakeOrderedAndProject top-1000 cut,
    // rank + the five moment sums over the BOUNDED 1000-row frame (the
    // documented bounded-window exemption), 1-row output.
    //
    // Exactness: x = ln(rank), y = ln(tf) round to 6 dp (the d32 ln rule);
    // products of identical doubles round to 6 dp and sum as
    // DECIMAL(18,6) (e12's moment recipe — order-free, exact); the closed
    // forms are q38's expression trees verbatim (same double op order both
    // engines), rounded at 6 dp.
    GraftQuery(
      "d62_zipf_fit",
      (s, d) => {
        val byFreq = Window.orderBy(col("tf").desc, col("term").asc)
        val top = Tables.documents(s, d)
          .select(explode(tokens(col("text"))).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("tf"))
          .orderBy(col("tf").desc, col("term").asc).limit(1000)
          .withColumn("rank", row_number().over(byFreq).cast("bigint"))
          .select(round(log(col("rank").cast("double")), 6).as("x"),
            round(log(col("tf").cast("double")), 6).as("y"))
        val m = top.agg(count(lit(1)).as("n"),
          sum(round(col("x"), 6).cast("decimal(18,6)")).as("sx"),
          sum(round(col("y"), 6).cast("decimal(18,6)")).as("sy"),
          sum(round(col("x") * col("y"), 6).cast("decimal(18,6)")).as("sxy"),
          sum(round(col("x") * col("x"), 6).cast("decimal(18,6)")).as("sx2"),
          sum(round(col("y") * col("y"), 6).cast("decimal(18,6)")).as("sy2"))
        // nullif guards: a degenerate head (single term, or all-equal
        // ranks after an empty corpus) zeroes the variance denominator —
        // ANSI mode turns that into DIVIDE_BY_ZERO unless the fit
        // degrades to NULL explicitly (mirrored in the oracle).
        val k = m.select(col("n"),
          expr("""(cast(n as double) * cast(sxy as double)
              - cast(sx as double) * cast(sy as double))
            / nullif(cast(n as double) * cast(sx2 as double)
              - cast(sx as double) * cast(sx as double), cast(0 as double))
            """).as("beta"),
          expr("cast(sx as double)").as("sxd"),
          expr("cast(sy as double)").as("syd"),
          expr("""(cast(n as double) * cast(sxy as double)
              - cast(sx as double) * cast(sy as double))
            * (cast(n as double) * cast(sxy as double)
              - cast(sx as double) * cast(sy as double))
            / nullif((cast(n as double) * cast(sx2 as double)
              - cast(sx as double) * cast(sx as double))
              * (cast(n as double) * cast(sy2 as double)
                - cast(sy as double) * cast(sy as double)),
              cast(0 as double))""").as("r2"))
        // +0.0 folds DuckDB's signed-zero round(-0.0, 6) = -0.0 onto
        // Spark's BigDecimal +0.0 (a flat fit has beta = 0 exactly).
        k.select(col("n").as("n_terms"),
          (round(-col("beta"), 6) + lit(0.0)).as("alpha"),
          round((col("syd") - col("beta") * col("sxd")) /
            col("n").cast("double"), 6).as("intercept"),
          round(col("r2"), 6).as("r_squared"))
      },
      Some(s"""WITH t AS (SELECT unnest($sqlToks) AS term FROM documents),
        tf AS (SELECT term, COUNT(*) AS tf FROM t GROUP BY 1),
        top AS (SELECT term, tf FROM tf ORDER BY tf DESC, term ASC
          LIMIT 1000),
        xy AS (SELECT
            round(ln(CAST(row_number() OVER (ORDER BY tf DESC, term ASC)
              AS DOUBLE)), 6) AS x,
            round(ln(CAST(tf AS DOUBLE)), 6) AS y
          FROM top),
        m AS (SELECT COUNT(*) AS n,
            SUM(CAST(round(x, 6) AS DECIMAL(18,6))) AS sx,
            SUM(CAST(round(y, 6) AS DECIMAL(18,6))) AS sy,
            SUM(CAST(round(x * y, 6) AS DECIMAL(18,6))) AS sxy,
            SUM(CAST(round(x * x, 6) AS DECIMAL(18,6))) AS sx2,
            SUM(CAST(round(y * y, 6) AS DECIMAL(18,6))) AS sy2
          FROM xy),
        k AS (SELECT n,
            (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / NULLIF(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE),
                CAST(0 AS DOUBLE)) AS beta,
            CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
            (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / NULLIF((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
                CAST(0 AS DOUBLE)) AS r2
          FROM m)
        SELECT n AS n_terms, round(-beta, 6) + 0.0 AS alpha,
          round((syd - beta * sxd) / CAST(n AS DOUBLE), 6) AS intercept,
          round(r2, 6) AS r_squared
        FROM k""")),

    // ---- doc-level source-duplication matrix (normalized) ----------------
    // d57 answers "which source pairs share CHUNKS (boilerplate)"; this
    // answers the mixture-weighting question one level up: which source
    // pairs carry the same whole DOCUMENTS (mirrors, re-crawls, syndicated
    // feeds), normalized so a curator can read it — per pair, the count of
    // shared normalized fingerprints plus Jaccard (shared / union) and
    // containment (shared / smaller side; ≈1 means one source is a subset
    // mirror of the other and its mixture weight is phantom).
    //
    // Scale shape: d57's no-self-join form over d04's fingerprint —
    // distinct (source, fp) partial-agg collapse, per-fp sorted source-set
    // agg (collect_set bounded by the ~20-source domain) behind a
    // Checkpoints.barrier: BOTH consumers (the pair expansion and the
    // per-source distinct-fp counts, derived by re-exploding the sets —
    // not a second corpus pass) read the one materialized frame, so the
    // corpus is scanned and grouped exactly once. Everything after is
    // source-domain-sized; the ≤20-row counts BROADCAST onto the
    // ≤C(20,2)-row matrix.
    //
    // Exactness: integer counts end-to-end; the two ratios divide exact
    // int64s cast to double in the same op order both engines, rounded at
    // 6 dp (n_a + n_b - n_shared ≥ n_shared ≥ 1 on every emitted row, so
    // no zero-divisor guard is needed).
    GraftQuery(
      "d63_source_dup_matrix",
      (s, d) => {
        val srcSets = graft.operators.Checkpoints.barrier(
          Tables.documents(s, d)
            .select(col("source"), fingerprint(col("text")).as("fp"))
            .distinct()
            .groupBy(col("fp"))
            .agg(sort_array(collect_set(col("source"))).as("srcs")))
        val perSrc = srcSets.select(explode(col("srcs")).as("source"))
          .groupBy(col("source")).agg(count(lit(1)).as("n"))
        val pairs = NearDup.pairsWithinBuckets(
            srcSets.select(col("srcs").as("docs")))
          .groupBy(col("a").as("src_a"), col("b").as("src_b"))
          .agg(count(lit(1)).as("n_shared"))
        pairs
          .join(broadcast(perSrc.select(col("source").as("src_a"),
            col("n").as("n_a"))), Seq("src_a"))
          .join(broadcast(perSrc.select(col("source").as("src_b"),
            col("n").as("n_b"))), Seq("src_b"))
          .select(col("src_a"), col("src_b"), col("n_shared"),
            col("n_a"), col("n_b"),
            round(col("n_shared").cast("double") /
              (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 6)
              .as("jaccard"),
            round(col("n_shared").cast("double") /
              least(col("n_a"), col("n_b")).cast("double"), 6)
              .as("containment"))
      },
      Some(s"""WITH f AS (SELECT DISTINCT source, $sqlFingerprint AS fp
          FROM documents),
        ps AS (SELECT source, COUNT(*) AS n FROM f GROUP BY 1),
        m AS (SELECT a.source AS src_a, b.source AS src_b,
            COUNT(*) AS n_shared
          FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
          GROUP BY 1, 2)
        SELECT m.src_a, m.src_b, m.n_shared, pa.n AS n_a, pb.n AS n_b,
          round(CAST(m.n_shared AS DOUBLE)
            / CAST(pa.n + pb.n - m.n_shared AS DOUBLE), 6) AS jaccard,
          round(CAST(m.n_shared AS DOUBLE)
            / CAST(least(pa.n, pb.n) AS DOUBLE), 6) AS containment
        FROM m JOIN ps pa ON m.src_a = pa.source
          JOIN ps pb ON m.src_b = pb.source""")),

    // ---- quality-score drift between snapshots (PSI) ---------------------
    // The production-ML distribution monitor (population stability index)
    // over the corpus quality signal: bin d03's quality score into 10
    // fixed-width bins, compare the prior dump's bin shares p against the
    // new dump's q (d23's snapshot split), PSI = Σ (p−q)·ln(p/q). The
    // standard read: <0.1 stable, 0.1–0.25 drifting, >0.25 the scorer or
    // the crawl changed — the alarm that fires BEFORE a bad dump trains.
    // Per-bin terms ship alongside the total so the drifted bins are
    // visible, not just the scalar.
    //
    // Scale shape: one narrow scan (quality + snapshot tag are per-row
    // arithmetic) → ONE map-side-combinable conditional-count aggregate
    // onto the ≤10-bin domain → share/term math and the PSI-total window
    // on ≤10 rows. Fixed bin EDGES (not quantiles) are what make the
    // sketch mergeable across a 100 TB fleet and comparable across
    // dumps.
    //
    // Exactness: bin = floor(q·10) clamped to 9 on identical doubles;
    // shares are exact-int divisions (same op order); ε = 1e-6 clamps
    // empty bins in BOTH engines (the PSI zero-guard); ln rounds to 6 dp
    // (the d32 rule); per-bin terms round to 6 dp and the total sums
    // them as DECIMAL(18,6) over the bin-ordered window (order-free).
    GraftQuery(
      "d64_quality_psi",
      (s, d) => {
        val q = Tables.documents(s, d)
          .select(snapOf.as("snap"), qualityScore(col("text")).as("q"))
          .filter(col("snap").isNotNull && col("q").isNotNull)
          .select((col("snap") % 2).as("snap"),
            graft.operators.Sketches.qualityBin(col("q")).as("bin"))
        val c = q.groupBy(col("bin"))
          .agg(sum(when(col("snap") === 0, 1L).otherwise(0L)).as("n_prior"),
            sum(when(col("snap") === 1, 1L).otherwise(0L)).as("n_new"))
        val shares = c
          .withColumn("tp", sum(col("n_prior")).over(Window.partitionBy(lit(1))))
          .withColumn("tn", sum(col("n_new")).over(Window.partitionBy(lit(1))))
          .withColumn("p", greatest(col("n_prior").cast("double") /
            col("tp").cast("double"), lit(1e-6)))
          .withColumn("qq", greatest(col("n_new").cast("double") /
            col("tn").cast("double"), lit(1e-6)))
          .withColumn("term",
            round((col("p") - col("qq")) * round(log(col("p") / col("qq")), 6), 6))
        shares
          .withColumn("psi_total",
            sum(col("term").cast("decimal(18,6)"))
              .over(Window.partitionBy(lit(1))).cast("double"))
          .select(col("bin"), col("n_prior"), col("n_new"),
            col("p"), col("qq").as("q"), col("term").as("psi_term"),
            col("psi_total"))
      },
      Some(s"""WITH base AS (SELECT $sqlSnap AS snap0, text FROM documents),
        sc AS (SELECT snap0 % 2 AS snap, $sqlQualityOfText AS q
          FROM base WHERE snap0 IS NOT NULL AND text IS NOT NULL),
        b AS (SELECT snap,
            least(9, CAST(floor(q * 10.0) AS BIGINT)) AS bin FROM sc),
        c AS (SELECT bin,
            CAST(SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_prior,
            CAST(SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_new
          FROM b GROUP BY 1),
        sh AS (SELECT bin, n_prior, n_new,
            greatest(CAST(n_prior AS DOUBLE)
              / CAST(CAST(SUM(n_prior) OVER () AS BIGINT) AS DOUBLE), 1e-6)
              AS p,
            greatest(CAST(n_new AS DOUBLE)
              / CAST(CAST(SUM(n_new) OVER () AS BIGINT) AS DOUBLE), 1e-6)
              AS qq
          FROM c),
        t AS (SELECT bin, n_prior, n_new, p, qq,
            round((p - qq) * round(ln(p / qq), 6), 6) AS term FROM sh)
        SELECT bin, n_prior, n_new, p, qq AS q, term AS psi_term,
          CAST(CAST(SUM(CAST(term AS DECIMAL(18,6))) OVER ()
            AS DECIMAL(38,6)) AS DOUBLE) AS psi_total
        FROM t""")),

    // ---- token blocklist filter (the C4 badwords gate) -------------------
    // The rule d14/d48's signal gates don't have: an explicit TERM
    // blocklist — C4 drops any page containing a "List of Dirty, Naughty
    // …" word; production corpora run the same shape for slurs, spam
    // markers, and SEO boilerplate. Per doc: blocked-token count, token
    // rate, and the drop flag (C4's any-hit rule). The demo list is two
    // classic markers plus one term the fixture vocabulary actually
    // contains, so the gate visibly fires without gutting the corpus (a
    // real deployment inlines its curated list the same way — a few
    // thousand literals is still a broadcast-free constant).
    //
    // Scale shape: the d48 envelope — ONE narrow zero-exchange scan
    // pass; the blocklist is an inlined literal array, so the match is
    // a codegen'd per-token membership test, no join, no shuffle,
    // nothing but the scan at any corpus size.
    //
    // Exactness: integer counts; the rate divides exact ints as double
    // in the same op order, 6-dp rounded, with the empty-doc guard
    // pinned to 0.0 in both engines (ANSI 0/0 would otherwise throw).
    GraftQuery(
      "d65_blocklist_filter",
      (s, d) => {
        Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .select(col("doc_id"),
            size(col("toks")).cast("bigint").as("n_tokens"),
            expr("""cast(size(filter(toks,
              t -> array_contains(array('dup', 'casino', 'viagra'), lower(t))))
              as bigint)""").as("n_blocked"))
          .withColumn("block_rate",
            when(col("n_tokens") === 0, lit(0.0))
              .otherwise(round(col("n_blocked").cast("double") /
                col("n_tokens").cast("double"), 6)))
          .withColumn("blocked", (col("n_blocked") > 0).cast("int"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
            CAST(len(list_filter(toks,
              t -> list_contains(['dup', 'casino', 'viagra'], lower(t))))
              AS BIGINT) AS n_blocked
          FROM t)
        SELECT doc_id, n_tokens, n_blocked,
          CASE WHEN n_tokens = 0 THEN 0.0
            ELSE round(CAST(n_blocked AS DOUBLE)
              / CAST(n_tokens AS DOUBLE), 6) END AS block_rate,
          CAST(CASE WHEN n_blocked > 0 THEN 1 ELSE 0 END AS INT) AS blocked
        FROM c""")),

    // ---- dedup-aware token budget per source (effective tokens) ----------
    // The mixture-budget input d19/d36 implicitly assume but nothing
    // reports: raw token counts OVERSTATE a duplicated source's
    // contribution — what matters for mixture weights is tokens on the
    // docs dedup KEEPS. Per source, via d53's representative election
    // (min-id over the md5 LSH band buckets): raw docs/tokens, kept
    // docs/tokens, and the inflation ratio raw/kept — a source at 1.5×
    // is a third phantom mass, and two sources with equal raw budgets
    // can differ materially after dedup (rep election is corpus-GLOBAL,
    // so a mirror source can keep ~nothing).
    //
    // Scale shape: d53's election (NearDup.minhashLshRepresentatives:
    // bucket window-min on the band key, per-doc min over T tables,
    // linear output) joined onto one NARROW second scan (doc_id, source,
    // token count — no shingles) and collapsed onto the ~20-source domain;
    // the nullif guards a source whose every doc is represented
    // elsewhere.
    GraftQuery(
      "d66_dedup_token_budget",
      (s, d) => {
        val docs = Tables.documents(s, d)
        NearDup.minhashLshRepresentatives(docs, NearDup.Bands.Md5Grams,
            Some(docs.select(col("doc_id"), col("source"),
              size(tokens(col("text"))).cast("bigint").as("n_toks"))))
          .withColumn("kept",
            when(col("rep_id") === col("doc_id"), 1L).otherwise(0L))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("n_tokens"),
            sum(col("kept")).as("n_kept"),
            sum(when(col("kept") === 1, col("n_toks")).otherwise(0L))
              .as("tokens_kept"))
          .withColumn("inflation",
            round(col("n_tokens").cast("double") /
              expr("nullif(cast(tokens_kept as double), cast(0 as double))"),
              6))
      },
      Some(s"""WITH toks AS (SELECT doc_id, source, $sqlToks AS toks
          FROM documents),
        g AS (SELECT doc_id, $sqlGrams AS sh FROM toks),
        $sqlMd5RepCtes,
        k AS (SELECT d.doc_id, d.source,
            CAST(len(d.toks) AS BIGINT) AS n_toks,
            CASE WHEN COALESCE(r.rep, d.doc_id) = d.doc_id
              THEN 1 ELSE 0 END AS kept
          FROM toks d LEFT JOIN r USING (doc_id))
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
          CAST(SUM(kept) AS BIGINT) AS n_kept,
          CAST(SUM(CASE WHEN kept = 1 THEN n_toks ELSE 0 END) AS BIGINT)
            AS tokens_kept,
          round(CAST(SUM(n_toks) AS DOUBLE)
            / NULLIF(CAST(SUM(CASE WHEN kept = 1 THEN n_toks ELSE 0 END)
              AS DOUBLE), CAST(0 AS DOUBLE)), 6) AS inflation
        FROM k GROUP BY 1""")),

    // ---- mixture diversity: entropy / effective source count -------------
    // The health SCALAR of the realized mixture (d36 computes the
    // reweighting, d66 the per-source budgets; this reports what the mix
    // IS): per-source token share, Shannon entropy over shares, the
    // effective source count exp(H) (the "how many sources does this
    // corpus really have" number — 20 nominal sources collapsing to
    // eff ≈ 3 is a concentration alarm), and Pielou evenness H/ln(k).
    // The same scalar family mixture papers report when comparing data
    // recipes; drops in eff_sources between dumps fire BEFORE a
    // downstream eval does.
    //
    // Scale shape: ONE narrow scan folds token counts map-side onto the
    // ~20-row source domain (Sketches.sourceTokenCounts — the substrate
    // is also maintained as the FIFTH bounded-state streaming sketch,
    // StatefulOpsSpec); every window after it (total, k, entropy sum)
    // runs on that bounded frame — the d64 envelope. Nothing but the
    // scan is corpus-sized at any scale.
    //
    // Exactness: shares divide exact int64 token counts as double in one
    // op order; ln rounds to 6 dp (the d32 rule), terms round to 6 dp,
    // and the entropy total sums DECIMAL(18,6) terms (order-free) before
    // the final exp/divide — the d64 PSI recipe applied to -Σ p·ln p.
    GraftQuery(
      "d67_mixture_diversity",
      (s, d) => {
        val w = Window.partitionBy(lit(1))
        graft.operators.Sketches.sourceTokenCounts(
          Tables.documents(s, d).select(col("source"),
            tokenCount(col("text")).cast("bigint").as("n_toks")),
          "source", "n_toks")
          .withColumn("tot", sum(col("n_tokens")).over(w))
          .withColumn("k", count(lit(1)).over(w))
          .withColumn("p",
            col("n_tokens").cast("double") / col("tot").cast("double"))
          .withColumn("ent_term",
            when(col("n_tokens") === 0, lit(0.0))
              .otherwise(round(-col("p") * round(log(col("p")), 6), 6)
                + lit(0.0)))
          .withColumn("entropy",
            sum(col("ent_term").cast("decimal(18,6)")).over(w).cast("double"))
          .select(col("source"), col("n_tokens"),
            round(col("p"), 6).as("share"), col("ent_term"), col("entropy"),
            round(exp(col("entropy")), 6).as("eff_sources"),
            when(col("k") <= 1, lit(1.0))
              .otherwise(round(col("entropy") /
                round(log(col("k").cast("double")), 6), 6)).as("evenness"))
      },
      Some(s"""WITH per AS (SELECT source,
            CAST(SUM(len($sqlToks)) AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1),
        t AS (SELECT source, n_tokens,
            CAST(SUM(n_tokens) OVER () AS BIGINT) AS tot,
            CAST(COUNT(*) OVER () AS BIGINT) AS k FROM per),
        p AS (SELECT source, n_tokens, k,
            CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS p FROM t),
        e AS (SELECT source, n_tokens, k, p,
            CASE WHEN n_tokens = 0 THEN 0.0
              ELSE round(-p * round(ln(p), 6), 6) + 0.0 END
              AS ent_term FROM p),
        se AS (SELECT *, CAST(CAST(SUM(CAST(ent_term AS DECIMAL(18,6)))
            OVER () AS DECIMAL(38,6)) AS DOUBLE) AS entropy FROM e)
        SELECT source, n_tokens, round(p, 6) AS share, ent_term, entropy,
          round(exp(entropy), 6) AS eff_sources,
          CASE WHEN k <= 1 THEN 1.0
            ELSE round(entropy / round(ln(CAST(k AS DOUBLE)), 6), 6)
            END AS evenness
        FROM se""")),

    // ---- BPE merge-candidate pair counts (tokenizer-training step 0) -----
    // The first iteration of byte-pair-encoding training — the op a
    // tokenizer pipeline runs over the SAME corpus the engine just
    // cleaned: count adjacent character pairs inside words, weighted by
    // corpus word frequency, and rank the merge candidates (top pair =
    // BPE's first merge). Ranking the head is the decision input; the
    // full pair table is the same frame without the rank cut.
    //
    // Scale shape: the corpus explode folds map-side onto the WORD-VOCAB
    // domain first (the d24/d62 move — pair expansion runs over distinct
    // words × their bounded lengths, never over corpus tokens), then
    // pairs fold onto the alphabet² domain (≤ ~1.4k rows for ASCII
    // letters). The top-20 is orderBy + limit over that BOUNDED pair
    // domain — TakeOrderedAndProject, each task forwarding its own 20
    // (an unpartitioned row_number ≤ k filter would NOT get a
    // WindowGroupLimit — Catalyst's insertion needs a partitionSpec;
    // plan-pinned in PlanShapeSpec); the rank label is a window over
    // the 20 survivors. Nothing after the first groupBy is corpus-sized.
    //
    // Exactness: integer counts end-to-end; ties rank by pair text
    // (unique), so the cut is deterministic in both engines. Overlapping
    // pairs ('aaa' → 'aa','aa') both count — the standard BPE pair
    // statistic; overlap resolution happens at merge-apply time, not in
    // the count.
    GraftQuery(
      "d68_bpe_pair_counts",
      (s, d) => {
        val vocab = Tables.documents(s, d)
          .select(explode(tokens(col("text"))).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("w"))
        vocab
          .filter(length(col("tok")) >= 2)
          .select(col("w"), explode(expr(
            "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
            .as("pair"))
          .groupBy(col("pair")).agg(sum(col("w")).cast("bigint").as("pair_count"))
          .orderBy(col("pair_count").desc, col("pair").asc)
          .limit(20)
          .withColumn("merge_rank",
            row_number().over(
              Window.orderBy(col("pair_count").desc, col("pair").asc))
              .cast("bigint"))
      },
      Some(s"""WITH t AS (SELECT $sqlToks AS toks FROM documents),
        tok AS (SELECT unnest(toks) AS tok FROM t),
        v AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS w FROM tok GROUP BY 1),
        pr AS (SELECT unnest(list_transform(range(1, len(tok)),
              i -> substring(tok, CAST(i AS INT), 2))) AS pair, w
          FROM v WHERE len(tok) >= 2),
        c AS (SELECT pair, CAST(SUM(w) AS BIGINT) AS pair_count
          FROM pr GROUP BY 1)
        SELECT pair, pair_count,
          CAST(row_number() OVER (ORDER BY pair_count DESC, pair ASC)
            AS BIGINT) AS merge_rank
        FROM c QUALIFY merge_rank <= 20""")),

    // ---- lang × source independence (chi-square contingency audit) -------
    // The stratification audit d06/d60 don't ask: is language
    // distribution INDEPENDENT of source, or do sources carry materially
    // different language mixes (which breaks any "sample by source,
    // assume language balance" plan)? Classic Pearson chi² over the
    // lang × source contingency table — per-cell observed/expected and
    // contribution (the drill-down showing WHICH cell drives the
    // dependence), plus the total statistic and degrees of freedom.
    //
    // Scale shape: ONE corpus scan folds map-side onto the lang × source
    // cell domain; marginals derive from the CELL table (grid-sized),
    // never a rescan; the grid densify is a broadcast nested-loop of two
    // bounded marginal frames (zero cells must enter the statistic —
    // a left join from the cross product restores them); every window
    // runs on the ≤ langs × sources grid. The d64 envelope with a 2-D
    // domain.
    //
    // Exactness: observed/marginal counts are exact int64; expected
    // multiplies/divides them as double in one op order (exact to 2⁵³);
    // contributions round at 6 dp and the total sums DECIMAL(18,6)
    // (order-free); dof is integer arithmetic on window-counted distinct
    // marginals.
    GraftQuery(
      "d69_lang_source_chi2",
      (s, d) => {
        val w = Window.partitionBy(lit(1))
        val cells = Tables.documents(s, d)
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("o"))
        val rowTot = cells.groupBy(col("lang")).agg(sum(col("o")).as("rt"))
        val colTot = cells.groupBy(col("source")).agg(sum(col("o")).as("ct"))
        rowTot.crossJoin(broadcast(colTot))
          .join(cells, Seq("lang", "source"), "left")
          .withColumn("o", coalesce(col("o"), lit(0L)))
          .withColumn("n", sum(col("o")).over(w))
          .withColumn("nl", size(collect_set(col("lang")).over(w)).cast("bigint"))
          .withColumn("ns", size(collect_set(col("source")).over(w)).cast("bigint"))
          .withColumn("e", col("rt").cast("double") * col("ct").cast("double")
            / col("n").cast("double"))
          .withColumn("contrib",
            round((col("o").cast("double") - col("e"))
              * (col("o").cast("double") - col("e")) / col("e"), 6))
          .withColumn("chi2",
            sum(col("contrib").cast("decimal(18,6)")).over(w).cast("double"))
          .select(col("lang"), col("source"), col("o"),
            col("rt").cast("bigint").as("rt"), col("ct").cast("bigint").as("ct"),
            round(col("e"), 6).as("expected"), col("contrib"), col("chi2"),
            ((col("nl") - 1) * (col("ns") - 1)).cast("bigint").as("dof"))
      },
      Some("""WITH cell AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
          FROM documents GROUP BY 1, 2),
        r AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM cell GROUP BY 1),
        c AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ct FROM cell
          GROUP BY 1),
        g AS (SELECT r.lang, c.source, r.rt, c.ct, COALESCE(cell.o, 0) AS o
          FROM r CROSS JOIN c LEFT JOIN cell
            ON cell.lang = r.lang AND cell.source = c.source),
        t AS (SELECT *, CAST(SUM(o) OVER () AS BIGINT) AS n,
            CAST(COUNT(DISTINCT lang) OVER () AS BIGINT) AS nl,
            CAST(COUNT(DISTINCT source) OVER () AS BIGINT) AS ns FROM g),
        x AS (SELECT *, CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
            / CAST(n AS DOUBLE) AS e FROM t),
        y AS (SELECT *, round((CAST(o AS DOUBLE) - e)
            * (CAST(o AS DOUBLE) - e) / e, 6) AS contrib FROM x)
        SELECT lang, source, o, rt, ct, round(e, 6) AS expected, contrib,
          CAST(CAST(SUM(CAST(contrib AS DECIMAL(18,6))) OVER ()
            AS DECIMAL(38,6)) AS DOUBLE) AS chi2,
          CAST((nl - 1) * (ns - 1) AS BIGINT) AS dof
        FROM y""")),

    // ---- CCNet head/middle/tail perplexity bucketing ---------------------
    // The op CCNet actually ships (d32 computes the score; this is the
    // DECISION layered on it): per LANGUAGE, split docs into equal
    // perplexity terciles — 'head' (most fluent third, kept outright),
    // 'middle', 'tail' (usually dropped or down-weighted). Per-language
    // is the point: raw LM scores aren't comparable across languages, so
    // a global cut would keep only the LM's favorite language. Bucket
    // assignment is the q27/q50 rank-arithmetic rule ((rk−1)·3 div n),
    // not ntile(), for engine-exact boundaries.
    //
    // Scale shape: d32's shared scoring lineage (one vocab broadcast,
    // per-doc partial agg) plus a doc_id join for lang, then ONE
    // lang-partitioned rank window over the per-DOC frame — per-language
    // sort is the inherent price of exact terciles (languages
    // parallelize across the exchange; within a 100 TB language the
    // relaxation is two approx-quantile thresholds per lang, one
    // fixed-size sketch each). Unscoreable docs (NULL score) sort last
    // in BOTH engines (DESC default) and land in 'tail' — the right
    // failure mode for a fluency gate.
    GraftQuery(
      "d70_perplexity_buckets",
      (s, d) => {
        val sc = unigramLogprobDocs(s, d)
          .join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
            Seq("doc_id"))
        val w = Window.partitionBy(col("lang"))
        sc
          .withColumn("rk", row_number().over(w.orderBy(
            col("logprob_per_token").desc_nulls_last, col("doc_id").asc))
            .cast("bigint"))
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("b", expr("cast((rk - 1) * 3 div n as bigint)"))
          .select(col("doc_id"), col("lang"), col("logprob_per_token"),
            when(col("b") === 0, lit("head"))
              .when(col("b") === 1, lit("middle"))
              .otherwise(lit("tail")).as("bucket"))
      },
      Some(s"""WITH $sqlUnigramCtes,
        base AS (SELECT d.doc_id, d.lang, sc.logprob_per_token
          FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
        r AS (SELECT doc_id, lang, logprob_per_token,
            CAST(row_number() OVER (PARTITION BY lang
              ORDER BY logprob_per_token DESC NULLS LAST, doc_id ASC)
              AS BIGINT) AS rk,
            CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
          FROM base)
        SELECT doc_id, lang, logprob_per_token,
          CASE (rk - 1) * 3 // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
            ELSE 'tail' END AS bucket
        FROM r""")),

    // ---- quality-signal agreement audit (Spearman rank correlation) ------
    // The methodological check a gating stack needs BEFORE it gates: do
    // the heuristic quality score (d03) and the LM fluency score (d32)
    // rank the corpus the same way? Spearman ρ over the two rankings —
    // near 0 means the two gates remove DIFFERENT documents (each adds
    // signal); near 1 means one is redundant; NEGATIVE means they
    // actively disagree and one of them is miscalibrated. One scalar row:
    // n scored docs, Σd², ρ = 1 − 6Σd²/(n(n²−1)). Ranks are row_number
    // under a (score, doc_id) total order — the deterministic variant of
    // Spearman (average-rank ties don't exist under a unique tie-break;
    // with continuous scores the difference is measure-zero).
    //
    // Scale shape: two GlobalRank passes over the per-DOC scored frame
    // (range-partitioned sorts — exact global ranks are the honest price
    // of exact Spearman; the 100 TB relaxation is rank-from-quantile-bin
    // via two fixed-size sketches). Everything else is one scan (both
    // scores ride d32's shared lineage + a narrow quality column) and
    // one 1-row fold.
    //
    // Exactness: ranks are integers; Σd² accumulates DECIMAL(38,0)
    // products (order-free, overflow-proof at any n); ρ runs on doubles
    // cast from those exact values in one op order, 6-dp rounded; the
    // n ≤ 1 degenerate case yields NULL in both engines.
    GraftQuery(
      "d71_signal_agreement",
      (s, d) => {
        import graft.operators.GlobalRank
        val sc = unigramLogprobDocs(s, d).filter(col("n_tokens") > 0)
          .join(Tables.documents(s, d).select(col("doc_id"),
            qualityScore(col("text")).as("q")), Seq("doc_id"))
          .select(col("doc_id"), col("q"), col("logprob_per_token").as("lp"))
        val ranked = GlobalRank.withRowNumber(
          GlobalRank.withRowNumber(sc,
            Seq(col("q").asc, col("doc_id").asc), "rq"),
          Seq(col("lp").asc, col("doc_id").asc), "rl")
        val dd = (col("rq") - col("rl")).cast("decimal(19,0)")
        ranked
          .agg(count(lit(1)).as("n"), sum(dd * dd).as("d2"))
          .select(col("n").as("n_docs"),
            col("d2").cast("double").as("sum_d2"),
            when(col("n") <= 1, lit(null).cast("double"))
              .otherwise(round(lit(1.0) - lit(6.0) * col("d2").cast("double")
                / (col("n").cast("double") * (col("n").cast("double")
                  * col("n").cast("double") - lit(1.0))), 6))
              .as("spearman_rho"))
      },
      Some(s"""WITH $sqlUnigramCtes,
        qs AS (SELECT doc_id, $sqlQualityOfText AS q
          FROM documents),
        j AS (SELECT sc.doc_id, qs.q, sc.logprob_per_token AS lp
          FROM sc JOIN qs ON sc.doc_id = qs.doc_id WHERE sc.n_tokens > 0),
        r AS (SELECT doc_id, q, lp,
            CAST(row_number() OVER (ORDER BY q ASC, doc_id ASC) AS BIGINT)
              AS rq,
            CAST(row_number() OVER (ORDER BY lp ASC, doc_id ASC) AS BIGINT)
              AS rl
          FROM j),
        a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST((rq - rl) AS DECIMAL(19,0))
              * CAST((rq - rl) AS DECIMAL(19,0))) AS d2
          FROM r)
        SELECT n AS n_docs, CAST(d2 AS DOUBLE) AS sum_d2,
          CASE WHEN n <= 1 THEN NULL
            ELSE round(1.0 - 6.0 * CAST(d2 AS DOUBLE)
              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                - 1.0)), 6) END AS spearman_rho
        FROM a""")),

    // ---- quality-elected duplicate representatives (keep-best dedup) -----
    // d53 elects each near-dup group's representative by MIN doc_id —
    // the arbitrary-but-deterministic rule. Production pipelines
    // increasingly keep the BEST duplicate instead (longest, cleanest,
    // highest quality): this is d53's exact band machinery with the
    // election flipped to argmax d03-quality (ties → smallest id). The
    // argmax rides the same O(1)-state window trick: max of
    // struct(q, −doc_id) is lexicographic — max quality first, then MIN
    // id — so a boilerplate mega-bucket folds in constant window state,
    // never an ordered buffer (the d53 scale rule, kept).
    //
    // Scale shape: identical to d53 — banded signatures explode T×docs
    // rows, ONE (t, mh) window + one doc_id fold + the narrow left-join
    // back; quality is one extra codegen'd column carried through.
    //
    // Exactness: quality doubles are engine-identical (the d03-verified
    // arithmetic); the struct max / (q DESC, id ASC) row_number pair
    // encode the same total order; int64 ids end-to-end.
    GraftQuery(
      "d72_best_rep_election",
      (s, d) => {
        val scored = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .select(col("doc_id"), qualityScore(col("text")).as("q"),
            sparkGramsCol.as("sh"))
        val banded = NearDup.md5Banded(scored, col("q"))
        val bucketBest = banded.withColumn("best",
          max(struct(col("q"), (-col("doc_id")).as("nid"))).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("t"), col("mh"))))
        val reps = bucketBest.groupBy(col("doc_id"))
          .agg(max(col("best")).as("b"))
          .select(col("doc_id"), (-col("b.nid")).as("rep_id"))
        Tables.documents(s, d).select(col("doc_id"))
          .join(reps, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("rep_id"), col("doc_id")).as("rep_id"))
          .withColumn("kept",
            (col("rep_id") === col("doc_id")).cast("int"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        qs AS (SELECT doc_id, $sqlQualityOfText AS q
          FROM documents),
        g AS (SELECT doc_id, $sqlGrams AS sh FROM toks),
        b AS (${sqlMd5Bands("g")}),
        bq AS (SELECT b.doc_id, b.t, b.mh, qs.q FROM b
          JOIN qs USING (doc_id)),
        best AS (SELECT t, mh, doc_id AS bid, q AS bq,
            row_number() OVER (PARTITION BY t, mh
              ORDER BY q DESC, doc_id ASC) AS rn
          FROM bq),
        bb AS (SELECT t, mh, bid, bq FROM best WHERE rn = 1),
        j AS (SELECT b2.doc_id, bb.bid,
            row_number() OVER (PARTITION BY b2.doc_id
              ORDER BY bb.bq DESC, bb.bid ASC) AS rn
          FROM bq b2 JOIN bb USING (t, mh)),
        r AS (SELECT doc_id, bid AS rep FROM j WHERE rn = 1)
        SELECT d.doc_id, COALESCE(r.rep, d.doc_id) AS rep_id,
          CAST(CASE WHEN COALESCE(r.rep, d.doc_id) = d.doc_id
            THEN 1 ELSE 0 END AS INT) AS kept
        FROM documents d LEFT JOIN r USING (doc_id)""")),

    // ---- k-anonymity audit over quasi-identifiers ------------------------
    // The governance question the PII scrub (d26) doesn't answer:
    // masking direct identifiers still leaves QUASI-identifiers, and a
    // doc whose (lang, source, length-bucket) tuple is shared by fewer
    // than k documents is re-identifiable by that combination alone.
    // Classic k-anonymity (k = 5): per equivalence class, its size and
    // at-risk flag, plus the corpus-wide share of docs sitting in
    // under-k classes — the scalar a release review gates on
    // (generalize the buckets or suppress the tail until it's ~0).
    //
    // Scale shape: ONE scan folds map-side onto the lang × source × 10
    // length-bucket class domain; the risky-share windows run on that
    // bounded grid. The d64/d69 envelope.
    //
    // Exactness: class counts are exact int64; the share divides exact
    // sums as double in one op order, 6-dp rounded; the length bucket is
    // pure integer arithmetic (n_chars div 100, clamped to 9).
    GraftQuery(
      "d73_k_anonymity",
      (s, d) => {
        val w = Window.partitionBy(lit(1))
        Tables.documents(s, d)
          .select(col("lang"), col("source"),
            least(lit(9L), expr("cast(n_chars div 100 as bigint)"))
              .as("len_bucket"))
          .groupBy(col("lang"), col("source"), col("len_bucket"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("at_risk", (col("n_docs") < 5).cast("int"))
          .withColumn("risky_share",
            round(sum(when(col("at_risk") === 1, col("n_docs"))
                .otherwise(0L)).over(w).cast("double")
              / sum(col("n_docs")).over(w).cast("double"), 6))
      },
      Some("""WITH cls AS (SELECT lang, source,
            least(9, n_chars // 100) AS len_bucket FROM documents),
        g AS (SELECT lang, source, CAST(len_bucket AS BIGINT) AS len_bucket,
            CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM cls GROUP BY 1, 2, 3),
        f AS (SELECT *,
            CAST(CASE WHEN n_docs < 5 THEN 1 ELSE 0 END AS INT) AS at_risk
          FROM g)
        SELECT lang, source, len_bucket, n_docs, at_risk,
          round(CAST(CAST(SUM(CASE WHEN at_risk = 1 THEN n_docs ELSE 0 END)
              OVER () AS BIGINT) AS DOUBLE)
            / CAST(CAST(SUM(n_docs) OVER () AS BIGINT) AS DOUBLE), 6)
            AS risky_share
        FROM f""")),

    // ---- bag-of-words fingerprint dedup ------------------------------------
    // The canonicalization layer between exact dedup (d04: byte-identical
    // after squish) and shingle near-dup (d08: order-sensitive trigrams):
    // hash the SORTED token list, so token-reorder mirrors (template
    // fields swapped, list items shuffled — common in scraped boilerplate)
    // collapse into one group even though no trigram survives the
    // reorder. Per doc: the bag fingerprint, its group size, the
    // keep-first flag, and `reorder_caught` — the docs ONLY this
    // canonicalization catches (bag group strictly larger than the exact
    // fingerprint group), i.e. the operator's marginal yield over d04.
    //
    // Scale shape: two narrow codegen'd hashes per doc, two window counts
    // over 32-byte keys — the d04/d05 envelope (hash-partitioned, no
    // payload wider than the fingerprints ever shuffles; array_sort is
    // per-row CPU, not a shuffle).
    //
    // Exactness: md5 over ASCII-sorted tokens is byte-identical across
    // engines (pure-ASCII corpus, both sort lexicographically by bytes);
    // counts/flags are integers.
    GraftQuery(
      "d74_bow_fingerprint_dedup",
      (s, d) => {
        val wb = Window.partitionBy(col("bow_fp"))
        val we = Window.partitionBy(col("exact_fp"))
        Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          // NULL text must yield a NULL fingerprint in BOTH engines, the
          // d04 rule: concat_ws never returns NULL in Spark while
          // DuckDB's array_to_string propagates it, so the null must be
          // re-injected BEFORE the md5 (null docs then group together
          // under the window's single null partition, identically in
          // both engines)
          .select(col("doc_id"),
            md5(when(col("toks").isNotNull,
              concat_ws(" ", array_sort(col("toks"))))).as("bow_fp"),
            fingerprint(col("text")).as("exact_fp"))
          .withColumn("group_n", count(lit(1)).over(wb))
          .withColumn("exact_n", count(lit(1)).over(we))
          .withColumn("kept",
            (min(col("doc_id")).over(wb) === col("doc_id")).cast("int"))
          .select(col("doc_id"), col("bow_fp"), col("group_n"),
            col("kept"),
            (col("group_n") > col("exact_n")).cast("int")
              .as("reorder_caught"))
      },
      Some(s"""WITH t AS (SELECT doc_id, text, $sqlToks AS toks
          FROM documents),
        f AS (SELECT doc_id,
            md5(array_to_string(list_sort(toks), ' ')) AS bow_fp,
            $sqlFingerprint AS exact_fp
          FROM t),
        g AS (SELECT doc_id, bow_fp,
            CAST(COUNT(*) OVER (PARTITION BY bow_fp) AS BIGINT) AS group_n,
            CAST(COUNT(*) OVER (PARTITION BY exact_fp) AS BIGINT) AS exact_n,
            MIN(doc_id) OVER (PARTITION BY bow_fp) AS keeper
          FROM f)
        SELECT doc_id, bow_fp, group_n,
          CAST(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END AS INT) AS kept,
          CAST(CASE WHEN group_n > exact_n THEN 1 ELSE 0 END AS INT)
            AS reorder_caught
        FROM g""")),

    // ---- source admission ranking: Wilson lower bound ----------------------
    // The "which domains do we crawl more of" primitive: ranking sources
    // by raw gate pass-rate overrates tiny sources (2/2 beats 980/1000);
    // the standard fix is the Wilson score interval's LOWER bound at 95%
    // (z = 1.96) — a small-n source must EARN its rank with evidence.
    // Per source: docs, gate passes, raw rate, the Wilson lower bound,
    // and the admission rank by that bound.
    //
    // Scale shape: ONE scan folds map-side onto the source domain
    // (thousands of hosts at corpus scale, 20 here); the Wilson algebra
    // and the rank window run on that bounded grid. The d73 envelope.
    //
    // Exactness: counts exact int64; the Wilson formula evaluates in ONE
    // shared op order on identical doubles, 6-dp rounded BEFORE the rank
    // orders by it (tie-broken by source), so the rank consumes identical
    // keys in both engines.
    GraftQuery(
      "d75_source_quality_wilson",
      (s, d) => {
        val z = 1.96
        // substrate shared with the streaming admission monitor
        // (Sketches.gatePassCounts — the eleventh bounded-state sketch;
        // StatefulOpsSpec maintains the same frame on a stream)
        val g = graft.operators.Sketches.gatePassCounts(
          Tables.documents(s, d)
            .select(col("source"),
              coalesce(qualityScore(col("text")) >= 0.5, lit(false))
                .as("pass")),
          "source", "pass")
          .withColumn("p", col("n_pass").cast("double")
            / col("n_docs").cast("double"))
          .withColumn("nn", col("n_docs").cast("double"))
          .withColumn("wilson_lb", round(
            (col("p") + lit(z * z) / (lit(2.0) * col("nn"))
              - lit(z) * sqrt(col("p") * (lit(1.0) - col("p")) / col("nn")
                + lit(z * z) / (lit(4.0) * col("nn") * col("nn"))))
            / (lit(1.0) + lit(z * z) / col("nn")), 6))
        g.select(col("source"), col("n_docs"), col("n_pass"),
            round(col("p"), 6).as("pass_rate"), col("wilson_lb"))
          .withColumn("admission_rank", row_number().over(
            Window.partitionBy(lit(1))
              .orderBy(col("wilson_lb").desc, col("source").asc))
            .cast("bigint"))
      },
      Some(s"""WITH sc AS (SELECT source,
            CASE WHEN $sqlQualityOfText >= 0.5 THEN 1 ELSE 0 END AS pass
          FROM documents),
        g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(pass) AS BIGINT) AS n_pass
          FROM sc GROUP BY 1),
        w AS (SELECT *,
            CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE) AS p,
            CAST(n_docs AS DOUBLE) AS nn FROM g),
        x AS (SELECT source, n_docs, n_pass, round(p, 6) AS pass_rate,
            round((p + (1.96 * 1.96) / (2.0 * nn)
                - 1.96 * sqrt(p * (1.0 - p) / nn
                  + (1.96 * 1.96) / (4.0 * nn * nn)))
              / (1.0 + (1.96 * 1.96) / nn), 6) AS wilson_lb
          FROM w)
        SELECT source, n_docs, n_pass, pass_rate, wilson_lb,
          CAST(row_number() OVER (ORDER BY wilson_lb DESC, source ASC)
            AS BIGINT) AS admission_rank
        FROM x""")),

    // ---- language-ID confusion matrix --------------------------------------
    // The model-eval readout d06's per-doc predictions feed: the
    // (label × prediction) contingency grid with row- and column-shares.
    // On diagonal cells row_share IS the label's recall and col_share IS
    // the prediction's precision — one grain carries the whole
    // classifier report (the same marker heuristic a crawl triages with
    // before spending a real LID model on ambiguous docs).
    //
    // Scale shape: the per-doc predictor is a narrow codegen'd regex
    // pass; ONE map-side fold onto the |langs|² grid; share windows run
    // on that bounded grid. The d69 χ² envelope.
    //
    // Exactness: cell counts exact int64; shares divide exact int64
    // window sums as double, 6-dp rounded.
    GraftQuery(
      "d76_lang_confusion",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("lang"), langId(col("text")).as("lang_pred"))
          .groupBy(col("lang"), col("lang_pred"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("row_share", round(col("n_docs").cast("double")
            / sum(col("n_docs")).over(Window.partitionBy(col("lang")))
              .cast("double"), 6))
          .withColumn("col_share", round(col("n_docs").cast("double")
            / sum(col("n_docs")).over(Window.partitionBy(col("lang_pred")))
              .cast("double"), 6))
      },
      Some(s"""WITH p AS (SELECT lang, lang_pred
          FROM ${sqlLangPredOver("lang")} t),
        c AS (SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM p GROUP BY 1, 2)
        SELECT lang, lang_pred, n_docs,
          round(CAST(n_docs AS DOUBLE) / CAST(CAST(SUM(n_docs)
            OVER (PARTITION BY lang) AS BIGINT) AS DOUBLE), 6) AS row_share,
          round(CAST(n_docs AS DOUBLE) / CAST(CAST(SUM(n_docs)
            OVER (PARTITION BY lang_pred) AS BIGINT) AS DOUBLE), 6)
            AS col_share
        FROM c""")),

    // ---- dedup survivor-bias audit ------------------------------------------
    // The governance question a dedup pass must answer before shipping a
    // mix: does keep-FIRST (d53's min-id representative election)
    // systematically keep worse text than it drops? Per source: docs,
    // survivors, and the mean quality of kept vs dropped docs with the
    // delta — a negative delta on a big source says switch that source to
    // keep-BEST (d72) before training on it.
    //
    // Scale shape: rides d53's md5-band representative election
    // unchanged (bounded band domain, window-min — the linear cluster
    // form, no pair materialization), joins the 6-dp quality score on
    // doc_id, then folds map-side onto the source domain.
    //
    // Exactness: quality rounds to 6 dp and sums as exact decimals;
    // means divide by exact counts with CASE-guarded empty sides (a
    // source with no drops yields NULL delta in both engines, never a
    // divide-by-zero).
    GraftQuery(
      "d77_dedup_bias_audit",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val kq = NearDup.minhashLshRepresentatives(docs,
            NearDup.Bands.Md5Grams,
            Some(docs.select(col("doc_id"), col("source"),
              round(qualityScore(col("text")), 6).cast("decimal(18,6)")
                .as("q6"))))
          .withColumn("kept", (col("rep_id") === col("doc_id")).cast("long"))
        kq.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("kept")).as("n_kept"),
            sum(when(col("kept") === 1L, col("q6"))).as("kq_sum"),
            sum(when(col("kept") === 0L, col("q6"))).as("dq_sum"))
          .withColumn("n_dropped", col("n_docs") - col("n_kept"))
          .withColumn("mean_kept_q",
            when(col("n_kept") === 0L, lit(null).cast("double"))
              .otherwise(round(col("kq_sum").cast("double")
                / col("n_kept").cast("double"), 6)))
          .withColumn("mean_dropped_q",
            when(col("n_dropped") === 0L, lit(null).cast("double"))
              .otherwise(round(col("dq_sum").cast("double")
                / col("n_dropped").cast("double"), 6)))
          .select(col("source"), col("n_docs"), col("n_kept"),
            col("n_dropped"), col("mean_kept_q"), col("mean_dropped_q"),
            round(col("mean_kept_q") - col("mean_dropped_q"), 6)
              .as("quality_delta"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks
          FROM documents),
        g AS (SELECT doc_id, $sqlGrams AS sh FROM toks),
        $sqlMd5RepCtes,
        kq AS (SELECT d.source,
            CAST(round($sqlQualityOfText, 6) AS DECIMAL(18,6)) AS q6,
            CASE WHEN COALESCE(r.rep, d.doc_id) = d.doc_id
              THEN 1 ELSE 0 END AS kept
          FROM documents d LEFT JOIN r USING (doc_id)),
        a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(kept) AS BIGINT) AS n_kept,
            SUM(CASE WHEN kept = 1 THEN q6 END) AS kq_sum,
            SUM(CASE WHEN kept = 0 THEN q6 END) AS dq_sum
          FROM kq GROUP BY 1),
        m AS (SELECT source, n_docs, n_kept, n_docs - n_kept AS n_dropped,
            CASE WHEN n_kept = 0 THEN NULL
              ELSE round(CAST(kq_sum AS DOUBLE)
                / CAST(n_kept AS DOUBLE), 6) END AS mean_kept_q,
            CASE WHEN n_docs - n_kept = 0 THEN NULL
              ELSE round(CAST(dq_sum AS DOUBLE)
                / CAST(n_docs - n_kept AS DOUBLE), 6) END
              AS mean_dropped_q
          FROM a)
        SELECT source, n_docs, n_kept, n_dropped, mean_kept_q,
          mean_dropped_q,
          round(mean_kept_q - mean_dropped_q, 6) AS quality_delta
        FROM m""")),

    // ---- vocabulary growth curve + Heaps-law fit ---------------------------
    // d62 fits the FREQUENCY law (Zipf); this fits the GROWTH law
    // (Heaps: V(n) ≈ K·n^β) — the curve that answers "how much new
    // vocabulary does the next crawl chunk buy", i.e. when scaling the
    // corpus stops paying in diversity. Docs split into 10 id-range
    // chunks (ingestion order); per chunk: token count, FIRST-SEEN new
    // terms, cumulative tokens/vocab, and the corpus-wide Heaps β from
    // the d62 OLS template over the 10 (ln cum_tokens, ln cum_vocab)
    // points.
    //
    // Scale shape: the chunk key is closed-form integer arithmetic over
    // (doc_id, broadcast min/max) — no global ordering window over docs
    // anywhere; new-term attribution is ONE term-domain fold
    // (groupBy(term).min(chunk), the d46 drift shape); everything after
    // lives on the 10-row chunk grid.
    //
    // Exactness: chunking/counts are exact integers; ln consumes exact
    // int64 casts (the d32/d62 precedent), 6-dp rounded; OLS moment sums
    // are exact decimals over rounded terms; guards NULL the fit when
    // the grid degenerates (ANSI-safe, mirrored).
    GraftQuery(
      "d78_vocab_growth",
      (s, d) => {
        val ids = broadcast(Tables.documents(s, d)
          .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx")))
        val terms = Tables.documents(s, d)
          .crossJoin(ids)
          .select(least(lit(9L), call_function("div",
            (col("doc_id") - col("mn")) * 10L,
            col("mx") - col("mn") + 1L)).as("chunk"),
            explode(tokens(col("text"))).as("term"))
        val tokCounts = terms.groupBy(col("chunk"))
          .agg(count(lit(1)).as("n_tokens"))
        val newTerms = terms.groupBy(col("term"))
          .agg(min(col("chunk")).as("chunk"))
          .groupBy(col("chunk"))
          .agg(count(lit(1)).as("new_terms"))
        val wo = Window.partitionBy(lit(1)).orderBy(col("chunk"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val w = Window.partitionBy(lit(1))
        val grid = tokCounts
          .join(newTerms, Seq("chunk"), "left")
          .select(col("chunk"), col("n_tokens"),
            coalesce(col("new_terms"), lit(0L)).as("new_terms"))
          .withColumn("cum_tokens", sum(col("n_tokens")).over(wo))
          .withColumn("cum_vocab", sum(col("new_terms")).over(wo))
          .withColumn("x", when(col("cum_tokens") > 0L,
            round(log(col("cum_tokens").cast("double")), 6)))
          .withColumn("y", when(col("cum_vocab") > 0L,
            round(log(col("cum_vocab").cast("double")), 6)))
        grid
          .withColumn("n", count(col("x")).over(w).cast("double"))
          .withColumn("sx", sum(col("x").cast("decimal(18,6)")).over(w)
            .cast("double"))
          .withColumn("sy", sum(col("y").cast("decimal(18,6)")).over(w)
            .cast("double"))
          .withColumn("sxy", sum(round(col("x") * col("y"), 6)
            .cast("decimal(18,6)")).over(w).cast("double"))
          .withColumn("sx2", sum(round(col("x") * col("x"), 6)
            .cast("decimal(18,6)")).over(w).cast("double"))
          .withColumn("heaps_beta", round(
            (col("n") * col("sxy") - col("sx") * col("sy"))
              / nullif(col("n") * col("sx2") - col("sx") * col("sx"),
                lit(0.0)), 6))
          .select(col("chunk"), col("n_tokens"), col("new_terms"),
            col("cum_tokens"), col("cum_vocab"), col("heaps_beta"))
      },
      Some(s"""WITH ids AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx
          FROM documents),
        tm AS (SELECT least(9, ((doc_id - mn) * 10) // (mx - mn + 1))
            AS chunk, unnest($sqlToks) AS term
          FROM documents, ids),
        tc AS (SELECT CAST(chunk AS BIGINT) AS chunk,
            CAST(COUNT(*) AS BIGINT) AS n_tokens FROM tm GROUP BY 1),
        ft AS (SELECT term, CAST(MIN(chunk) AS BIGINT) AS chunk
          FROM tm GROUP BY 1),
        nt AS (SELECT chunk, CAST(COUNT(*) AS BIGINT) AS new_terms
          FROM ft GROUP BY 1),
        grid AS (SELECT tc.chunk, tc.n_tokens,
            COALESCE(nt.new_terms, 0) AS new_terms
          FROM tc LEFT JOIN nt USING (chunk)),
        cum AS (SELECT *,
            CAST(SUM(n_tokens) OVER (ORDER BY chunk ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
            CAST(SUM(new_terms) OVER (ORDER BY chunk ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
          FROM grid),
        xy AS (SELECT *,
            CASE WHEN cum_tokens > 0
              THEN round(ln(CAST(cum_tokens AS DOUBLE)), 6) END AS x,
            CASE WHEN cum_vocab > 0
              THEN round(ln(CAST(cum_vocab AS DOUBLE)), 6) END AS y
          FROM cum),
        mm AS (SELECT *,
            CAST(COUNT(x) OVER () AS DOUBLE) AS n,
            CAST(CAST(SUM(CAST(x AS DECIMAL(18,6))) OVER ()
              AS DECIMAL(38,6)) AS DOUBLE) AS sx,
            CAST(CAST(SUM(CAST(y AS DECIMAL(18,6))) OVER ()
              AS DECIMAL(38,6)) AS DOUBLE) AS sy,
            CAST(CAST(SUM(CAST(round(x * y, 6) AS DECIMAL(18,6))) OVER ()
              AS DECIMAL(38,6)) AS DOUBLE) AS sxy,
            CAST(CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(18,6))) OVER ()
              AS DECIMAL(38,6)) AS DOUBLE) AS sx2
          FROM xy)
        SELECT chunk, n_tokens, new_terms, cum_tokens, cum_vocab,
          round((n * sxy - sx * sy)
            / NULLIF(n * sx2 - sx * sx, 0.0), 6) AS heaps_beta
        FROM mm""")),

    // ---- corpus language-mix totals ------------------------------------------
    // The corpus-level readout d76's per-doc confusion grid rolls into:
    // per language, the total marker-hit mass and its share of all hits —
    // the 4-row table a language-mix alarm watches (d67 monitors the
    // SOURCE mix by tokens; this monitors the LANGUAGE mix by marker
    // evidence, robust to unlabeled docs because it never needs an
    // argmax). Shared substrate: Sketches.langHitTotals, the EIGHTH
    // bounded-state streaming sketch (≤4-row sum-merge state,
    // StatefulOpsSpec) — batch query, oracle, and stream maintenance all
    // read the same frame.
    //
    // Scale shape: one codegen'd four-counter projection per doc,
    // exploded onto the FIXED language domain with map-side partials;
    // the share window runs on ≤4 rows.
    //
    // Exactness: hit counts exact int64; shares divide exact int64s,
    // 6-dp rounded, guarded for a zero-evidence corpus.
    GraftQuery(
      "d83_lang_mix_totals",
      (s, d) => {
        val w = Window.partitionBy(lit(1))
        graft.operators.Sketches
          .langHitTotals(Tables.documents(s, d), "text")
          .withColumn("total", sum(col("hits")).over(w))
          .select(col("lang"), col("hits"),
            when(col("total") > 0L, round(col("hits").cast("double")
              / col("total").cast("double"), 6)).as("hit_share"))
      },
      Some {
        val arms = graft.functions.TextFunctions.langMarkers.map {
          case (code, _) =>
            s"""SELECT '$code' AS lang,
              CAST(COALESCE(SUM(${code}_n), 0) AS BIGINT) AS hits FROM h"""
        }.mkString("\n          UNION ALL ")
        s"""WITH h AS (SELECT $sqlLangHits FROM documents),
          t AS ($arms),
          g AS (SELECT *, CAST(SUM(hits) OVER () AS BIGINT) AS total
            FROM t)
          SELECT lang, hits,
            CASE WHEN total > 0 THEN
              round(CAST(hits AS DOUBLE) / CAST(total AS DOUBLE), 6) END
              AS hit_share
          FROM g"""
      }),

    // ---- per-source boilerplate chunk extraction ----------------------------
    // d22 scores each DOC's duplicated-chunk fraction; this answers the
    // inverse curation question — WHICH chunks are the boilerplate
    // (cookie banners, license headers, nav text), per source, so a
    // scrub rule can target them. Per source: the top-3 10-token chunks
    // by document coverage, with the share of the source's docs
    // containing each — the cleanup worklist a crawl triage reads.
    //
    // Scale shape: d22's chunk explode collapses to the (source, chunk)
    // domain via a distinct-doc pre-fold (a doc repeating its own banner
    // counts once); the top-3 is a rank window partitioned by source —
    // map-side WindowGroupLimit, never a per-source sort of the chunk
    // table; per-source doc totals ride a tiny broadcast join-back.
    //
    // Exactness: all counts int64; coverage divides exact int64s, 6-dp
    // rounded; ranking keys are (count desc, hash asc) — deterministic.
    GraftQuery(
      "d79_boilerplate_chunks",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .withColumn("chunks", chunks10)
        val occ = docs
          .select(col("source"), col("doc_id"),
            explode(col("chunks")).as("c"))
          .select(col("source"), col("doc_id"), md5(col("c")).as("ch"))
          .distinct()
          .groupBy(col("source"), col("ch"))
          .agg(count(lit(1)).as("n_docs"))
        val totals = Tables.documents(s, d)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("src_docs"))
        occ
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("source"))
              .orderBy(col("n_docs").desc, col("ch").asc)).cast("bigint"))
          .filter(col("rank") <= 3)
          .join(broadcast(totals), Seq("source"))
          .select(col("source"), col("rank"), col("ch").as("chunk_hash"),
            col("n_docs"),
            round(col("n_docs").cast("double")
              / col("src_docs").cast("double"), 6).as("doc_coverage"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, source, $sqlToks AS toks
          FROM documents),
        ck AS (SELECT doc_id, source,
            $sqlChunks10 AS chunks
          FROM toks),
        occ AS (SELECT DISTINCT source, doc_id, md5(unnest(chunks)) AS ch
          FROM ck),
        g AS (SELECT source, ch, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM occ GROUP BY 1, 2),
        r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
            ORDER BY n_docs DESC, ch ASC) AS BIGINT) AS rank
          FROM g),
        tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS src_docs
          FROM documents GROUP BY 1)
        SELECT source, rank, ch AS chunk_hash, n_docs,
          round(CAST(n_docs AS DOUBLE) / CAST(src_docs AS DOUBLE), 6)
            AS doc_coverage
        FROM r JOIN tot USING (source) WHERE rank <= 3""")),

    // ---- BPE tokenizer training (k greedy merges) ---------------------------
    // The iterative flagship d68 pins step 0 of: Sennrich-2016 BPE at the
    // word-frequency-table grain. The corpus collapses ONCE to
    // (word, cnt) — a vocabulary-sized domain fold — then each of the 5
    // merge steps scans only that bounded table: weighted pair counts →
    // lexicographically tie-broken argmax (one bounded driver action per
    // step, the e05-seed class — the merge RULE is driver-resident by
    // algorithm design) → native aggregate-lambda rewrite of every
    // word's symbol sequence (greedy left-to-right non-overlap by
    // construction; see operators/Bpe). Output: the 5-row merge table.
    //
    // Rows-only (an iterative driver loop has no single-statement SQL
    // analog — the e05/e13 pattern): d68 hash-pins step 0's pair-count
    // semantics, Round18OpsSpec pins the full merge sequence on the
    // Sennrich corpus, PropertySpec-style non-increasing-count law and
    // GOLDEN.json pin the fixture output.
    GraftQuery(
      "d80_bpe_train",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(explode(tokens(col("text"))).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        val merges = graft.operators.Bpe.train(words, k = 5)
        import s.implicits._
        merges.map(m => (m.step, m.left, m.right, m.pairCount))
          .toDF("step", "left", "right", "pair_count")
          .select(col("step").cast("bigint").as("step"), col("left"),
            col("right"), col("pair_count"))
      },
      None),

    // ---- code-switching / language-purity detector --------------------------
    // d06 assigns ONE language per doc; real crawls carry mixed-language
    // pages (boilerplate in one language wrapping content in another),
    // and a mixed doc poisons both per-language corpora. Per doc: marker
    // hits per language, the winner's purity share, the Shannon entropy
    // of the hit distribution, and the is_mixed flag (enough evidence,
    // low purity) a router sends to a real LID model.
    //
    // Scale shape: four native CountWordsIn passes in ONE codegen'd
    // projection — zero exchanges, the d48 gate-battery envelope.
    //
    // Exactness: hit counts are exact int64; purity divides exact ints;
    // the entropy is a FIXED-ORDER four-term sum (langMarkerWords
    // declaration order, written identically in both engines), 6-dp
    // rounded — no data-dependent summation order anywhere. The +0.0 on
    // mix_entropy folds DuckDB's signed zero: a pure one-language doc
    // has term sum +0.0, and round(-(+0.0), 6) is -0.0 in DuckDB but
    // +0.0 under Spark's BigDecimal round (the r18 d81 hash mismatch).
    GraftQuery(
      "d81_code_switch",
      (s, d) => {
        import graft.functions.TextExprs
        import graft.functions.TextFunctions.langMarkerWords
        val lowered = lower(col("text"))
        val hits = langMarkerWords.map { case (code, ws) =>
          coalesce(TextExprs.countWordsIn(lowered, ws).cast("bigint"),
            lit(0L)).as(s"${code}_hits")
        }
        val hitCols = langMarkerWords.map(m => col(s"${m._1}_hits"))
        val tot = hitCols.reduce(_ + _)
        val entTerms = hitCols.map { c =>
          when(c > 0L, (c.cast("double") / col("n_hits").cast("double"))
            * log(c.cast("double") / col("n_hits").cast("double")))
            .otherwise(lit(0.0))
        }
        Tables.documents(s, d)
          .select(col("doc_id") +: hits: _*)
          .withColumn("n_hits", tot)
          .withColumn("purity",
            when(col("n_hits") === 0L, lit(null).cast("double"))
              .otherwise(round(greatest(hitCols: _*).cast("double")
                / col("n_hits").cast("double"), 6)))
          .withColumn("mix_entropy",
            when(col("n_hits") === 0L, lit(null).cast("double"))
              .otherwise(round(-entTerms.reduce(_ + _), 6) + lit(0.0)))
          .withColumn("is_mixed",
            (col("n_hits") >= 5L && coalesce(col("purity") < 0.8,
              lit(false))).cast("int"))
      },
      Some {
        val hits = langMarkers.map { case (code, pat) =>
          s"CAST(COALESCE(len(regexp_extract_all(lower(text), '$pat')), 0) AS BIGINT) AS ${code}_hits"
        }.mkString(", ")
        val cols = langMarkers.map(m => s"${m._1}_hits")
        val tot = cols.mkString(" + ")
        val g = cols.mkString("greatest(", ", ", ")")
        val ent = cols.map { c =>
          s"""(CASE WHEN $c > 0 THEN (CAST($c AS DOUBLE) / CAST(n_hits AS DOUBLE))
               * ln(CAST($c AS DOUBLE) / CAST(n_hits AS DOUBLE)) ELSE 0.0 END)"""
        }.mkString(" + ")
        s"""WITH h AS (SELECT doc_id, $hits FROM documents),
          t AS (SELECT *, $tot AS n_hits FROM h)
          SELECT doc_id, ${cols.mkString(", ")}, n_hits,
            CASE WHEN n_hits = 0 THEN NULL
              ELSE round(CAST($g AS DOUBLE) / CAST(n_hits AS DOUBLE), 6) END
              AS purity,
            CASE WHEN n_hits = 0 THEN NULL
              ELSE round(-($ent), 6) + 0.0 END AS mix_entropy,
            CAST(CASE WHEN n_hits >= 5 AND COALESCE(
              CASE WHEN n_hits = 0 THEN NULL
                ELSE round(CAST($g AS DOUBLE) / CAST(n_hits AS DOUBLE), 6)
              END < 0.8, FALSE) THEN 1 ELSE 0 END AS INT) AS is_mixed
          FROM t"""
      }),

    // ---- quality-gate threshold calibration sweep ----------------------------
    // d14 applies ONE gate threshold; this answers how the threshold was
    // chosen: for every cut t ∈ {0.0 … 0.9}, the kept fraction and the
    // mean quality/token-count of the kept set — the calibration curve a
    // data lead reads before burning a crawl. Computed the scale-right
    // way: NOT nine scans, and not a 9× row fan-out — ONE fold onto
    // Sketches.qualityBin's fixed 10-bin domain carrying (n, Σq, Σtoks),
    // then reverse-cumulative windows on the 10-row grid (kept-at-t =
    // everything in bins ≥ t·10). The d82↔d64 bin rule is shared by
    // construction (one qualityBin definition).
    //
    // Exactness: bin counts/token sums are exact int64; quality sums are
    // 6-dp-rounded decimals; means divide exact sums as double, 6-dp
    // rounded, NULL when a cut keeps nothing.
    GraftQuery(
      "d82_gate_threshold_sweep",
      (s, d) => {
        val wr = Window.partitionBy(lit(1)).orderBy(col("bin").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val w = Window.partitionBy(lit(1))
        Tables.documents(s, d)
          .select(qualityScore(col("text")).as("q"),
            tokenCount(col("text")).cast("bigint").as("n_toks"))
          .filter(col("q").isNotNull)
          .groupBy(graft.operators.Sketches.qualityBin(col("q")).as("bin"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("q"), 6).cast("decimal(18,6)")).as("q_sum"),
            sum(col("n_toks")).as("tok_sum"))
          .withColumn("n_kept", sum(col("n")).over(wr))
          .withColumn("qk", sum(col("q_sum")).over(wr))
          .withColumn("tk", sum(col("tok_sum")).over(wr))
          .withColumn("n_total", sum(col("n")).over(w))
          .select(
            round(col("bin").cast("double") / 10.0, 1).as("threshold"),
            col("n_kept"),
            round(col("n_kept").cast("double")
              / col("n_total").cast("double"), 6).as("kept_frac"),
            round(col("qk").cast("double")
              / col("n_kept").cast("double"), 6).as("mean_quality_kept"),
            round(col("tk").cast("double")
              / col("n_kept").cast("double"), 6).as("mean_tokens_kept"))
      },
      Some(s"""WITH sc AS (SELECT $sqlQualityOfText AS q,
            CAST(len($sqlToks) AS BIGINT) AS n_toks
          FROM documents),
        b AS (SELECT least(9, CAST(floor(q * 10) AS BIGINT)) AS bin,
            CAST(COUNT(*) AS BIGINT) AS n,
            SUM(CAST(round(q, 6) AS DECIMAL(18,6))) AS q_sum,
            CAST(SUM(n_toks) AS BIGINT) AS tok_sum
          FROM sc WHERE q IS NOT NULL GROUP BY 1),
        c AS (SELECT *,
            CAST(SUM(n) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS n_kept,
            CAST(SUM(q_sum) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS DECIMAL(38,6)) AS qk,
            CAST(SUM(tok_sum) OVER (ORDER BY bin DESC ROWS BETWEEN
              UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tk,
            CAST(SUM(n) OVER () AS BIGINT) AS n_total
          FROM b)
        SELECT round(CAST(bin AS DOUBLE) / 10.0, 1) AS threshold, n_kept,
          round(CAST(n_kept AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
            AS kept_frac,
          round(CAST(qk AS DOUBLE) / CAST(n_kept AS DOUBLE), 6)
            AS mean_quality_kept,
          round(CAST(tk AS DOUBLE) / CAST(n_kept AS DOUBLE), 6)
            AS mean_tokens_kept
        FROM c""")),

    // ---- BM25 full-text relevance top-k -----------------------------------
    // The lexical-retrieval primitive d13's TF-IDF table feeds but never
    // RANKS with: Okapi BM25 (k1 = 1.2, b = 0.75) of a fixed query term
    // set, top-20 docs — the scoring half of every hybrid (lexical +
    // vector) retrieval stack; e37 fuses this ranking with the cosine
    // ranking via RRF.
    //
    // Scale shape: the corpus explodes ONCE and filters to the query
    // terms BEFORE any shuffle (the d21 broadcast-gram discipline: the
    // tf fold carries only matching (doc, term) rows, never the corpus
    // vocabulary); df and the corpus stats are 3-row/1-row broadcasts;
    // the global cut is orderBy+limit (TakeOrderedAndProject), never a
    // corpus-wide rank window.
    //
    // Exactness: tf/df/dl are exact int64; idf rounds the ln (the d32
    // libm-absorb move); each contribution is ONE shared double op
    // order (k1+1 written as the literal 2.2 in both engines, never a
    // Scala-computed constant — the d75 Wilson rule), 6-dp rounded and
    // decimal-summed; magnitudes ≤ ~1 so 6-dp rounding never ties.
    GraftQuery(
      "d84_bm25_topk",
      (s, d) => {
        val wr = Window.partitionBy(lit(1))
          .orderBy(col("score").desc, col("doc_id").asc)
        bm25Scored(s, d)
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(20)
          .withColumn("rank", row_number().over(wr))
          .select(col("rank").cast("bigint").as("rank"), col("doc_id"),
            col("score"))
      },
      Some(s"""WITH $sqlBm25Ctes
        SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
            AS BIGINT) AS rank, doc_id, score
        FROM (SELECT * FROM bm ORDER BY score DESC, doc_id ASC LIMIT 20)
          t""")),

    // ---- Flesch-Kincaid readability (vowel-group syllable proxy) ----------
    // The grade-level quality signal d03's surface ratios don't carry:
    // FK = 0.39·(words/sentences) + 11.8·(syllables/word) − 15.59, with
    // syllables ≈ [aeiouy]+ group count (the standard cheap proxy) and
    // sentences = [.!?]+ runs clamped to ≥ 1 (a fragment is one
    // sentence, and the clamp keeps the fixture's punctuation-free
    // synthetic text well-defined). Per doc: the three counts, the
    // grade, and a 5-grade band a gate thresholds on.
    //
    // Scale shape: ONE narrow codegen'd projection — three regexp
    // counts per row, zero exchanges (the d48 gate-battery envelope).
    //
    // Exactness: counts are exact int64; the grade is ONE shared double
    // op order over integer-derived doubles, 6-dp rounded (component
    // magnitudes ≤ ~1e2 with non-terminating ratios — no tie exposure);
    // the band floors the identical rounded double in both engines.
    GraftQuery(
      "d85_readability",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            coalesce(tokenCount(col("text")).cast("bigint"), lit(0L))
              .as("n_words"),
            coalesce(regexp_count(lower(col("text")), lit("[aeiouy]+")),
              lit(0)).cast("bigint").as("n_syllables"),
            greatest(lit(1L),
              coalesce(regexp_count(col("text"), lit("[.!?]+")), lit(0))
                .cast("bigint")).as("n_sentences"))
          .withColumn("fk_grade",
            when(col("n_words") === 0L, lit(null).cast("double"))
              .otherwise(round(lit(0.39)
                * (col("n_words").cast("double")
                  / col("n_sentences").cast("double"))
                + lit(11.8) * (col("n_syllables").cast("double")
                  / col("n_words").cast("double"))
                - lit(15.59), 6)))
          .withColumn("band",
            when(col("fk_grade").isNull, lit(null).cast("long"))
              .otherwise(least(lit(18L), greatest(lit(0L),
                floor(col("fk_grade") / lit(5.0)).cast("long"))))),
      Some(s"""WITH c AS (SELECT doc_id,
            CAST(COALESCE(len($sqlToks), 0) AS BIGINT) AS n_words,
            CAST(COALESCE(len(regexp_extract_all(lower(text),
              '[aeiouy]+')), 0) AS BIGINT) AS n_syllables,
            greatest(CAST(1 AS BIGINT),
              CAST(COALESCE(len(regexp_extract_all(text, '[.!?]+')), 0)
                AS BIGINT)) AS n_sentences
          FROM documents),
        f AS (SELECT *, CASE WHEN n_words = 0 THEN NULL
            ELSE round(0.39 * (CAST(n_words AS DOUBLE)
                / CAST(n_sentences AS DOUBLE))
              + 11.8 * (CAST(n_syllables AS DOUBLE)
                / CAST(n_words AS DOUBLE))
              - 15.59, 6) END AS fk_grade
          FROM c)
        SELECT doc_id, n_words, n_syllables, n_sentences, fk_grade,
          CASE WHEN fk_grade IS NULL THEN NULL
            ELSE least(18, greatest(0,
              CAST(floor(fk_grade / 5.0) AS BIGINT))) END AS band
        FROM f""")),

    // ---- char-bigram entropy (compression-ratio proxy) ---------------------
    // The gzip-ratio quality signal (Dolma/RefinedWeb gate) without a
    // codec: character-bigram Shannon entropy per doc — repetitive/
    // templated text compresses well BECAUSE its bigram distribution is
    // peaked, so low H flags it; d43 measures the same idea at TOKEN
    // grain, which misses sub-token repetition (aaaaaa…, base64 blobs,
    // padded markup). Per doc: bigram count, distinct bigrams, entropy
    // (nats), and exp(H) as the effective alphabet size.
    //
    // Scale shape: one codegen'd expression per row
    // (TextExprs.CharBigramStats holds the doc's bigram counts in a
    // per-row map) — one scan, zero exchanges, no join-back. The former
    // explode → (doc, bigram) shuffle → two-level aggregation spent most
    // of its time in one single-task stage; it is kept test-side as the
    // reference the kernel is compared against (Round19OpsSpec).
    //
    // Exactness: d43's template — per-bigram ln rounds at 6 dp (libm
    // absorb) and weights as exact decimal c·term sums; the final
    // divide/exp run on identical doubles (exp matches empirically,
    // the d67 precedent). The kernel replicates that round/cast pipeline
    // verbatim (BigDecimal), so the DuckDB SQL below checks it directly.
    GraftQuery(
      "d86_char_bigram_entropy",
      charBigramEntropy,
      Some("""WITH cs AS (SELECT doc_id,
            list_filter(string_split(text, ''), x -> x <> '') AS c
          FROM documents),
        b AS (SELECT doc_id, unnest(list_transform(range(1, len(c)),
            i -> c[i] || c[i + 1])) AS bg
          FROM cs WHERE len(c) >= 2),
        pt AS (SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS c
          FROM b GROUP BY 1, 2),
        pn AS (SELECT doc_id, bg, c,
            CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n,
            CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS k
          FROM pt),
        pd AS (SELECT doc_id,
            -CAST(SUM(c * CAST(round(ln(CAST(c AS DOUBLE)
              / CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6))) AS DOUBLE)
              / CAST(MIN(n) AS DOUBLE) AS h,
            CAST(MIN(n) AS BIGINT) AS n_bigrams,
            CAST(MIN(k) AS BIGINT) AS n_distinct
          FROM pn GROUP BY 1)
        SELECT d.doc_id, COALESCE(pd.n_bigrams, 0) AS n_bigrams,
          COALESCE(pd.n_distinct, 0) AS n_distinct,
          round(pd.h, 6) AS entropy,
          round(exp(pd.h), 6) AS eff_alphabet
        FROM documents d LEFT JOIN pd USING (doc_id)""")),

    // ---- longest repeated-token run ----------------------------------------
    // The max-repetition Gopher signal d18's duplicate FRACTION misses:
    // a doc that is 5% "buy buy buy … buy" in one run reads as mild
    // duplication but is a hard generation-loop/spam tell. Per doc: the
    // longest same-token run, the token, and the run's share of the doc
    // — the gate thresholds on run_frac.
    //
    // Scale shape: the token explode rides ONE doc_id exchange serving
    // the lag window, the run-id running sum, and both folds — per-doc
    // partitions, bounded by doc length (the m11 boundary pattern at
    // token grain).
    //
    // Exactness: pure integers + one ≤1-magnitude quotient round; the
    // argmax run breaks length ties to the LARGER token string then the
    // EARLIER position via one lexicographic struct max written
    // identically in both engines.
    GraftQuery(
      "d87_max_token_run",
      (s, d) => {
        val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val wr = wp.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        val runs = Tables.documents(s, d)
          .select(col("doc_id"), posexplode(tokens(col("text"))))
          .withColumnRenamed("col", "tok")
          .withColumn("pos", col("pos").cast("bigint") + 1L)
          .withColumn("prev", lag(col("tok"), 1).over(wp))
          .withColumn("boundary",
            (col("prev").isNull || col("prev") =!= col("tok"))
              .cast("long"))
          .withColumn("run_id", sum(col("boundary")).over(wr))
          .groupBy(col("doc_id"), col("run_id"), col("tok"))
          .agg(count(lit(1)).as("run_len"), min(col("pos")).as("start"))
          .groupBy(col("doc_id"))
          .agg(sum(col("run_len")).as("n_tokens"),
            max(struct(col("run_len"), col("tok"), (-col("start"))
              .as("negs"))).as("best"))
          .select(col("doc_id"), col("n_tokens"),
            col("best.run_len").as("max_run_len"),
            col("best.tok").as("run_token"),
            (-col("best.negs")).as("run_start"),
            round(col("best.run_len").cast("double")
              / col("n_tokens").cast("double"), 6).as("run_frac"))
        Tables.documents(s, d).select(col("doc_id"))
          .join(runs, Seq("doc_id"), "left")
          .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      },
      Some(s"""WITH t AS (SELECT doc_id, unnest($sqlToks) AS tok,
            CAST(unnest(range(1, len($sqlToks) + 1)) AS BIGINT) AS pos
          FROM documents),
        b AS (SELECT *, lag(tok) OVER (PARTITION BY doc_id ORDER BY pos)
            AS prev FROM t),
        ri AS (SELECT doc_id, tok, pos,
            CAST(SUM(CASE WHEN prev IS NULL OR prev <> tok THEN 1
              ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS run_id
          FROM b),
        rl AS (SELECT doc_id, run_id, tok,
            CAST(COUNT(*) AS BIGINT) AS run_len,
            CAST(MIN(pos) AS BIGINT) AS start
          FROM ri GROUP BY 1, 2, 3),
        pd AS (SELECT doc_id, run_len, tok, start,
            CAST(SUM(run_len) OVER (PARTITION BY doc_id) AS BIGINT)
              AS n_tokens,
            row_number() OVER (PARTITION BY doc_id
              ORDER BY run_len DESC, tok DESC, start ASC) AS rn
          FROM rl)
        SELECT d.doc_id, COALESCE(p.n_tokens, 0) AS n_tokens,
          p.run_len AS max_run_len, p.tok AS run_token,
          p.start AS run_start,
          round(CAST(p.run_len AS DOUBLE)
            / CAST(p.n_tokens AS DOUBLE), 6) AS run_frac
        FROM documents d
        LEFT JOIN (SELECT * FROM pd WHERE rn = 1) p USING (doc_id)""")),

    // ---- metadata-consistency audit (declared vs actual lengths) ----------
    // The ingest validation the loaders' schema checks don't cover: the
    // documents table CARRIES n_chars as producer-declared metadata;
    // drift between it and length(text) means the upstream writer and
    // this reader disagree about the bytes (truncation, encoding,
    // column swap). Per source: doc/null counts, mismatches, rate, and
    // the worst absolute deviation.
    //
    // Scale shape: one zero-exchange scan folding onto the source
    // domain (the d64 envelope).
    //
    // Exactness: pure integer lengths and counts; one ≤1 quotient
    // round; NULL text is REPORTED (n_null_text), never a mismatch —
    // a null row has no actual length to disagree with.
    GraftQuery(
      "d88_metadata_consistency",
      (s, d) =>
        Tables.documents(s, d)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("text").isNull, 1L).otherwise(0L))
              .as("n_null_text"),
            sum(when(col("text").isNotNull &&
              col("n_chars") =!= length(col("text")).cast("bigint"), 1L)
              .otherwise(0L)).as("n_mismatch"),
            max(when(col("text").isNotNull,
              abs(col("n_chars") - length(col("text")).cast("bigint"))))
              .as("max_abs_diff"))
          .select(col("source"), col("n_docs"), col("n_null_text"),
            col("n_mismatch"),
            round(col("n_mismatch").cast("double")
              / col("n_docs").cast("double"), 6).as("mismatch_rate"),
            col("max_abs_diff")),
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_null_text,
          CAST(SUM(CASE WHEN text IS NOT NULL
            AND n_chars <> CAST(length(text) AS BIGINT) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_mismatch,
          round(CAST(SUM(CASE WHEN text IS NOT NULL
              AND n_chars <> CAST(length(text) AS BIGINT) THEN 1 ELSE 0
              END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
            AS mismatch_rate,
          CAST(MAX(CASE WHEN text IS NOT NULL
            THEN abs(n_chars - CAST(length(text) AS BIGINT)) END)
            AS BIGINT) AS max_abs_diff
        FROM documents GROUP BY 1""")),

    // ---- verified-pair Jaccard histogram (threshold calibration) -----------
    // The distribution BEHIND every similarity threshold the dedup
    // stack applies (d14's gate, d09's 0.5 cut, d59's band sweep): per
    // 0.05-wide Jaccard bin over d09's verified candidate pairs, pair
    // count/share and the bin's mean similarity — a bimodal histogram
    // (near-1 dups vs background) justifies a hard cut; a flat one says
    // the threshold is arbitrary and the gate needs another signal.
    //
    // Scale shape: d09's capped-bucket pair machinery verbatim (never
    // all-pairs), then a map-side fold onto the fixed 20-bin grid.
    //
    // Exactness: jaccard is an integer-ratio double, identical in both
    // engines (the d09 pin); the bin floors j·20 on identical doubles;
    // bin means are 6-dp-rounded decimal sums.
    GraftQuery(
      "d90_pair_jaccard_histogram",
      (s, d) => {
        val w = Window.partitionBy(lit(1))
        candidatePairs(s, d)
          .groupBy(least(lit(19L), floor(col("jaccard") * 20.0)
            .cast("long")).as("bin"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(round(col("jaccard"), 6).cast("decimal(18,6)"))
              .as("jsum"))
          .withColumn("share", round(col("n_pairs").cast("double")
            / sum(col("n_pairs")).over(w).cast("double"), 6))
          .select(col("bin"), col("n_pairs"), col("share"),
            round(col("jsum").cast("double")
              / col("n_pairs").cast("double"), 6).as("mean_jaccard"))
      },
      Some(s"""$sqlMinhashCte, $sqlMinhashCappedCte,
        p AS (SELECT
            CAST(len(list_intersect(a.shingle_set, b.shingle_set))
              AS DOUBLE) /
            CAST(len(list_distinct(list_concat(a.shingle_set,
              b.shingle_set))) AS DOUBLE) AS j
          FROM mhc a JOIN mhc b
            ON a.minhash = b.minhash AND a.doc_id < b.doc_id),
        g AS (SELECT least(19, CAST(floor(j * 20.0) AS BIGINT)) AS bin,
            CAST(COUNT(*) AS BIGINT) AS n_pairs,
            SUM(CAST(round(j, 6) AS DECIMAL(18,6))) AS jsum
          FROM p GROUP BY 1)
        SELECT bin, n_pairs,
          round(CAST(n_pairs AS DOUBLE) / CAST(CAST(SUM(n_pairs) OVER ()
            AS BIGINT) AS DOUBLE), 6) AS share,
          round(CAST(jsum AS DOUBLE) / CAST(n_pairs AS DOUBLE), 6)
            AS mean_jaccard
        FROM g""")),

    // ---- duplicate-cluster size distribution --------------------------------
    // The power-law readout of corpus duplication (web dedup's classic
    // figure): cluster sizes under d53's band-election representative
    // assignment, folded onto e32's integer-log2 size grid, plus the
    // corpus duplicated-doc share — the single scalar a dedup run
    // reports. Singletons are EXACTLY log2-bin 0 (size 1 is the only
    // size with one binary digit), so the dup share derives from the
    // bounded histogram, never a second corpus pass.
    //
    // Scale shape: d53's election (NearDup.minhashLshRepresentatives),
    // one rep-domain fold to sizes, then the ≤64-bin grid; log2 is the
    // INTEGER-exact length(bin(sz))−1 (the e32 idiom).
    GraftQuery(
      "d91_dup_cluster_sizes",
      (s, d) => {
        val w = Window.partitionBy(lit(1))
        val sizes = NearDup.minhashLshRepresentatives(
            Tables.documents(s, d), NearDup.Bands.Md5Grams)
          .groupBy(col("rep_id"))
          .agg(count(lit(1)).as("sz"))
        sizes
          .groupBy((length(bin(col("sz"))) - 1).cast("bigint")
            .as("size_log2"))
          .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
          .withColumn("tot", sum(col("n_docs")).over(w))
          .withColumn("b0", coalesce(
            max(when(col("size_log2") === 0L, col("n_docs"))).over(w),
            lit(0L)))
          .select(col("size_log2"), col("n_clusters"), col("n_docs"),
            round(col("n_docs").cast("double")
              / col("tot").cast("double"), 6).as("doc_share"),
            round((col("tot") - col("b0")).cast("double")
              / col("tot").cast("double"), 6).as("dup_doc_share"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks
          FROM documents),
        g AS (SELECT doc_id, $sqlGrams AS sh FROM toks),
        $sqlMd5RepCtes,
        a AS (SELECT COALESCE(r.rep, d.doc_id) AS rep_id
          FROM documents d LEFT JOIN r USING (doc_id)),
        s AS (SELECT rep_id, CAST(COUNT(*) AS BIGINT) AS sz
          FROM a GROUP BY 1),
        h AS (SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS size_log2,
            CAST(COUNT(*) AS BIGINT) AS n_clusters,
            CAST(SUM(sz) AS BIGINT) AS n_docs
          FROM s GROUP BY 1),
        t AS (SELECT *, CAST(SUM(n_docs) OVER () AS BIGINT) AS tot,
            COALESCE(MAX(CASE WHEN size_log2 = 0 THEN n_docs END)
              OVER (), 0) AS b0
          FROM h)
        SELECT size_log2, n_clusters, n_docs,
          round(CAST(n_docs AS DOUBLE) / CAST(tot AS DOUBLE), 6)
            AS doc_share,
          round(CAST(tot - b0 AS DOUBLE) / CAST(tot AS DOUBLE), 6)
            AS dup_doc_share
        FROM t""")),

    // ---- char-bigram entropy, rows-only registration ----------------------
    // d86's own function under the name GOLDEN.json pins; no oracle SQL
    // of its own (d86 carries it).
    GraftQuery("d89_bigram_entropy_native", charBigramEntropy, None),

    // ---- BPE corpus ENCODER (the apply side of d80's training) ------------
    // d80 trains the merge table; THIS is the corpus-scale pass every
    // downstream token count rides: encode documents under the trained
    // tokenizer and report per-source fertility (BPE tokens per
    // whitespace word — the compression readout vs d02's proxies) and
    // tokens/char.
    //
    // Scale shape (the shape the round-19 verdict prescribes): the
    // corpus folds ONCE onto the (source, word) domain behind a barrier;
    // the vocabulary view of that fold trains driver-side over a
    // frequency-truncated top-65536 collect (Bpe.collectVocab — the
    // bounded VectorSearch-sample class; training is a one-off on a
    // vocabulary-sized table); every DISTINCT word is then encoded once
    // by the native BpeEncode expression (merge rules are plan literals
    // — no merge join, no per-doc re-derivation) and joined back by
    // word. Nothing after the first fold is corpus-sized except the
    // narrow n_docs scan.
    //
    // Rows-only (trained merges are an iterative driver loop, the d80
    // class): GOLDEN-pinned; encode semantics are oracle-pinned by
    // d94's replace-chain geometry analog and the Round20OpsSpec
    // encode∘train laws.
    GraftQuery(
      "d92_bpe_encode",
      (s, d) => {
        import graft.functions.TextExprs
        import graft.operators.{Bpe, Checkpoints}
        val srcWords = Checkpoints.barrier(
          Tables.documents(s, d)
            .select(col("source"), explode(tokens(col("text"))).as("word"))
            .groupBy(col("source"), col("word"))
            .agg(count(lit(1)).as("n_occ")))
        val vocab = srcWords.groupBy(col("word"))
          .agg(sum(col("n_occ")).as("cnt"))
        val merges = Bpe.trainLocal(
          Bpe.collectVocab(vocab, cap = 65536), k = 32)
        val pairs = merges.map(m => (m.left, m.right))
        val enc = vocab.select(col("word"),
          size(TextExprs.bpeEncode(col("word"), pairs)).cast("bigint")
            .as("n_bpe"))
        val perSrc = srcWords.join(enc, Seq("word"))
          .groupBy(col("source"))
          .agg(sum(col("n_occ")).as("n_words"),
            sum(col("n_occ") * length(col("word")).cast("bigint"))
              .as("n_chars"),
            sum(col("n_occ") * col("n_bpe")).as("n_bpe_tokens"))
        Tables.documents(s, d).groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
          .join(perSrc, Seq("source"), "left")
          .select(col("source"), col("n_docs"),
            coalesce(col("n_words"), lit(0L)).as("n_words"),
            coalesce(col("n_chars"), lit(0L)).as("n_chars"),
            coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
            when(col("n_words") > 0L,
              round(col("n_bpe_tokens").cast("double")
                / col("n_words").cast("double"), 6)).as("fertility"),
            when(col("n_chars") > 0L,
              round(col("n_bpe_tokens").cast("double")
                / col("n_chars").cast("double"), 6)).as("tokens_per_char"))
      },
      None),

    // ---- tokenizer fertility sweep (how many merges to buy) ---------------
    // The round-trip eval an LLM pipeline reads before fixing its
    // tokenizer: encode the corpus at k ∈ {0, 64, 256} merges and report
    // the fertility / tokens-per-char / live-symbol curves — k=0 is
    // character-level, the top end shows saturation (on a bounded-vocab
    // corpus every word eventually fuses to one symbol and fertility
    // → 1.0). Read against d24 (vocab coverage) and d78 (growth).
    //
    // Scale shape: train ONCE at the top k (driver-side over the bounded
    // collect, d92's contract); the barriered vocabulary table is then
    // encoded three times (three plan-literal merge prefixes — a
    // vocabulary-sized union, never a corpus re-scan), one fold for the
    // totals and one symbol-domain distinct for the live-symbol counts.
    //
    // Rows-only (same d80/d92 class): GOLDEN-pinned; the monotone
    // non-increasing token count and the k=0 = chars identity are
    // Round20OpsSpec laws.
    GraftQuery(
      "d93_bpe_fertility_sweep",
      (s, d) => {
        import graft.functions.TextExprs
        import graft.operators.{Bpe, Checkpoints}
        val vocab = Checkpoints.barrier(
          Tables.documents(s, d)
            .select(explode(tokens(col("text"))).as("word"))
            .groupBy(col("word")).agg(count(lit(1)).as("cnt")))
        val merges = Bpe.trainLocal(
          Bpe.collectVocab(vocab, cap = 65536), k = 256)
        val perK = Seq(0, 64, 256).map { k =>
          val pairs = merges.take(k).map(m => (m.left, m.right))
          vocab.select(lit(k.toLong).as("k"),
            lit(math.min(k, merges.size).toLong).as("n_merges"),
            col("cnt"),
            length(col("word")).cast("bigint").as("wlen"),
            TextExprs.bpeEncode(col("word"), pairs).as("syms"))
        }.reduce(_ union _)
        val totals = perK.groupBy(col("k"), col("n_merges"))
          .agg(sum(col("cnt")).as("n_words"),
            sum(col("cnt") * col("wlen")).as("n_chars"),
            sum(col("cnt") * size(col("syms")).cast("bigint"))
              .as("n_tokens"))
        val live = perK.select(col("k"), explode(col("syms")).as("sym"))
          .groupBy(col("k"))
          .agg(count_distinct(col("sym")).as("n_symbols"))
        totals.join(live, Seq("k"), "left")
          .select(col("k"), col("n_merges"),
            coalesce(col("n_symbols"), lit(0L)).as("n_symbols"),
            col("n_words"), col("n_chars"), col("n_tokens"),
            when(col("n_words") > 0L,
              round(col("n_tokens").cast("double")
                / col("n_words").cast("double"), 6)).as("fertility"),
            when(col("n_chars") > 0L,
              round(col("n_tokens").cast("double")
                / col("n_chars").cast("double"), 6)).as("tokens_per_char"))
      },
      None),

    // ---- BPE encode geometry, oracle-checkable variant of d92 -------------
    // The e14/e20 degenerate-training move applied to the tokenizer:
    // merge selection is made SQL-expressible (the top-4 adjacent char
    // pairs of d68's ONE-SHOT weighted ranking — step-0 beam, not the
    // greedy re-count), and ENCODING under char-pair merges is exactly a
    // placeholder replace chain — `replace(word, pair, <PUA char>)` is
    // greedy left-to-right non-overlapping in BOTH engines, and each
    // merged symbol becomes one private-use char so later pair matches
    // can never span a merged-symbol boundary. Token count = code-point
    // length of the rewritten string. Output: the cumulative-k curve
    // (k = 0..4) with the applied pair, pinning BPE-apply semantics AND
    // the monotone non-increasing token count under the hash gate
    // (production stays on d92's native BpeEncode path; Round20OpsSpec
    // pins native ≡ replace-chain on these very pairs).
    //
    // Scale shape: corpus folds once onto the word vocab behind a
    // barrier; pair ranking is d68's bounded-domain plan; the 1-row
    // merge frame broadcasts onto the vocab scan; one constant-width
    // fold + a literal 5-struct unpivot (the d58 envelope).
    //
    // Exactness: integer counts; the PUA placeholders (U+E000..) cannot
    // occur in the corpus (documents are verified ASCII; a collision
    // would only shift both engines identically anyway since the
    // replace chains are the same); absent merges (tiny corpora)
    // coalesce to a never-matching PUA pattern and a NULL output pair.
    GraftQuery(
      "d94_bpe_encode_geometry",
      (s, d) => {
        import graft.operators.Checkpoints
        val vocab = Checkpoints.barrier(
          Tables.documents(s, d)
            .select(explode(tokens(col("text"))).as("word"))
            .groupBy(col("word")).agg(count(lit(1)).as("cnt")))
        val ranked = vocab
          .filter(length(col("word")) >= 2)
          .select(col("cnt"), explode(expr(
            "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
            .as("pair"))
          .groupBy(col("pair"))
          .agg(sum(col("cnt")).as("pair_count"))
          .orderBy(col("pair_count").desc, col("pair").asc)
          .limit(4)
          .withColumn("rk", row_number().over(
            Window.orderBy(col("pair_count").desc, col("pair").asc)))
        val m = ranked.agg(
          max(when(col("rk") === 1, col("pair"))).as("m1"),
          max(when(col("rk") === 2, col("pair"))).as("m2"),
          max(when(col("rk") === 3, col("pair"))).as("m3"),
          max(when(col("rk") === 4, col("pair"))).as("m4"))
        // NOTE: the string literals below CONTAIN private-use chars that
        // most editors render invisibly — each replacement is U+E000+i
        // (DuckDB chr(57344+i)), each absent-merge fallback pattern is
        // U+E0FF U+E0FF (chr(57599)) which can never match.
        val enc = vocab.crossJoin(broadcast(m))
          .withColumn("s1", expr(
            "replace(word, coalesce(m1, ''), '')"))
          .withColumn("s2", expr(
            "replace(s1, coalesce(m2, ''), '')"))
          .withColumn("s3", expr(
            "replace(s2, coalesce(m3, ''), '')"))
          .withColumn("s4", expr(
            "replace(s3, coalesce(m4, ''), '')"))
        val tot = enc.agg(
          coalesce(sum(col("cnt") * length(col("word")).cast("bigint")),
            lit(0L)).as("t0"),
          coalesce(sum(col("cnt") * length(col("s1")).cast("bigint")),
            lit(0L)).as("t1"),
          coalesce(sum(col("cnt") * length(col("s2")).cast("bigint")),
            lit(0L)).as("t2"),
          coalesce(sum(col("cnt") * length(col("s3")).cast("bigint")),
            lit(0L)).as("t3"),
          coalesce(sum(col("cnt") * length(col("s4")).cast("bigint")),
            lit(0L)).as("t4"),
          max(col("m1")).as("m1"), max(col("m2")).as("m2"),
          max(col("m3")).as("m3"), max(col("m4")).as("m4"))
        tot.select(explode(array(
            struct(lit(0L).as("k"),
              lit(null).cast("string").as("merge_pair"),
              col("t0").as("n_tokens")),
            struct(lit(1L).as("k"), col("m1").as("merge_pair"),
              col("t1").as("n_tokens")),
            struct(lit(2L).as("k"), col("m2").as("merge_pair"),
              col("t2").as("n_tokens")),
            struct(lit(3L).as("k"), col("m3").as("merge_pair"),
              col("t3").as("n_tokens")),
            struct(lit(4L).as("k"), col("m4").as("merge_pair"),
              col("t4").as("n_tokens")))).as("r"),
            col("t0").as("n_chars"))
          .select(col("r.k").as("k"), col("r.merge_pair").as("merge_pair"),
            col("r.n_tokens").as("n_tokens"), col("n_chars"),
            when(col("n_chars") > 0L,
              round(col("r.n_tokens").cast("double")
                / col("n_chars").cast("double"), 6)).as("tokens_per_char"))
      },
      Some(s"""WITH t AS (SELECT $sqlToks AS toks FROM documents),
        tok AS (SELECT unnest(toks) AS word FROM t),
        v AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM tok GROUP BY 1),
        pr AS (SELECT unnest(list_transform(range(1, len(word)),
              i -> substring(word, CAST(i AS INT), 2))) AS pair, cnt
          FROM v WHERE len(word) >= 2),
        pc AS (SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count
          FROM pr GROUP BY 1),
        r AS (SELECT pair,
            row_number() OVER (ORDER BY pair_count DESC, pair ASC) AS rk
          FROM pc QUALIFY rk <= 4),
        m AS (SELECT
            MAX(CASE WHEN rk = 1 THEN pair END) AS m1,
            MAX(CASE WHEN rk = 2 THEN pair END) AS m2,
            MAX(CASE WHEN rk = 3 THEN pair END) AS m3,
            MAX(CASE WHEN rk = 4 THEN pair END) AS m4
          FROM r),
        e AS (SELECT v.cnt, len(v.word) AS l0,
            len(replace(v.word, COALESCE(m.m1, chr(57599) || chr(57599)),
              chr(57344))) AS l1x, m.m1, m.m2, m.m3, m.m4,
            v.word
          FROM v CROSS JOIN m),
        e2 AS (SELECT cnt, l0, l1x AS l1,
            len(replace(replace(word,
              COALESCE(m1, chr(57599) || chr(57599)), chr(57344)),
              COALESCE(m2, chr(57599) || chr(57599)), chr(57345))) AS l2,
            len(replace(replace(replace(word,
              COALESCE(m1, chr(57599) || chr(57599)), chr(57344)),
              COALESCE(m2, chr(57599) || chr(57599)), chr(57345)),
              COALESCE(m3, chr(57599) || chr(57599)), chr(57346))) AS l3,
            len(replace(replace(replace(replace(word,
              COALESCE(m1, chr(57599) || chr(57599)), chr(57344)),
              COALESCE(m2, chr(57599) || chr(57599)), chr(57345)),
              COALESCE(m3, chr(57599) || chr(57599)), chr(57346)),
              COALESCE(m4, chr(57599) || chr(57599)), chr(57347))) AS l4,
            m1, m2, m3, m4
          FROM e),
        a AS (SELECT
            COALESCE(CAST(SUM(cnt * l0) AS BIGINT), 0) AS t0,
            COALESCE(CAST(SUM(cnt * l1) AS BIGINT), 0) AS t1,
            COALESCE(CAST(SUM(cnt * l2) AS BIGINT), 0) AS t2,
            COALESCE(CAST(SUM(cnt * l3) AS BIGINT), 0) AS t3,
            COALESCE(CAST(SUM(cnt * l4) AS BIGINT), 0) AS t4,
            MAX(m1) AS m1, MAX(m2) AS m2, MAX(m3) AS m3, MAX(m4) AS m4
          FROM e2),
        u AS (
          SELECT 0 AS k, CAST(NULL AS VARCHAR) AS merge_pair,
            t0 AS n_tokens, t0 AS n_chars FROM a
          UNION ALL SELECT 1, m1, t1, t0 FROM a
          UNION ALL SELECT 2, m2, t2, t0 FROM a
          UNION ALL SELECT 3, m3, t3, t0 FROM a
          UNION ALL SELECT 4, m4, t4, t0 FROM a)
        SELECT CAST(k AS BIGINT) AS k, merge_pair, n_tokens, n_chars,
          CASE WHEN n_chars > 0 THEN
            round(CAST(n_tokens AS DOUBLE) / CAST(n_chars AS DOUBLE), 6)
          END AS tokens_per_char
        FROM u""")),

    // ---- hashing-trick linear classifier inference -------------------------
    // The fastText-style quality-classifier gate (CCNet / LLaMA-pipeline
    // shape): per doc, a linear model over hashed token features —
    // logit = Σ_tokens w[h(tok)] / n_tokens — scored in ONE pass. The
    // model here is a deterministic md5-derived stand-in (the m01
    // decode-seam argument: no trained weights exist in the sandbox, so
    // BOTH engines compute the same synthetic model; a real model swaps
    // in trained weights without touching the plan). Weight of token t:
    // the first 16 md5 bits of t, centered — w = h16(t) − 32768 in
    // integer 1/32768ths, i.e. D = 2^16 hash buckets with a dyadic
    // weight table DERIVED per row instead of joined (a real 2^16-float
    // table would broadcast; either way the corpus never shuffles for
    // the model).
    //
    // Scale shape: token explode → integer conditional sums onto the
    // doc domain (ONE map-side-combinable exchange) → left join-back so
    // tokenless docs keep a row. The inference pass of a 100 TB quality
    // gate: no weight join, no window, nothing after the fold is bigger
    // than the doc table.
    //
    // Exactness: the scaled logit is an exact int64 (|Σ| ≤ n·32768);
    // the reported logit divides two exact int64s as double in one op
    // order then rounds (a quotient — never on a half-boundary); the
    // keep flag is INTEGER sign arithmetic, so the gate decision is
    // exact in both engines.
    GraftQuery(
      "d95_hash_classifier_score",
      (s, d) => {
        val scored = Tables.documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
          .withColumn("w", expr(
            "cast(conv(substr(md5(tok), 1, 4), 16, 10) as bigint) - 32768"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("w")).as("logit_scaled"))
        Tables.documents(s, d).select(col("doc_id"))
          .join(scored, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
            coalesce(col("logit_scaled"), lit(0L)).as("logit_scaled"),
            when(col("n_tokens") > 0L,
              round(col("logit_scaled").cast("double")
                / (col("n_tokens") * 32768L).cast("double"), 6))
              .as("logit"),
            when(col("n_tokens") > 0L,
              (col("logit_scaled") > 0L).cast("int")).as("keep_flag"))
      },
      Some(s"""WITH t AS (SELECT doc_id, unnest($sqlToks) AS tok
          FROM documents),
        sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
            CAST(SUM(CAST('0x' || substr(md5(tok), 1, 4) AS BIGINT)
              - 32768) AS BIGINT) AS logit_scaled
          FROM t GROUP BY 1)
        SELECT d.doc_id,
          COALESCE(sc.n_tokens, 0) AS n_tokens,
          COALESCE(sc.logit_scaled, 0) AS logit_scaled,
          CASE WHEN sc.n_tokens > 0 THEN
            round(CAST(sc.logit_scaled AS DOUBLE)
              / CAST(sc.n_tokens * 32768 AS DOUBLE), 6) END AS logit,
          CASE WHEN sc.n_tokens > 0 THEN
            CAST(CASE WHEN sc.logit_scaled > 0 THEN 1 ELSE 0 END AS INT)
          END AS keep_flag
        FROM documents d LEFT JOIN sc USING (doc_id)""")),

    // ---- retrieval chunking (RAG index construction) -----------------------
    // The chunker a retrieval pipeline runs over the cleaned corpus:
    // fixed W=32-token windows at stride S=24 (8-token overlap so no
    // query phrase straddles a boundary unseen), materialized as chunk
    // text + fingerprint — the unit a vector index embeds. d22/d37 chunk
    // non-overlapping for DEDUP; the stride/overlap form is the
    // retrieval-specific shape, and the boundary convention (last chunk
    // starts at the final stride position < n, may be short; one chunk
    // for n ≤ W including n < W) is written identically in both engines.
    //
    // Scale shape: one narrow scan; chunks expand via a bounded
    // transform-over-range explode at the doc grain (output-linear:
    // ~n_tokens/S chunks per doc, text sliced from the SAME token array
    // — never a self-join, never a per-chunk re-tokenize). The chunk
    // fingerprint is the dedup/join key downstream (e.g. e-family
    // embedding tables) — emitted here so the index build never needs
    // the text twice.
    GraftQuery(
      "d96_retrieval_chunks",
      (s, d) => {
        val W = 32
        val S = 24
        Tables.documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .filter(size(col("toks")) > 0)
          .select(col("doc_id"), size(col("toks")).cast("bigint")
            .as("n_tokens"), posexplode(expr(
            s"""transform(
                 sequence(0, cast(greatest(ceil((size(toks) - $W)
                   / cast($S as double)), 0) as int)),
                 i -> array_join(slice(toks, i * $S + 1,
                   least($W, size(toks) - i * $S)), ' '))""")))
          .select(col("doc_id"), col("n_tokens"),
            col("pos").cast("bigint").as("chunk_idx"),
            (col("pos") * S).cast("bigint").as("start_tok"),
            least(lit(W.toLong), col("n_tokens") - col("pos") * S)
              .cast("bigint").as("chunk_tokens"),
            md5(col("col")).as("chunk_fp"),
            col("col").as("chunk_text"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        nz AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens
          FROM t WHERE len(toks) > 0),
        c AS (SELECT doc_id, n_tokens,
            unnest(list_transform(
              range(0, CAST(greatest(ceil((n_tokens - 32) / 24.0), 0)
                AS BIGINT) + 1),
              i -> struct_pack(idx := i, txt := array_to_string(
                toks[CAST(i * 24 + 1 AS INT) :
                  CAST(i * 24 + least(32, n_tokens - i * 24) AS INT)],
                ' ')))) AS ch
          FROM nz)
        SELECT doc_id, n_tokens,
          CAST(ch.idx AS BIGINT) AS chunk_idx,
          CAST(ch.idx * 24 AS BIGINT) AS start_tok,
          CAST(least(32, n_tokens - ch.idx * 24) AS BIGINT)
            AS chunk_tokens,
          md5(ch.txt) AS chunk_fp,
          ch.txt AS chunk_text
        FROM c""")),

    // ---- content-defined chunk dedup (shift-robust boundaries) ------------
    // d22's fixed 10-token windows miss every duplicate once an edit
    // SHIFTS the text (one inserted token misaligns all later windows —
    // the classic fixed-block weakness). Content-defined chunking cuts
    // where the CONTENT says to (a token is a boundary when its first
    // 16 md5 bits ≡ 0 mod 8 — expected chunk ~8 tokens, the
    // rsync/LBFS/CDC trick at token grain): chunks after an edit
    // re-synchronize at the next boundary, so prefix-shifted re-crawls
    // still share almost every chunk (spec-pinned against d22's zero on
    // the same corpus). Per doc: chunk count, duplicated-chunk count
    // (chunks seen in ≥2 docs), dup fraction, mean chunk length — the
    // d22 readout under shift-robust boundaries.
    //
    // Scale shape: boundaries and chunks derive inside ONE projection
    // (array filter + slice over the token array — no window, no
    // per-doc shuffle for the chunking itself); then d22's exact
    // envelope: per-(doc, chunk-hash) occurrence counts, a count-only
    // window on the 32-byte-key domain (never collect_set on a hot
    // boilerplate chunk), per-doc fold, left join-back.
    //
    // Exactness: boundary rule is integer md5 arithmetic, identical in
    // both engines; counts exact int64; dup_frac and mean length are
    // single quotients.
    GraftQuery(
      "d97_cdc_chunk_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .withColumn("bpos", when(size(col("toks")) > 0, expr(
            """filter(sequence(1, size(toks)),
                 i -> i = size(toks) or
                   cast(conv(substr(md5(toks[i-1]), 1, 4), 16, 10)
                     as bigint) % 8 = 0)"""))
            .otherwise(expr("cast(array() as array<bigint>)")))
          // guard BOTH derivations: Spark's sequence(1, 0) yields the
          // DESCENDING [1, 0] (never empty), so an unguarded transform
          // over an empty bpos would index bpos[0] on a 0-element array
          // — an ANSI task failure on null/empty text rows
          .withColumn("chunks", when(size(col("bpos")) > 0, expr(
            """transform(sequence(1, size(bpos)),
                 j -> array_join(slice(toks,
                   cast((case when j = 1 then 0 else bpos[j-2] end) + 1
                     as int),
                   cast(bpos[j-1] -
                     (case when j = 1 then 0 else bpos[j-2] end) as int)),
                 ' '))"""))
            .otherwise(expr("cast(array() as array<string>)")))
        val occ = docs
          .select(col("doc_id"), explode(col("chunks")).as("c"))
          .select(col("doc_id"), md5(col("c")).as("ch"))
          .groupBy(col("doc_id"), col("ch"))
          .agg(count(lit(1)).as("occ"))
        val per = occ
          .withColumn("nd",
            count(lit(1)).over(Window.partitionBy(col("ch"))))
          .groupBy(col("doc_id"))
          .agg(sum(col("occ")).as("n_chunks"),
            sum(when(col("nd") >= 2, col("occ")).otherwise(0L))
              .as("n_dup_chunks"))
        docs.select(col("doc_id"),
            size(col("toks")).cast("bigint").as("n_tokens"))
          .join(per, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
            coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
            when(coalesce(col("n_chunks"), lit(0L)) === 0L, lit(0.0))
              .otherwise(col("n_dup_chunks").cast("double")
                / col("n_chunks").cast("double")).as("dup_frac"),
            when(coalesce(col("n_chunks"), lit(0L)) === 0L,
              lit(null).cast("double"))
              .otherwise(round(col("n_tokens").cast("double")
                / col("n_chunks").cast("double"), 6))
              .as("mean_chunk_tokens"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        b AS (SELECT doc_id, toks,
            list_filter(range(1, len(toks) + 1),
              i -> i = len(toks) OR
                CAST('0x' || substr(md5(toks[i]), 1, 4) AS BIGINT) % 8 = 0)
              AS bpos
          FROM t),
        ck AS (SELECT doc_id, toks,
            list_transform(range(1, len(bpos) + 1),
              j -> array_to_string(toks[
                CAST((CASE WHEN j = 1 THEN 0 ELSE bpos[CAST(j - 1 AS INT)]
                  END) + 1 AS INT) :
                CAST(bpos[CAST(j AS INT)] AS INT)], ' ')) AS chunks
          FROM b),
        e AS (SELECT doc_id, md5(unnest(chunks)) AS ch FROM ck),
        oc AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS occ
          FROM e GROUP BY 1, 2),
        w AS (SELECT *, CAST(COUNT(*) OVER (PARTITION BY ch) AS BIGINT)
            AS nd FROM oc),
        per AS (SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS n_chunks,
            CAST(SUM(CASE WHEN nd >= 2 THEN occ ELSE 0 END) AS BIGINT)
              AS n_dup_chunks
          FROM w GROUP BY 1)
        SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
          COALESCE(per.n_chunks, 0) AS n_chunks,
          COALESCE(per.n_dup_chunks, 0) AS n_dup_chunks,
          CASE WHEN COALESCE(per.n_chunks, 0) = 0 THEN 0.0
            ELSE CAST(per.n_dup_chunks AS DOUBLE)
              / CAST(per.n_chunks AS DOUBLE) END AS dup_frac,
          CASE WHEN COALESCE(per.n_chunks, 0) = 0 THEN NULL
            ELSE round(CAST(len(t.toks) AS DOUBLE)
              / CAST(per.n_chunks AS DOUBLE), 6) END AS mean_chunk_tokens
        FROM t LEFT JOIN per USING (doc_id)""")),

    // ---- cross-source NEAR-dup provenance matrix ---------------------------
    // d63 maps which source pairs carry the same EXACT documents
    // (mirrors/re-crawls); real syndication rewrites a headline or
    // swaps a byline, so the exact-fingerprint matrix under-reports it.
    // This is the same audit at NEAR-dup grain: d09's verified
    // jaccard-≥-0.5 pairs labeled by their docs' sources, folded to the
    // unordered source-pair matrix with pair counts, the share of all
    // verified pairs, mean similarity, and a cross-source flag — the
    // mixture-design readout that says "srcX is srcY lightly rewritten,
    // don't double-weight them".
    //
    // Scale shape: rides d09's BOUNDED capped-bucket pair table (never
    // a corpus self-join); the two source join-backs attach a
    // corpus-sized (doc_id, source) projection to the tiny pair side
    // (AQE broadcasts the pair side); the matrix fold is
    // ≤ C(|sources|+1, 2) rows.
    //
    // Exactness: the jaccard is d09's oracle-pinned form; pair counts
    // exact int64; mean sums 6-dp-rounded decimals (order-free); the
    // unordered pair key is least/greatest on source strings.
    GraftQuery(
      "d98_cross_source_neardup",
      (s, d) => {
        val w = Window.partitionBy(lit(1))
        val verified = candidatePairs(s, d).filter(col("jaccard") >= 0.5)
        val src = Tables.documents(s, d)
          .select(col("doc_id"), col("source"))
        verified
          .join(src.select(col("doc_id").as("a_id"),
            col("source").as("sa")), Seq("a_id"))
          .join(src.select(col("doc_id").as("b_id"),
            col("source").as("sb")), Seq("b_id"))
          .groupBy(least(col("sa"), col("sb")).as("src_a"),
            greatest(col("sa"), col("sb")).as("src_b"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(round(col("jaccard"), 6).cast("decimal(18,6)"))
              .as("jsum"))
          .withColumn("share", round(col("n_pairs").cast("double")
            / sum(col("n_pairs")).over(w).cast("double"), 6))
          .select(col("src_a"), col("src_b"), col("n_pairs"), col("share"),
            round(col("jsum").cast("double")
              / col("n_pairs").cast("double"), 6).as("mean_jaccard"),
            (col("src_a") =!= col("src_b")).cast("int").as("cross_source"))
      },
      Some(s"""$sqlMinhashCte, $sqlMinhashCappedCte,
        p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            CAST(len(list_intersect(a.shingle_set, b.shingle_set))
              AS DOUBLE) /
            CAST(len(list_distinct(list_concat(a.shingle_set,
              b.shingle_set))) AS DOUBLE) AS j
          FROM mhc a JOIN mhc b
            ON a.minhash = b.minhash AND a.doc_id < b.doc_id),
        v AS (SELECT * FROM p WHERE j >= 0.5),
        l AS (SELECT least(da.source, db.source) AS src_a,
            greatest(da.source, db.source) AS src_b, v.j
          FROM v JOIN documents da ON v.a_id = da.doc_id
            JOIN documents db ON v.b_id = db.doc_id),
        g AS (SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
            SUM(CAST(round(j, 6) AS DECIMAL(18,6))) AS jsum
          FROM l GROUP BY 1, 2)
        SELECT src_a, src_b, n_pairs,
          round(CAST(n_pairs AS DOUBLE) / CAST(CAST(SUM(n_pairs) OVER ()
            AS BIGINT) AS DOUBLE), 6) AS share,
          round(CAST(jsum AS DOUBLE) / CAST(n_pairs AS DOUBLE), 6)
            AS mean_jaccard,
          CAST(CASE WHEN src_a = src_b THEN 0 ELSE 1 END AS INT)
            AS cross_source
        FROM g""")),

    // ---- gate-ensemble agreement audit (d14 vs d48, Cohen's kappa) --------
    // The engine ships TWO admission gates — d14's composite quality
    // gate (token floor + quality score + stopword density + lang) and
    // d48's Gopher rule battery — and a pipeline deploying both needs
    // the inter-rater readout BEFORE it gates: per source, the 2×2
    // verdict matrix (both admit / both reject / each alone), raw
    // agreement, and Cohen's κ (chance-corrected — raw agreement is
    // inflated wherever both gates admit almost everything). κ ≈ 1 ⇒
    // one gate is redundant; κ ≈ 0 ⇒ they cut different populations
    // (keep both); low-κ SOURCES are where the gate choice changes the
    // corpus. d71 compares the continuous SCORES; this compares the
    // deployed DECISIONS.
    //
    // Scale shape: both verdicts are narrow scan-fused expressions (the
    // d48/d14 signal sets composed in ONE pass — zero joins on the
    // Spark side); the fold is a conditional-count collapse onto the
    // source domain (the d64 envelope).
    //
    // Exactness: cell counts exact int64; po/pa/pg are exact-int
    // divisions; pe and κ are the SAME double expression tree in both
    // engines; κ can be a tiny negative (the signed-zero round hazard)
    // so it folds with + 0.0 on both sides; pe = 1 (a constant-verdict
    // source) guards to NULL.
    GraftQuery(
      "d99_gate_agreement",
      (s, d) => {
        import graft.functions.TextFunctions
        val base = TextFunctions
          .withQualitySignals(Tables.documents(s, d))
          .withColumn("a", coalesce(TextFunctions.qualityAdmit, lit(false)))
          .select(col("doc_id"), col("source"), col("text"), col("a"))
        val cells = gopherMetrics(base.withColumn("toks", tokens(col("text"))))
          .withColumn("g", coalesce(gopherAdmit, lit(false)))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("a") && col("g"), 1L).otherwise(0L))
              .as("both_admit"),
            sum(when(!col("a") && !col("g"), 1L).otherwise(0L))
              .as("both_reject"),
            sum(when(col("a") && !col("g"), 1L).otherwise(0L))
              .as("quality_only"),
            sum(when(!col("a") && col("g"), 1L).otherwise(0L))
              .as("gopher_only"))
        cells
          .withColumn("po", (col("both_admit") + col("both_reject"))
            .cast("double") / col("n_docs").cast("double"))
          .withColumn("pa", (col("both_admit") + col("quality_only"))
            .cast("double") / col("n_docs").cast("double"))
          .withColumn("pg", (col("both_admit") + col("gopher_only"))
            .cast("double") / col("n_docs").cast("double"))
          .withColumn("pe", col("pa") * col("pg")
            + (lit(1.0) - col("pa")) * (lit(1.0) - col("pg")))
          .select(col("source"), col("n_docs"), col("both_admit"),
            col("both_reject"), col("quality_only"), col("gopher_only"),
            round(col("po"), 6).as("agreement"),
            when(col("pe") === 1.0, lit(null).cast("double"))
              .otherwise(round((col("po") - col("pe"))
                / (lit(1.0) - col("pe")), 6) + lit(0.0)).as("kappa"))
      },
      Some(s"""$sqlGatedCte,
        $sqlGopherCtes,
        qv AS (SELECT doc_id,
            COALESCE(n_tokens >= 30 AND quality_score >= 0.5
              AND stopword_ratio >= 0.05 AND lang_pred = 'en', FALSE) AS a
          FROM scored),
        gv AS (SELECT doc_id, source,
            COALESCE($sqlGopherAdmit, FALSE) AS gg
          FROM m),
        j AS (SELECT gv.source, qv.a, gv.gg
          FROM gv JOIN qv USING (doc_id)),
        ag AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(CASE WHEN a AND gg THEN 1 ELSE 0 END) AS BIGINT)
              AS both_admit,
            CAST(SUM(CASE WHEN NOT a AND NOT gg THEN 1 ELSE 0 END)
              AS BIGINT) AS both_reject,
            CAST(SUM(CASE WHEN a AND NOT gg THEN 1 ELSE 0 END) AS BIGINT)
              AS quality_only,
            CAST(SUM(CASE WHEN NOT a AND gg THEN 1 ELSE 0 END) AS BIGINT)
              AS gopher_only
          FROM j GROUP BY 1),
        k AS (SELECT *,
            CAST(both_admit + both_reject AS DOUBLE)
              / CAST(n_docs AS DOUBLE) AS po,
            CAST(both_admit + quality_only AS DOUBLE)
              / CAST(n_docs AS DOUBLE) AS pa,
            CAST(both_admit + gopher_only AS DOUBLE)
              / CAST(n_docs AS DOUBLE) AS pg
          FROM ag),
        k2 AS (SELECT *, pa * pg + (1.0 - pa) * (1.0 - pg) AS pe FROM k)
        SELECT source, n_docs, both_admit, both_reject, quality_only,
          gopher_only, round(po, 6) AS agreement,
          CASE WHEN pe = 1.0 THEN NULL
            ELSE round((po - pe) / (1.0 - pe), 6) + 0.0 END AS kappa
        FROM k2""")),

    // ---- b-bit minwise hashing (1-bit signature compression) --------------
    // Li & König's storage-side trade d38's fidelity eval doesn't cover:
    // keep only the LOWEST BIT of each minhash value — a 16-sig
    // signature shrinks from 16 × 128-bit md5 values to 16 BITS (128×) —
    // and recover jaccard from the bit-agreement rate: P(bits match) =
    // j + (1−j)/2 for a random parity, so ĵ = 2a − 1 (clamped at 0).
    // Per verified candidate pair: exact jaccard, the full-sig estimate
    // (d38's), the 1-bit estimate, and both absolute errors — the
    // accuracy-per-byte readout that decides whether a 100 TB signature
    // store ships full values or bits.
    //
    // Scale shape: d38's exact envelope (native k-sig expression, capped
    // buckets, bounded pair table); the bit extraction is one more
    // narrow transform on the signature array.
    //
    // Exactness: the bit is integer md5 arithmetic (last hex char mod
    // 2, identical in both engines); agreement and both estimators are
    // exact-int divisions and dyadic arithmetic (a = m/16, ĵ = 2a − 1 —
    // no rounding anywhere, so no round hazards at all).
    GraftQuery(
      "d100_onebit_minwise",
      (s, d) => {
        val withSigs = minhashed(s, d)
          .withColumn("sigs",
            graft.functions.MinHashExprs.kMinMd5Sigs(col("toks"), 16))
          .withColumn("bits", expr(
            """transform(sigs,
                 g -> cast(conv(substr(g, 32, 1), 16, 10) as bigint) % 2)"""))
        NearDup.singleBandPairs(withSigs, col("minhash"), lshMaxBucket,
            "sigs", "bits")
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
            col("jaccard"),
            (aggregate(zip_with(col("a.sigs"), col("b.sigs"),
                (x, y) => when(x === y, lit(1L)).otherwise(lit(0L))),
              lit(0L), _ + _).cast("double") / lit(16.0)).as("est_full"),
            (aggregate(zip_with(col("a.bits"), col("b.bits"),
                (x, y) => when(x === y, lit(1L)).otherwise(lit(0L))),
              lit(0L), _ + _).cast("double") / lit(16.0)).as("agree_1bit"))
          .withColumn("est_1bit",
            greatest(lit(0.0), lit(2.0) * col("agree_1bit") - lit(1.0)))
          .select(col("a_id"), col("b_id"), col("jaccard"),
            col("est_full"), col("est_1bit"),
            abs(col("est_full") - col("jaccard")).as("abs_err_full"),
            abs(col("est_1bit") - col("jaccard")).as("abs_err_1bit"))
      },
      Some(s"""$sqlMinhashCte, $sqlMinhashCappedCte,
        sg AS (SELECT doc_id, list_transform(range(0, 16), i ->
            list_min(list_transform(shingle_set,
              g -> md5(CAST(i AS VARCHAR) || '|' || g)))) AS sigs
          FROM mh),
        sb AS (SELECT doc_id, sigs, list_transform(sigs,
            g -> CAST('0x' || substr(g, 32, 1) AS BIGINT) % 2) AS bits
          FROM sg),
        p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            CAST(len(list_intersect(a.shingle_set, b.shingle_set))
              AS DOUBLE) /
            CAST(len(list_distinct(list_concat(a.shingle_set,
              b.shingle_set))) AS DOUBLE) AS jaccard,
            CAST(list_sum(list_transform(list_zip(xa.sigs, xb.sigs),
              q -> CASE WHEN q[1] = q[2] THEN 1 ELSE 0 END)) AS DOUBLE)
              / 16.0 AS est_full,
            CAST(list_sum(list_transform(list_zip(xa.bits, xb.bits),
              q -> CASE WHEN q[1] = q[2] THEN 1 ELSE 0 END)) AS DOUBLE)
              / 16.0 AS agree_1bit
          FROM mhc a JOIN mhc b
            ON a.minhash = b.minhash AND a.doc_id < b.doc_id
          JOIN sb xa ON xa.doc_id = a.doc_id
          JOIN sb xb ON xb.doc_id = b.doc_id)
        SELECT a_id, b_id, jaccard, est_full,
          greatest(0.0, 2.0 * agree_1bit - 1.0) AS est_1bit,
          abs(est_full - jaccard) AS abs_err_full,
          abs(greatest(0.0, 2.0 * agree_1bit - 1.0) - jaccard)
            AS abs_err_1bit
        FROM p""")),

    // ---- per-source quality calibration (percentile-equalized gate) ------
    // A single global quality threshold silently reweights the corpus mix:
    // sources whose score DISTRIBUTION sits lower (different boilerplate,
    // different length profile — not necessarily worse content) lose a
    // disproportionate share of documents, so the gate quietly becomes a
    // source filter (the bias d77 audits after the fact). The standard fix
    // (FineWeb/DataComp-style pipelines): gate each source at its OWN score
    // percentile so keep-rates equalize by construction. This query computes
    // both thresholds — global 70th-percentile and per-source 70th —
    // and reports, per source, the kept counts/rates under each, i.e. the
    // before/after table a pipeline owner reads to decide whether to
    // calibrate.
    //
    // Scale shape: ONE corpus pass folds docs onto a (source × score-bin)
    // integer histogram (bins = floor(score·100) ∈ 0..100, a bounded
    // domain — the d30/q29 value-histogram quantile trick). EVERYTHING
    // after that first map-side-combinable exchange runs on the ≤
    // |sources|·101-row frame: cumulative-count windows elect the
    // threshold bins, and the kept counts are conditional sums over the
    // SAME histogram — the corpus is never scanned twice and no doc-grain
    // row ever shuffles again. At 100 TB the histogram is still ≤ a few
    // thousand rows regardless of corpus size.
    //
    // Exactness: both engines compute bit-identical quality-score doubles
    // (the d03-pinned formula), so floor(score·100) lands in the same bin
    // everywhere; thresholds use pure int64 arithmetic
    // (need = ceil(0.7·n) = (7n+9) div 10 on non-negative n) over exact
    // counts; rates are single quotients rounded once.
    GraftQuery(
      "d101_source_quality_calibration",
      (s, d) => {
        val q = lit(7L) // keep the top ~30%: threshold at the 70th pctile
        // The histogram IS the twelfth bounded-state sketch
        // (Sketches.sourceQualityBins — the streaming maintenance holds
        // this exact frame); everything below is threshold election and
        // conditional sums over that bounded table.
        val hist = graft.operators.Sketches.sourceQualityBins(
          Tables.documents(s, d)
            .select(col("source"), qualityScore(col("text")).as("q")),
          "source", "q")
        // Threshold ELECTION as window columns on the one histogram
        // lineage (the q29 joinless-median move): the previous
        // filter + groupBy + join-back branches each re-derived the
        // histogram — i.e. re-ran the corpus qualityScore pass — three
        // times (round-18 branch rule; measured 3 parquet scans). The
        // cumulative windows are unchanged; the elected bin is
        // min(when(cum ≥ need, bin)) over the same partition — identical
        // integers, bounded (≤ |sources|·101-row) frames throughout, and
        // the corpus is scanned ONCE (isolated min-of-3 at sf0.1:
        // 1.08 → 0.77 s).
        val wSrc = Window.partitionBy(col("source"))
        val wCum = Window.partitionBy(col("source")).orderBy(col("bin"))
        // Global cumulative: unpartitioned RANGE window (default frame
        // includes bin-value peers across sources) ≡ the per-bin fold +
        // ordered cum of the old g branch; all windows stay on the
        // bounded bin domain.
        val wAll = Window.orderBy(col("bin"))
        val wTot = Window.partitionBy()
        hist
          .withColumn("src_docs", sum(col("n")).over(wSrc))
          .withColumn("cum", sum(col("n")).over(wCum))
          .withColumn("t_source", min(when(col("cum") >=
              call_function("div", q * col("src_docs") + lit(9L), lit(10L)),
            col("bin"))).over(wSrc))
          .withColumn("tot", sum(col("n")).over(wTot))
          .withColumn("gcum", sum(col("n")).over(wAll))
          .withColumn("t_global", min(when(col("gcum") >=
              call_function("div", q * col("tot") + lit(9L), lit(10L)),
            col("bin"))).over(wTot))
          .groupBy(col("source"), col("t_global"), col("t_source"))
          .agg(sum(col("n")).as("src_docs"),
            coalesce(sum(when(col("bin") >= col("t_global"), col("n"))),
              lit(0L)).as("kept_uncalibrated"),
            coalesce(sum(when(col("bin") >= col("t_source"), col("n"))),
              lit(0L)).as("kept_calibrated"))
          .select(col("source"), col("src_docs"), col("t_global"),
            col("t_source"), col("kept_uncalibrated"),
            col("kept_calibrated"),
            round(col("kept_uncalibrated").cast("double")
              / col("src_docs").cast("double"), 6)
              .as("keep_rate_uncalibrated"),
            round(col("kept_calibrated").cast("double")
              / col("src_docs").cast("double"), 6)
              .as("keep_rate_calibrated"))
      },
      Some(s"""WITH bn AS (SELECT source,
            CAST(floor(($sqlQualityOfText) * 100.0) AS BIGINT) AS bin
          FROM documents),
        h AS (SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n
          FROM bn WHERE bin IS NOT NULL GROUP BY 1, 2),
        hh AS (SELECT source, bin, n,
            CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS src_docs,
            CAST(SUM(n) OVER (PARTITION BY source ORDER BY bin)
              AS BIGINT) AS cum
          FROM h),
        ts AS (SELECT source, MIN(bin) AS t_source FROM hh
          WHERE cum >= (7 * src_docs + 9) // 10 GROUP BY 1),
        g AS (SELECT bin, CAST(SUM(n) AS BIGINT) AS gn FROM h GROUP BY 1),
        gg AS (SELECT bin, gn,
            CAST(SUM(gn) OVER () AS BIGINT) AS tot,
            CAST(SUM(gn) OVER (ORDER BY bin) AS BIGINT) AS cum
          FROM g),
        tg AS (SELECT MIN(bin) AS t_global FROM gg
          WHERE cum >= (7 * tot + 9) // 10)
        SELECT h.source, CAST(SUM(n) AS BIGINT) AS src_docs,
          tg.t_global, ts.t_source,
          CAST(COALESCE(SUM(CASE WHEN bin >= tg.t_global THEN n END), 0)
            AS BIGINT) AS kept_uncalibrated,
          CAST(COALESCE(SUM(CASE WHEN bin >= ts.t_source THEN n END), 0)
            AS BIGINT) AS kept_calibrated,
          round(CAST(COALESCE(SUM(CASE WHEN bin >= tg.t_global THEN n
              END), 0) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6)
            AS keep_rate_uncalibrated,
          round(CAST(COALESCE(SUM(CASE WHEN bin >= ts.t_source THEN n
              END), 0) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6)
            AS keep_rate_calibrated
        FROM h JOIN ts USING (source) CROSS JOIN tg
        GROUP BY 1, 3, 4""")),

    // ---- context-length budget curve (sequence-length tuning table) -------
    // The readout a pipeline owner reads BEFORE fixing the training
    // sequence length: for each candidate context length L, what do the
    // three standard document→sequence strategies cost on THIS corpus?
    //   - truncate (one sequence per doc, overflow dropped, tail padded):
    //     loses trunc_loss_frac of all tokens and pads trunc_pad_frac of
    //     sequence capacity — cheap but lossy on long docs;
    //   - doc-aligned chunking (each doc split into ⌈n/L⌉ sequences, last
    //     one padded — d96's retrieval chunker at stride L): lossless but
    //     pays chunk_pad_frac padding, worst when docs ≪ L;
    //   - concat-and-pack (d28's boundary rule in the L→∞ aggregate
    //     limit: one token stream cut every L): lossless and
    //     minimal-padding (< 1 sequence's worth corpus-WIDE) — the
    //     pretraining default.
    // d28 materializes the pack assignment at ONE budget; this query is
    // the closed-form sweep that picks the budget (and strategy) first.
    //
    // Scale shape: one corpus pass folds per-doc token counts onto the
    // 3-row L domain (explode of a 3-literal array — map-side-combinable
    // integer partials, ONE exchange); every strategy aggregate is
    // arithmetic over (n, L) so the sweep never re-scans text per L and
    // nothing after the fold exceeds 3 rows.
    //
    // Exactness: all token/sequence counts are int64 (⌈n/L⌉ = (n+L−1)
    // div L on non-negative n); fractions are single double quotients
    // rounded once; zero-token groups NULL their fractions rather than
    // ANSI-failing the task (an all-empty source is real at scale).
    GraftQuery(
      "d102_context_budget_curve",
      (s, d) => {
        val ls = array(lit(128L), lit(512L), lit(2048L))
        Tables.documents(s, d)
          .select(size(tokens(col("text"))).cast("bigint").as("n"))
          .filter(col("n").isNotNull)
          .select(col("n"), explode(ls).as("context_len"))
          .groupBy(col("context_len"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n")).as("total_tokens"),
            sum(least(col("n"), col("context_len")))
              .as("trunc_kept_tokens"),
            sum(call_function("div",
              col("n") + col("context_len") - 1, col("context_len")))
              .as("chunk_seqs"))
          .withColumn("pack_seqs", call_function("div",
            col("total_tokens") + col("context_len") - 1,
            col("context_len")))
          .select(col("context_len"), col("n_docs"), col("total_tokens"),
            col("trunc_kept_tokens"),
            when(col("total_tokens") > 0L,
              round((col("total_tokens") - col("trunc_kept_tokens"))
                .cast("double") / col("total_tokens").cast("double"), 6))
              .as("trunc_loss_frac"),
            round((col("n_docs") * col("context_len")
                - col("trunc_kept_tokens")).cast("double")
              / (col("n_docs") * col("context_len")).cast("double"), 6)
              .as("trunc_pad_frac"),
            col("chunk_seqs"),
            when(col("chunk_seqs") > 0L,
              round((col("chunk_seqs") * col("context_len")
                  - col("total_tokens")).cast("double")
                / (col("chunk_seqs") * col("context_len")).cast("double"),
                6)).as("chunk_pad_frac"),
            col("pack_seqs"),
            when(col("pack_seqs") > 0L,
              round((col("pack_seqs") * col("context_len")
                  - col("total_tokens")).cast("double")
                / (col("pack_seqs") * col("context_len")).cast("double"),
                6)).as("pack_pad_frac"))
      },
      Some(s"""WITH t AS (SELECT CAST(len($sqlToks) AS BIGINT) AS n
          FROM documents),
        x AS (SELECT n, L FROM t, (SELECT unnest([128, 512, 2048]) AS L)
          WHERE n IS NOT NULL),
        a AS (SELECT CAST(L AS BIGINT) AS context_len,
            CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(n) AS BIGINT) AS total_tokens,
            CAST(SUM(least(n, L)) AS BIGINT) AS trunc_kept_tokens,
            CAST(SUM((n + L - 1) // L) AS BIGINT) AS chunk_seqs
          FROM x GROUP BY 1),
        b AS (SELECT *, CAST((total_tokens + context_len - 1)
            // context_len AS BIGINT) AS pack_seqs FROM a)
        SELECT context_len, n_docs, total_tokens, trunc_kept_tokens,
          CASE WHEN total_tokens > 0 THEN
            round(CAST(total_tokens - trunc_kept_tokens AS DOUBLE)
              / CAST(total_tokens AS DOUBLE), 6) END AS trunc_loss_frac,
          round(CAST(n_docs * context_len - trunc_kept_tokens AS DOUBLE)
            / CAST(n_docs * context_len AS DOUBLE), 6) AS trunc_pad_frac,
          chunk_seqs,
          CASE WHEN chunk_seqs > 0 THEN
            round(CAST(chunk_seqs * context_len - total_tokens AS DOUBLE)
              / CAST(chunk_seqs * context_len AS DOUBLE), 6)
            END AS chunk_pad_frac,
          pack_seqs,
          CASE WHEN pack_seqs > 0 THEN
            round(CAST(pack_seqs * context_len - total_tokens AS DOUBLE)
              / CAST(pack_seqs * context_len AS DOUBLE), 6)
            END AS pack_pad_frac
        FROM b""")),

    // ---- duplicate frequency capping (dedup with a repetition budget) ----
    // Full dedup (d05's keep-first) is not always the right policy:
    // bounded repetition of genuinely popular documents can be worth
    // keeping (the "cap at K copies" recipe — up-weighting by natural
    // frequency, bounded so boilerplate can't dominate an epoch). Per
    // duplicate group, keep the K hash-elected copies (md5(doc_id) order
    // — an unbiased deterministic draw, doc_id tie-break) and sweep
    // K ∈ {1, 2, 4}; per (K, source): docs/tokens kept and retention
    // rates — K=1 IS full dedup, so the row pair (K=1, K=4) is the
    // "what does allowing repetition buy" readout a mixing policy reads.
    //
    // Scale shape, two branches off one narrow projection: the KEPT
    // branch ranks within fingerprint partitions and filters on the
    // LITERAL rn ≤ 4 (max K) — that literal is what buys the map-side
    // WindowGroupLimit, so a hot boilerplate group crosses the exchange
    // as ≤5 candidate rows per map partition instead of its full
    // population (a column-bound rn ≤ k cut would rank and shuffle
    // every duplicate; d29's election envelope) — then fans out over
    // the 3-literal K list and folds onto the (K × source) grid. The
    // TOTALS branch is a window-free per-source fold (map-side
    // partials). The two bounded tables join at the end; a source whose
    // every doc lost its group's election to another source keeps 0 —
    // real at scale, hence the left join. NULL-text docs share one NULL
    // fingerprint group in both engines (the pinned window convention),
    // so dirty rows cap like any other dup group.
    //
    // Exactness: ranks and counts are int64; kept-token sums skip NULL
    // token counts identically (SUM over a CASE with no ELSE);
    // retentions are single rounded quotients, NULL on zero
    // denominators.
    GraftQuery(
      "d103_dup_cap_retention",
      (s, d) => {
        // CapK is BOTH the largest swept K and the literal rank cut —
        // one constant so a wider sweep can't silently outrun the
        // pre-cut (the oracle has no cut and would expose the mismatch,
        // but only where an oracle runs). It must stay a compile-time
        // literal: the rn ≤ CapK filter below is what buys the
        // map-side WindowGroupLimit.
        val CapK = 4L
        val ks = array(lit(1L), lit(2L), lit(CapK))
        val base = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            fingerprint(col("text")).as("fp"),
            size(tokens(col("text"))).cast("bigint").as("n_tokens"))
        val totals = base.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"))
        val kept = base
          .withColumn("rn", row_number().over(Window
            .partitionBy(col("fp"))
            .orderBy(md5(col("doc_id").cast("string")).asc,
              col("doc_id").asc)))
          .filter(col("rn") <= CapK) // literal → map-side WindowGroupLimit
          .select(col("source"), col("n_tokens"),
            col("rn").cast("bigint").as("rn"), explode(ks).as("k"))
          .filter(col("rn") <= col("k"))
          .groupBy(col("k"), col("source"))
          .agg(count(lit(1)).as("kept_docs"),
            sum(col("n_tokens")).as("kept_tokens"))
        // NULL-SAFE source match (round-20 ADVICE #1): a plain equality
        // join never matches the NULL-source group, reporting
        // kept_docs = 0 for dirty corpora while the oracle (one inline
        // GROUP BY) reports the true elected counts. k is a literal,
        // never null; source needs <=>.
        val keptR = kept.select(col("k").as("k_r"), col("source").as("source_r"),
          col("kept_docs"), col("kept_tokens"))
        totals
          .select(col("source"), col("n_docs"), col("total_tokens"),
            explode(ks).as("k"))
          .join(keptR, col("k") === col("k_r")
            && col("source") <=> col("source_r"), "left")
          .select(col("k"), col("source"), col("n_docs"),
            coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
            col("total_tokens"),
            col("kept_tokens"),
            when(col("n_docs") > 0L,
              round(coalesce(col("kept_docs"), lit(0L)).cast("double")
                / col("n_docs").cast("double"), 6)).as("doc_retention"),
            when(col("total_tokens") > 0L,
              round(coalesce(col("kept_tokens"), lit(0L)).cast("double")
                / col("total_tokens").cast("double"), 6))
              .as("token_retention"))
      },
      Some(s"""WITH f AS (SELECT doc_id, source, $sqlFingerprint AS fp,
            CAST(len($sqlToks) AS BIGINT) AS n_tokens
          FROM documents),
        r AS (SELECT source, n_tokens,
            CAST(row_number() OVER (PARTITION BY fp
              ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
              AS BIGINT) AS rn
          FROM f),
        x AS (SELECT source, n_tokens, rn, k
          FROM r, (SELECT unnest([1, 2, 4]) AS k) t),
        g AS (SELECT CAST(k AS BIGINT) AS k, source,
            CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(COALESCE(SUM(CASE WHEN rn <= k THEN 1 END), 0)
              AS BIGINT) AS kept_docs,
            CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
            CAST(SUM(CASE WHEN rn <= k THEN n_tokens END) AS BIGINT)
              AS kept_tokens
          FROM x GROUP BY 1, 2)
        SELECT k, source, n_docs, kept_docs, total_tokens, kept_tokens,
          CASE WHEN n_docs > 0 THEN
            round(CAST(kept_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
            END AS doc_retention,
          CASE WHEN total_tokens > 0 THEN
            round(CAST(COALESCE(kept_tokens, 0) AS DOUBLE)
              / CAST(total_tokens AS DOUBLE), 6) END AS token_retention
        FROM g""")),

    // ---- decontamination n-gram sweep (the eval-overlap report) ----------
    // d21 DROPS at one gram width; this is the REPORT a pipeline owner
    // reads before choosing that width (the GPT-3-appendix style
    // contamination table): per (n, source), the fraction of training
    // docs sharing at least one n-gram with the held-out suite, for
    // n ∈ {3, 5, 8} — small n overcounts (common phrases), large n
    // undercounts (misses partial copies); the curve's knee picks the
    // policy. The "eval suite" is d21's deterministic md5 split (~1/16
    // of docs), so the two queries audit the same boundary.
    //
    // Scale shape: ONE corpus pass builds all three gram widths as
    // tagged (n, gram) structs in a single projection (not one
    // scan-explode lineage per n): the bench side folds to a distinct
    // (n, gram) set (broadcast — eval suites are small by definition),
    // the train side semi-joins it and collapses to distinct
    // contaminated (n, doc) BEFORE the (n, source) fold, so a doc
    // matching a thousand bench grams costs one row. Totals ride a
    // window-free source fold; the 3-row n grid joins at the end.
    //
    // Exactness: counts int64; rates single rounded quotients; docs
    // with NULL/short text yield empty gram arrays in both engines
    // (the CASE guard) and count only in the denominator.
    GraftQuery(
      "d104_decontam_sweep",
      (s, d) => {
        val ns = Seq(3, 5, 8)
        // Native width-tagged gram construction (TaggedNgrams — one pass,
        // no per-gram lambda/slice dispatch); the historical
        // concat-of-CASE-transform tree is kept verbatim in
        // TextFunctionsSpec as the parity pin.
        val docs = Tables.documents(s, d)
          .withColumn("toks", tokens(col("text")))
          .withColumn("is_bench",
            substring(md5(col("doc_id").cast("string")), 1, 1) === "0")
          .withColumn("ngrams",
            graft.functions.TextExprs.taggedNgrams(col("toks"), ns))
        val bench = docs.filter(col("is_bench"))
          .select(explode(col("ngrams")).as("p"))
          .select(col("p.n").as("n"), col("p.gram").as("gram")).distinct()
        // No array_distinct before the explode: per-row struct dedup is
        // quadratic in the gram count (structs don't hash-dedup), and
        // the post-join (n, doc) DISTINCT already collapses repeat
        // matches — only rows that actually hit the bench set pay it.
        val contaminated = docs.filter(!col("is_bench"))
          .select(col("doc_id"), col("source"),
            explode(col("ngrams")).as("p"))
          .select(col("doc_id"), col("source"), col("p.n").as("n"),
            col("p.gram").as("gram"))
          .join(broadcast(bench), Seq("n", "gram"))
          .select(col("n"), col("doc_id"), col("source")).distinct()
          .groupBy(col("n"), col("source"))
          .agg(count(lit(1)).as("n_contaminated"))
        docs.filter(!col("is_bench"))
          .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
          .select(col("source"), col("n_docs"),
            explode(array(ns.map(n => lit(n.toLong)): _*)).as("n"))
          .join(contaminated, Seq("n", "source"), "left")
          .select(col("n"), col("source"), col("n_docs"),
            coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
            when(col("n_docs") > 0L,
              round(coalesce(col("n_contaminated"), lit(0L)).cast("double")
                / col("n_docs").cast("double"), 6))
              .as("contamination_rate"))
      },
      Some {
        def sqlGramsN(n: Int): String =
          s"""CASE WHEN len(toks) >= $n THEN
               list_transform(range(1, len(toks) - $n + 2),
                 i -> struct_pack(n := CAST($n AS BIGINT),
                   gram := array_to_string(toks[i : i + $n - 1], ' ')))
             ELSE CAST([] AS STRUCT(n BIGINT, gram VARCHAR)[]) END"""
        // list_concat is binary in DuckDB: nest two calls for three lists
        val tagged = Seq(3, 5, 8).map(sqlGramsN) match {
          case Seq(a, b, c) => s"list_concat(list_concat($a, $b), $c)"
        }
        s"""WITH t AS (SELECT doc_id, source, $sqlToks AS toks,
            substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_bench
          FROM documents),
        g AS (SELECT doc_id, source, is_bench, $tagged AS ngrams FROM t),
        bench AS (SELECT DISTINCT p.n, p.gram
          FROM (SELECT unnest(ngrams) AS p FROM g WHERE is_bench)),
        corpus AS (SELECT DISTINCT doc_id, source, p.n, p.gram
          FROM (SELECT doc_id, source, unnest(ngrams) AS p
            FROM g WHERE NOT is_bench)),
        hits AS (SELECT c.n, c.source,
            CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS n_contaminated
          FROM corpus c JOIN bench b ON c.n = b.n AND c.gram = b.gram
          GROUP BY 1, 2),
        tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM t WHERE NOT is_bench GROUP BY 1),
        grid AS (SELECT n, source, n_docs
          FROM tot, (SELECT unnest([3, 5, 8]) AS n))
        SELECT CAST(grid.n AS BIGINT) AS n, grid.source, grid.n_docs,
          COALESCE(h.n_contaminated, 0) AS n_contaminated,
          CASE WHEN grid.n_docs > 0 THEN
            round(CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE)
              / CAST(grid.n_docs AS DOUBLE), 6) END AS contamination_rate
        FROM grid LEFT JOIN hits h
          ON grid.n = h.n AND grid.source = h.source"""
      }),
  )

  /** d84/e37's fixed BM25 query-term set (fixture-vocabulary words with
    * a real document-frequency spread). Lazy: referenced while `all`
    * initializes, which runs before this later-declared field would. */
  private[queries] lazy val Bm25Terms = Seq("vector", "stream", "window")

  /** BM25 (k1 = 1.2, b = 0.75) per-doc score of [[Bm25Terms]] — the
    * shared lexical-retrieval substrate: d84 ranks it directly, e37
    * fuses it with the cosine ranking. Returns (doc_id, score). */
  private[queries] def bm25Scored(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val dl = Tables.documents(s, d)
      .select(col("doc_id"),
        coalesce(tokenCount(col("text")).cast("bigint"), lit(0L)).as("dl"))
    val stats = dl.agg(sum(col("dl")).as("tot_dl"),
      count(lit(1)).as("n_docs"))
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    // df as a COUNT-ONLY window over tok (the d39 move): the groupBy(tok)
    // + broadcast join-back re-ran the tokenize+explode+filter lineage
    // for the df side (two corpus explodes). Identical df values (inner
    // join on its own grouping key); tok's domain is the bounded
    // Bm25Terms list, so the window partitions are few and count-only.
    tf.withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("tok"))))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        round(log((col("n_docs").cast("double") - col("df").cast("double")
          + lit(0.5)) / (col("df").cast("double") + lit(0.5)) + lit(1.0)),
          6))
      .withColumn("contrib",
        round(col("idf") * (col("tf").cast("double") * lit(2.2))
          / (col("tf").cast("double") + lit(1.2) * (lit(1.0) - lit(0.75)
            + lit(0.75) * (col("dl").cast("double")
              / (col("tot_dl").cast("double")
                / col("n_docs").cast("double"))))), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).cast("double").as("score"))
  }

  /** The DuckDB mirror of [[bm25Scored]] — CTE chain ending in
    * `bm(doc_id, score)`, interpolated into the d84 AND e37 oracles so
    * the scoring formula can never drift between them. */
  private[queries] lazy val sqlBm25Ctes: String = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""dl AS (SELECT doc_id,
          CAST(COALESCE(len($sqlToks), 0) AS BIGINT) AS dl
        FROM documents),
      st AS (SELECT CAST(SUM(dl) AS BIGINT) AS tot_dl,
          CAST(COUNT(*) AS BIGINT) AS n_docs FROM dl),
      tfq AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (
          SELECT doc_id, unnest($sqlToks) AS tok FROM documents) u
        WHERE tok IN $termList GROUP BY 1, 2),
      dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
        FROM tfq GROUP BY 1),
      contrib AS (SELECT tfq.doc_id,
          round(round(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)
                + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0), 6)
            * (CAST(tf AS DOUBLE) * 2.2)
            / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75
              + 0.75 * (CAST(dl AS DOUBLE)
                / (CAST(tot_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))), 6)
            AS c
        FROM tfq JOIN dfq USING (tok) JOIN dl USING (doc_id), st),
      bm AS (SELECT doc_id,
          CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE) AS score
        FROM contrib GROUP BY 1)"""
  }

  /** DuckDB expression for TextFunctions.qualityScore over a `text`
    * column — ONE definition interpolated into every oracle that scores
    * quality inline (d64's PSI binning, the Gopher gate CTE, d71's
    * Spearman audit, d72's keep-best election), so the
    * length/punct/upper formula can never drift between them. (d03's
    * oracle keeps its historical subquery shape — it REPORTS the
    * component ratios, so its formula is pinned against this one by the
    * hash gate itself.) */
  private lazy val sqlQualityOfText: String =
    """greatest(0.0, least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
            * (1.0 - CASE WHEN length(text) = 0 THEN 0.0
                ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
                  AS DOUBLE) / CAST(length(text) AS DOUBLE) END)
            * (1.0 - CASE WHEN length(text) = 0 THEN 0.0
                ELSE CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE)
                  / CAST(length(text) AS DOUBLE) END))"""

  /** d86/d89: per-doc char-bigram count, distinct count, entropy (nats)
    * and exp(entropy), from the native CharBigramStats kernel. A doc
    * with fewer than 2 chars reads 0 / 0 / NULL / NULL. */
  private def charBigramEntropy(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextExprs.charBigramStats(col("text")).as("st"))
      .select(col("doc_id"),
        coalesce(col("st.n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("st.n_distinct"), lit(0L)).as("n_distinct"),
        col("st.entropy").as("entropy"),
        col("st.eff_alphabet").as("eff_alphabet"))

  /** The d32 unigram-LM scoring lineage, shared with d70's bucketing:
    * train the top-1000-vocab unigram LM over the corpus, score each doc
    * by mean token log-probability (OOV floored at ln(1/total)); see the
    * d32 entry's scaladoc for the two-pass/broadcast scale shape and the
    * decimal-sum determinism rule. Returns (doc_id, logprob_per_token,
    * n_tokens) for EVERY doc (unscoreable docs carry NULL / 0). */
  private def unigramLogprobDocs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val terms = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = terms.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val total = tf.agg(sum(col("tf")).as("total"))
    val vocab = tf.orderBy(col("tf").desc, col("term").asc).limit(1000)
      .crossJoin(broadcast(total))
      .select(col("term"),
        round(log(col("tf").cast("double") / col("total").cast("double")), 6)
          .cast("decimal(18,6)").as("lp"))
    val oov = broadcast(total.select(
      round(log(lit(1.0) / col("total").cast("double")), 6)
        .cast("decimal(18,6)").as("oov_lp")))
    val scored = terms
      .join(broadcast(vocab), Seq("term"), "left")
      .crossJoin(oov)
      .select(col("doc_id"), coalesce(col("lp"), col("oov_lp")).as("lp"))
      .groupBy(col("doc_id"))
      .agg(
        (sum(col("lp")).cast("double") / count(lit(1)).cast("double"))
          .as("logprob_per_token"),
        count(lit(1)).as("n_tokens"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("logprob_per_token"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
  }

  /** The same lineage as DuckDB CTEs (t/tf/tot/vocab/o/sc) — ONE
    * definition interpolated into the d32 AND d70 oracles so the LM and
    * its rounding rules can never drift between them. */
  private lazy val sqlUnigramCtes: String =
    s"""t AS (SELECT doc_id, unnest($sqlToks) AS term
          FROM documents),
        tf AS (SELECT term, COUNT(*) AS tf FROM t GROUP BY 1),
        tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS total FROM tf),
        vocab AS (SELECT term,
            CAST(round(ln(CAST(tf AS DOUBLE) / CAST(total AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS lp
          FROM (SELECT term, tf FROM tf ORDER BY tf DESC, term ASC
            LIMIT 1000), tot),
        o AS (SELECT CAST(round(ln(1.0 / CAST(total AS DOUBLE)), 6)
            AS DECIMAL(18,6)) AS oov_lp FROM tot),
        sc AS (SELECT t.doc_id,
            CAST(SUM(coalesce(v.lp, o.oov_lp)) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE) AS logprob_per_token,
            COUNT(*) AS n_tokens
          FROM t LEFT JOIN vocab v USING (term), o
          GROUP BY t.doc_id)"""

  /** The d50/d51 signature bit string in DuckDB SQL over an `hs` (md5
    * list) column — the oracle mirror of the NATIVE
    * MinHashExprs.simhashMd5Bits expression (bit j of a token's vote
    * vector = bit (j % 32) of int(md5_hex[1..8]) for j < 32, of
    * int(md5_hex[9..16]) for j ≥ 32; 64 counters of ±1 votes; char j =
    * '1' iff counter j > 0). The SQL-fold Spark formulation the native
    * expression replaced lives on in PropertySpec's parity pin.
    * Formulated per-bit over hex NIBBLES (64 list_sum passes; bit j %
    * 32 of the big-endian 8-digit word = bit (j % 4) of the hex digit at
    * position 8 - j//4, resp. 16 - (j-32)//4) instead of Spark's one
    * 64-wide word fold — the COUNTER VALUES are identical integers
    * either way, which is all the hash-compare sees. Empty token lists:
    * list_sum of an empty list is NULL in DuckDB, hence the COALESCE to
    * 0 (= Spark's fold over an empty array keeping the zero
    * accumulator). */
  private lazy val sqlSimhashMd5Bits: String =
    """array_to_string(list_transform(range(0, 64), j ->
         CASE WHEN COALESCE(list_sum(list_transform(hs, h ->
             2 * (((strpos('0123456789abcdef',
                 substr(h, CAST(CASE WHEN j < 32 THEN 8 - (j // 4)
                   ELSE 16 - ((j - 32) // 4) END AS INT), 1)) - 1)
               >> (j % 4)) % 2) - 1)), 0) > 0
         THEN '1' ELSE '0' END), '')"""

  /** Appends the Gopher rule signals (d48) to a frame carrying `doc_id`,
    * `toks` (and any passthrough columns) — THE single definition shared
    * by d48 (emits the flags) and d52 (filters on the conjunction), so
    * the gate the capstone applies can never drift from the flags the
    * rule query reports. Adds `n_tokens`, `mean_word_len`,
    * `alpha_word_ratio`, `rep_ratio` (distinct grams counted natively —
    * no grams column; the oracle-side `m` CTE still exposes one for its
    * own string-gram rep_ratio formulation). */
  private[graft] def gopherMetrics(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.withColumn("n_tokens", size(col("toks")).cast("bigint"))
      .withColumn("mean_word_len",
        when(col("n_tokens") === 0, lit(0.0)).otherwise(
          expr("aggregate(toks, 0L, (a, x) -> a + length(x))")
            .cast("double") / col("n_tokens").cast("double")))
      .withColumn("alpha_word_ratio",
        when(col("n_tokens") === 0, lit(0.0)).otherwise(
          expr("size(filter(toks, x -> x rlike '[A-Za-z]'))")
            .cast("double") / col("n_tokens").cast("double")))
      // distinct-gram count via the NATIVE sorted-distinct shingle hasher
      // (== string array_distinct up to 2^-64 collisions, the d09 rule;
      // total grams is just n_tokens - 2). The string-gram form this
      // replaces was a pushdown time bomb: filtering on rep_ratio
      // substituted the gram transform into the scan Filter, where the
      // lambda's per-iteration toks[i] re-tokenized text — O(tokens²)
      // per row (the d27 trap; measured 93 s for d52 at sf0.1 before
      // this fix, ~7 s after). The oracle keeps the string form.
      .withColumn("rep_ratio",
        when(col("n_tokens") < 3, lit(0.0)).otherwise(
          lit(1.0) -
            size(graft.functions.MinHashExprs.shingleHashes(col("toks")))
              .cast("double") /
            (col("n_tokens") - 2).cast("double")))

  /** The Gopher admission conjunction over [[gopherMetrics]] columns.
    * `private[graft]` (with [[gopherMetrics]]): ONE gate definition across
    * batch (d48/d52/d58) and streaming
    * ([[graft.streaming.CorpusIngest.retentionStream]]) — the capstone
    * equality test depends on the two paths sharing it verbatim. */
  private[graft] val gopherAdmit: org.apache.spark.sql.Column =
    col("n_tokens") >= 50 && col("n_tokens") <= 100000 &&
      col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
      col("alpha_word_ratio") >= 0.8 && col("rep_ratio") <= 0.2

  /** DuckDB CTE chain ending in `m` (doc_id, source, toks, grams + the
    * four Gopher metrics) — the oracle-side single definition mirroring
    * [[gopherMetrics]], shared by d48 and d52. */
  private lazy val sqlGopherCtes: String =
    s"""toks AS (SELECT doc_id, source, $sqlToks AS toks FROM documents),
      g AS (SELECT doc_id, source, toks, $sqlGrams AS grams FROM toks),
      m AS (SELECT doc_id, source, toks, grams,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          CASE WHEN len(toks) = 0 THEN 0.0
            ELSE CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE) END AS mean_word_len,
          CASE WHEN len(toks) = 0 THEN 0.0
            ELSE CAST(len(list_filter(toks,
                x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE) END AS alpha_word_ratio,
          CASE WHEN len(grams) = 0 THEN 0.0
            ELSE 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
              / CAST(len(grams) AS DOUBLE) END AS rep_ratio
        FROM g)"""

  /** [[gopherAdmit]] in DuckDB SQL (over `m`'s columns). */
  private lazy val sqlGopherAdmit: String =
    """n_tokens >= 50 AND n_tokens <= 100000
      AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
      AND alpha_word_ratio >= 0.8 AND rep_ratio <= 0.2"""

  /** d27's oracle: DuckDB recursive CTE computes the transitive closure
    * and takes the per-vertex min label — the same fixpoint the
    * distributed loop converges to. */
  private lazy val oracleD27: Option[String] =
    Some(s"""WITH RECURSIVE ${sqlMinhashCte.stripPrefix("WITH ")},
        $sqlMinhashCappedCte,
        e AS (SELECT a.doc_id AS src, b.doc_id AS dst
          FROM mhc a JOIN mhc b ON a.minhash = b.minhash AND a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS DOUBLE) /
            CAST(len(list_distinct(list_concat(a.shingle_set, b.shingle_set))) AS DOUBLE) >= 0.5),
        und AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
        reach AS (SELECT doc_id AS id, doc_id AS comp FROM documents
          UNION
          SELECT u.dst AS id, r.comp FROM reach r JOIN und u ON u.src = r.id)
        SELECT id AS doc_id, MIN(comp) AS comp_id FROM reach GROUP BY 1""")

  /** The d14 quality gate as a reusable frame: every doc with its signal
    * columns (text retained for downstream fingerprinting), filtered to
    * the admitted set. Signals + predicate live in
    * [[TextFunctions.qualityGate]] — one definition across batch (here)
    * and streaming (CorpusIngest). */
  private def qualityGated(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    qualityGate(Tables.documents(s, d).select(col("doc_id"), col("text")))

  /** The same gate in DuckDB SQL, ending in a `gated` CTE that also
    * carries `text`. ONE definition for d14 and d25. */
  private lazy val sqlGatedCte: String = {
    s"""WITH sig AS (
        SELECT doc_id, text,
          CAST(len($sqlToks) AS BIGINT) AS n_tokens,
          $sqlQualityOfText AS quality_score,
          CASE WHEN len($sqlToks) = 0 THEN 0.0
            ELSE CAST(len(regexp_extract_all(lower(text), '$englishStopwordPattern')) AS DOUBLE)
              / CAST(len($sqlToks) AS DOUBLE) END AS stopword_ratio,
          $sqlLangHits
        FROM documents),
      scored AS (SELECT doc_id, text, n_tokens, quality_score, stopword_ratio,
          $sqlLangCase AS lang_pred
        FROM (SELECT *, $sqlLangMax AS g FROM sig) t),
      gated AS (SELECT * FROM scored
        WHERE n_tokens >= 30 AND quality_score >= 0.5
          AND stopword_ratio >= 0.05 AND lang_pred = 'en')"""
  }
}
