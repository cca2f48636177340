package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{MinHashExprs, TextExprs, TextFunctions}

/** Near-duplicate detection at scale — the three standard families, each
  * bucketed so candidate generation never goes all-pairs:
  *
  *   1. md5-minhash on word-3-grams (TextQueries.d08/d09 — oracle-checked)
  *   2. banded MinHash (`minhashLshPairs`) — `numTables` independent minhash
  *     functions (xxhash64 salted by table index); candidates = docs sharing
  *     any per-table signature; verified by exact Jaccard on candidates only
  *   3. SimHash-64 (`simhashOf`) — one 64-bit signature per doc; near-dups
  *     share a 16-bit band; verification = Hamming distance on candidates
  *
  * Candidate generation is a groupBy on the bucket key + within-bucket pair
  * expansion ([[pairsWithinBuckets]], two codegen'd generators shared by
  * every pair family in the engine) rather than a bucket self-join: the
  * self-join form computes the signature pipeline once per side (Catalyst
  * does not reuse the exchange across differently-aliased sides) and — worse
  * — inlines the whole signature expression into the join's pushed-down
  * `isnotnull` filter, evaluating it twice more per row. The groupBy form
  * computes signatures exactly once and shuffles them exactly once.
  *
  * At 100 TB: signatures are narrow per-row codegen'd expressions; the
  * shuffle key is the band/bucket value whose group sizes are bounded by
  * design (band width picks the precision/recall point), so no hot keys.
  * Docs too short to sign get a per-doc unique bucket (`coalesce` with
  * doc_id) instead of a shared null bucket — a null hot-key would send
  * every short doc to one task.
  *
  * Production/oracle twins. d15/d53 share one election
  * ([[minhashLshRepresentatives]], the band family a parameter), but
  * three pairs cannot merge into one operator:
  *   - d12/d47 and d11/d51 differ in which pairs survive, not only in
  *     the hash. d12 and d11 keep a pair only in the FIRST band where its
  *     signatures collide, so a capped first bucket drops the pair. d47
  *     and d51 keep a pair if it collides in ANY bucket under the cap
  *     (a distinct over the pair table).
  *   - d10/d50 (and so d11/d51): the oracle needs an md5-derived
  *     signature emitted as a bit string, which xxhash64 does not give —
  *     DuckDB has no xxhash64, and a 64-bit unsigned word has no portable
  *     integer form in both engines.
  */
object NearDup {

  /** Bounded-buffer bucket collection — the ONE way every pair-emitting
    * family builds its `docs` arrays. Groups `rows` by `keyCols` and
    * collects `payload` into a sorted `docs` array, keeping only buckets
    * with 2..cap members, with per-group memory bounded at `cap + 1`
    * payload rows end to end:
    *
    * A `row_number() <= cap + 1` slice runs BEFORE the collect. Spark's
    * `InferWindowGroupLimit` rewrites the filter-over-rank pattern into a
    * `WindowGroupLimit`, inserting a PARTIAL group-limit ahead of the
    * shuffle — an over-cap boilerplate mega-bucket (empty pages, licence
    * headers; g can reach 10⁵–10⁷ in a web crawl) is truncated to cap + 1
    * members per map task, so neither the exchange nor any aggregation
    * buffer ever sees the full bucket. The old collect-then-filter form
    * materialized all g members in ONE `collect_list` buffer first —
    * `collect_list` buffers never spill per group, so a single hot key
    * could OOM its task even though its output is defined to be empty.
    *
    * Semantics are IDENTICAL to collect-then-filter: under-cap buckets
    * keep every member (the slice passes them through untouched, and
    * `sort_array` canonicalizes order), while a truncated bucket carries
    * exactly cap + 1 members and the `size <= cap` filter drops it — the
    * same all-or-nothing over-cap drop as before, at O(cap) memory. The
    * groupBy reuses the window's hash partitioning (same keys), so the
    * slice costs one in-partition sort, not an extra exchange.
    *
    * `order` breaks ranking ties within a bucket; every caller passes its
    * unique-per-bucket doc id. Determinism does not actually depend on
    * it: under-cap buckets keep all rows and over-cap buckets are dropped
    * whole, so WHICH cap + 1 rows survive truncation is unobservable. */
  def cappedBuckets(rows: DataFrame, keyCols: Seq[String], payload: Column,
      order: Column, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order)
    rows
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap + 1)
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(payload)).as("docs"))
      .filter(size(col("docs")).between(2, cap))
  }

  /** doc_id + distinct word-3-gram shingle set. */
  def shingled(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("toks", TextFunctions.tokens(col(textCol)))
      .withColumn("shingle_set",
        when(size(col("toks")) >= 3,
          array_distinct(expr(
            "transform(sequence(0, size(toks)-3), i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))")))
          .otherwise(expr("cast(array() as array<string>)")))
      .drop("toks")

  /** All unordered (i<j) pairs within each `docs` array of `grouped`:
    * one row per pair, (keys..., a, b) with `a` the element that comes
    * first in the array — for the sorted arrays every caller builds,
    * a < b. Arrays of size 0 or 1 (and NULL) produce nothing. ONE
    * expansion for every in-bucket pair family (md5-minhash, banded LSH,
    * simhash, winnowing, the embedding buckets, the source and brand
    * co-occurrence sets).
    *
    * Two codegen'd generators, no lambda: `posexplode` gives each element
    * `a` its position i, and `explode(slice(docs, i + 2, size - i - 1))`
    * pairs it with the elements after it (slice is 1-based, so i + 2 is
    * position i + 1; the last element's slice is empty). The former
    * `flatten(transform(sequence(...), i -> transform(sequence(...), j ->
    * struct(...))))` form is an interpreted higher-order function: a
    * lambda dispatch per element, a `sequence` array per i and a
    * `flatten` copy of every pair. `keys` are the caller's grouping
    * columns carried onto each pair row. */
  def pairsWithinBuckets(grouped: DataFrame, keys: String*): DataFrame = {
    val k = keys.map(col)
    grouped
      .select((k :+ col("docs") :+ posexplode(col("docs")).as(Seq("__i", "a"))): _*)
      .select((k :+ col("a") :+ explode(
        expr("slice(docs, __i + 2, size(docs) - __i - 1)")).as("b")): _*)
  }

  /** Banded MinHash near-dup pairs, natively: hashed 3-gram shingles →
    * `numTables` independent minhash values (one codegen'd expression, see
    * MinHashExprs) → group docs by (table, minhash) → within-bucket
    * candidate pairs → dedup pairs seen in several tables → exact Jaccard
    * distance filter on the hashed shingle sets (equal to string-shingle
    * Jaccard up to 2^-64 hash collisions). Deterministic (fixed hash
    * family). Returns (a_id, b_id, jaccard_dist) with a_id < b_id and
    * jaccard_dist <= maxDistance.
    *
    * Recall at Jaccard similarity j with T tables: 1-(1-j)^T — e.g. 8
    * tables catch a j=0.6 pair with p≈0.9993. Precision comes free from
    * the exact verify step. The shuffled payload per doc is one long
    * array (8 B/shingle), not the shingle strings.
    *
    * Multi-table pair dedup is SHUFFLE-FREE: each doc carries its full
    * signature vector into the bucket, and a candidate pair is kept only
    * in the FIRST table where the two signatures agree — every later
    * collision of the same pair is dropped by a narrow filter. (The
    * earlier groupBy(a_id, b_id) dedup re-shuffled the shingle-hash
    * arrays a second time; measured 5.0 s → ~2 s at sf0.1.)
    *
    * `maxBucket` caps the quadratic in-bucket expansion (same guard as
    * Winnowing.sharedFingerprintPairs): a bucket larger than `maxBucket`
    * is a near-identical boilerplate cluster — g²/2 struct pairs each
    * carrying two full `hs` arrays inside one generator row would OOM the
    * task on a dup-heavy corpus. The cap is enforced by [[cappedBuckets]]
    * (window-group-limit slice BEFORE the collect), so even detecting the
    * over-cap bucket costs O(cap) memory per task, never O(g); the old
    * collect-then-filter form buffered all g members' signature structs
    * in one non-spilling aggregation buffer first. Dropped-bucket policy: the over-cap
    * bucket's pairs are dropped ENTIRELY, even if the same pair also
    * collides in a later table — the first-collision filter tests
    * signature equality only, so a pair whose first-colliding table is
    * capped never survives anywhere. Deterministic, and errs toward
    * dropping exactly the boilerplate clusters the cap targets; use
    * [[minhashLshRepresentatives]] (linear output, uncapped) when giant
    * dup groups must still collapse. */
  def minhashLshPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxDistance: Double = 0.5,
      numTables: Int = 8, maxBucket: Int = 64): DataFrame = {
    import graft.functions.MinHashExprs
    val sh = docs
      .withColumn("toks", TextFunctions.tokens(col(textCol)))
      .select(col(idCol),
        MinHashExprs.shingleHashes(col("toks")).as("hs"),
        MinHashExprs.minhashSigs(col("toks"), numTables).as("sigs"))
    // One row per (table, per-table minhash) — the LSH bucket key. Docs
    // too short to sign (null sigs — MinHash needs ≥1 shingle) emit no
    // bucket rows via the null-guard inside the generator; a
    // filter(size(toks) >= 3) would be pushed to the scan with the token
    // chain substituted into it, tokenizing every row twice.
    val banded = sh.select(col(idCol), col("hs"), col("sigs"),
      explode(when(col("sigs").isNotNull, expr(
        s"transform(sequence(0, ${numTables - 1}), t -> struct(t AS t, sigs[t] AS mh))")))
        .as("bk"))
    val grouped = cappedBuckets(
      banded.select(col("bk.t").as("t"), col("bk.mh").as("mh"),
        col(idCol), col("hs"), col("sigs")),
      Seq("t", "mh"),
      struct(col(idCol).as("id"), col("hs"), col("sigs")),
      col(idCol), maxBucket)
    pairsWithinBuckets(grouped, "t")
      // first-collision dedup (guard t = 0: sequence(0, -1) would be the
      // DESCENDING range [0, -1], not empty)
      .filter(expr("t = 0 OR NOT exists(sequence(0, t-1), i -> a.sigs[i] = b.sigs[i])"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        // hs is sorted-distinct (shingleHashes contract) → merge-scan
        // jaccard, no per-pair hash sets
        (lit(1.0) - MinHashExprs.jaccardSorted(col("a.hs"), col("b.hs")))
          .as("jaccard_dist"))
      .filter(col("jaccard_dist") <= maxDistance)
  }

  /** An LSH band family: how a doc's token list becomes one minhash
    * signature per band table. Two families, because two kinds of caller
    * need different hashes:
    *   - [[Bands.Xxhash64]] — 8 tables of xxhash64 minhash over the
    *     hashed token-3-gram shingles (MinHashExprs.minhashSigs): the
    *     production family (d15); DuckDB cannot replay it.
    *   - [[Bands.Md5Grams]] — 4 tables, table t's signature the min of
    *     md5('t:' || gram) over the word-3-grams
    *     (MinHashExprs.bandMd5Sigs): DuckDB replays it exactly, so every
    *     query built on it is oracle-checked (d47/d52/d53/d66/d72/d77/d91).
    * `sigs` is NULL for a doc too short to sign (no 3-gram). */
  sealed abstract class Bands(val tables: Int) {
    def sigs(toks: Column): Column
  }
  object Bands {
    case object Xxhash64 extends Bands(8) {
      def sigs(toks: Column): Column = MinHashExprs.minhashSigs(toks, tables)
    }
    case object Md5Grams extends Bands(4) {
      def sigs(toks: Column): Column = ofGrams(TextExprs.wordNgrams(toks, 3))
      /** The signatures of an already-built word-3-gram list. */
      def ofGrams(grams: Column): Column = MinHashExprs.bandMd5Sigs(grams, tables)
    }
  }

  /** (id [, extra...], t, mh) band rows: one per (doc, table), t the
    * table index and mh its signature. A NULL signature array emits no
    * rows — docs too short to sign never reach a bucket. `sigs` must be
    * the signature EXPRESSION, never a column alias of it: over an
    * attribute input, InferFiltersFromGenerate adds an
    * `isnotnull(sigs) AND size(sigs) > 0` filter that pushdown then
    * rewrites with the whole signature chain substituted, computing every
    * signature twice per row. */
  private def bandRows(frame: DataFrame, sigs: Column,
      idCol: String = "doc_id", extra: Seq[Column] = Nil): DataFrame =
    frame.select((col(idCol) +: extra :+
      posexplode(sigs).as(Seq("t", "mh"))): _*)

  /** (doc_id [, extra...], t, mh) band rows of the Md5Grams family over a
    * prebuilt gram frame (a `sh` word-3-gram column) — ONE definition for
    * d47/d52 (via [[md5BandedPairs]]) and d72 (best-rep); a drifted copy
    * of the salt separator, table count or empty-guard would silently
    * break the pinned equivalence with the d53 election. The native
    * bandMd5Sigs pass replaced an interpreted T-sweep lambda form (byte
    * parity pinned by NearDupSpec). */
  def md5Banded(withSh: DataFrame, extra: Column*): DataFrame =
    bandRows(withSh, Bands.Md5Grams.ofGrams(col("sh")), extra = extra)

  /** md5-banded near-dup pairs with an exact Jaccard verify — ONE
    * lineage for d47 (the pairs) and d52 (its capstone edges). `docs` has
    * (doc_id, toks). Returns (a_id, b_id, jaccard), a_id < b_id, every
    * pair colliding in ANY (t, mh) bucket of at most `maxBucket` docs and
    * with jaccard >= 0.5.
    *
    * Shuffle shape: buckets carry ONLY doc ids — the (t, mh) exchange
    * moves T ~50-byte rows per doc instead of T copies of the full
    * string-shingle array — and pairs seen in several tables collapse in
    * a distinct over the bounded pair table. The verify then joins the
    * 8-byte HASHED shingle sets (shingleHashes; hashed-set Jaccard ==
    * string-set Jaccard up to 2^-64 collisions, so the DuckDB oracle
    * keeps the string sets and still hash-matches) back onto that table.
    * No forced broadcast on the pair side: bounded-per-bucket is not
    * bounded-in-total at 100 TB — AQE picks broadcast when the pair table
    * is actually small. */
  def md5BandedPairs(docs: DataFrame, maxBucket: Int): DataFrame = {
    val banded = md5Banded(
      docs.select(col("doc_id"), TextExprs.wordNgrams(col("toks"), 3).as("sh")))
    val grouped = cappedBuckets(
      banded.select(col("t"), col("mh"), col("doc_id")),
      Seq("t", "mh"), col("doc_id"), col("doc_id"), maxBucket)
    val pairs = pairsWithinBuckets(grouped)
      .select(col("a").as("a_id"), col("b").as("b_id"))
      .distinct()
    val hashed = docs.select(col("doc_id"),
      MinHashExprs.shingleHashes(col("toks")).as("hs"))
    pairs
      .join(hashed.select(col("doc_id").as("a_id"), col("hs").as("a_hs")),
        Seq("a_id"))
      .join(hashed.select(col("doc_id").as("b_id"), col("hs").as("b_hs")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        MinHashExprs.jaccardSorted(col("a_hs"), col("b_hs")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Single-band candidate pairs with the hashed-shingle Jaccard — ONE
    * lineage for d09/d27 (TextQueries.candidatePairs), d31, d38 and d100.
    * `signed` has (doc_id, toks), the bucket key `bucket` and the
    * `payload` columns; returns (a, b, jaccard), where a and b are the two
    * docs' structs (doc_id, hs, payload...) with a.doc_id < b.doc_id.
    *
    * Docs whose bucket key is NULL (unsignable) get a unique per-doc
    * `solo:` bucket via `coalesce` instead of a filter: size-1 buckets
    * produce no pairs (identical output), there is no NULL hot-key
    * straggler at 100 TB, and a `filter(bucket.isNotNull)` would be pushed
    * down with the signature chain substituted into it (the d27 lesson:
    * 9.3 s of 13.2 s at sf0.1). The verify payload is the HASHED shingle
    * set (shingleHashes): 8-byte longs shuffle instead of ~30-byte
    * trigram strings. Buckets over `maxBucket` docs are dropped whole
    * ([[cappedBuckets]]). */
  def singleBandPairs(signed: DataFrame, bucket: Column, maxBucket: Int,
      payload: String*): DataFrame = {
    val fields = (Seq(col("doc_id"),
      MinHashExprs.shingleHashes(col("toks")).as("hs")) ++ payload.map(col))
    val grouped = cappedBuckets(
      signed.select((fields :+
        coalesce(bucket, concat(lit("solo:"), col("doc_id"))).as("bucket")): _*),
      Seq("bucket"), struct((Seq("doc_id", "hs") ++ payload).map(col): _*),
      col("doc_id"), maxBucket)
    pairsWithinBuckets(grouped)
      .withColumn("jaccard",
        MinHashExprs.jaccardSorted(col("a.hs"), col("b.hs")))
  }

  /** Near-dup CLUSTERING (the 100 TB dedup shape): every doc maps to a
    * representative — the minimum doc id sharing any LSH band bucket with
    * it (itself if nothing collides; unsignable short docs are their own
    * representative). ONE election for both band families: d15
    * (Xxhash64, production) and d53/d66/d77/d91 (Md5Grams, oracle-checked).
    *
    * Output: `onto` (default: the docs' ids) with `rep_id` appended, one
    * row per `onto` row — callers that need more per-doc columns pass a
    * narrow frame of their own instead of carrying them through the
    * bands.
    *
    * This is the scale-safe alternative to emitting candidate PAIRS: a
    * duplicate group of size g produces g² pairs but only g cluster rows —
    * measured on an 8×-replicated corpus, the pair form degrades
    * super-linearly (1.4 s → 48 s for 8× rows at sf0.1) while this form
    * stays linear. Training-data dedup (keep one per cluster:
    * `filter(doc_id = rep_id)`) never needs the pairs. UNCAPPED: the
    * bucket window-min folds a mega-bucket in constant window state.
    *
    * One-pass approximation of connected components: transitive chains
    * (A~B~C without A~C sharing a bucket) may land in different clusters;
    * near-exact duplicates share all/most buckets, so real dup groups
    * collapse correctly. Iterate the mapping if full transitivity is
    * required. */
  def minhashLshRepresentatives(docs: DataFrame,
      bands: Bands = Bands.Xxhash64, onto: Option[DataFrame] = None,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val banded = bandRows(docs,
      bands.sigs(TextFunctions.tokens(col(textCol))), idCol)
    val reps = banded
      .withColumn("bucket_rep",
        min(col(idCol)).over(Window.partitionBy(col("t"), col("mh"))))
      .groupBy(col(idCol))
      .agg(min(col("bucket_rep")).as("rep_id"))
    // short docs (no signature) are their own representative
    onto.getOrElse(docs.select(col(idCol)))
      .join(reps, Seq(idCol), "left")
      .withColumn("rep_id", coalesce(col("rep_id"), col(idCol)))
  }

  /** SimHash-64 of a whitespace-tokenized string column — a native codegen
    * Catalyst expression (one xxhash64 per token, 64 scalar counters; see
    * TextExprs.SimHash64). No shuffle, fuses into the scan stage. */
  def simhashOf(colName: String): Column = TextExprs.simhash64(col(colName))

  /** SimHash near-dup pairs: band each 64-bit signature into four 16-bit
    * keys, group docs by (band index, band value), expand within-bucket
    * candidate pairs, verify by Hamming distance. Returns
    * (a_id, b_id, hamming) with a_id < b_id. */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 8,
      maxBucket: Int = 64): DataFrame =
    simhashPairsFromSigs(
      docs.select(col(idCol), simhashOf(textCol).as("simhash")),
      idCol, maxHamming, maxBucket)

  /** Same, from precomputed signatures: `sig` has (idCol, simhash: long).
    *
    * Multi-band pair dedup is SHUFFLE-FREE, same trick as
    * [[minhashLshPairs]]: each doc's full signature rides into the
    * bucket, and a candidate pair is kept only in the FIRST band where
    * the two signatures' band values agree — every later collision of
    * the same pair drops in a narrow filter instead of a second
    * all-pairs `distinct` exchange.
    *
    * `maxBucket` (same policy as [[minhashLshPairs]]): a 16-bit band
    * shared by more than `maxBucket` docs is a boilerplate cluster whose
    * g²/2 pair expansion would dominate the stage — the whole bucket is
    * dropped, via [[cappedBuckets]] so the drop costs O(cap) memory. */
  def simhashPairsFromSigs(sig: DataFrame, idCol: String = "doc_id",
      maxHamming: Int = 8, maxBucket: Int = 64): DataFrame = {
    val banded = sig.select(col(idCol), col("simhash"),
      explode(expr(
        // band key must be the UNSIGNED 16-bit value: arithmetic shiftright +
        // signed % follows the signature's sign bit, so identical band bits
        // with different bit-63 values would bucket apart (missed pairs).
        "transform(sequence(0, 3), b -> struct(b AS band, (shiftrightunsigned(simhash, b*16) & 65535) AS v))"))
        .as("bk"))
    val grouped = cappedBuckets(
      banded.select(col("bk.band").as("band"), col("bk.v").as("v"),
        col(idCol), col("simhash")),
      Seq("band", "v"),
      struct(col(idCol).as("id"), col("simhash")),
      col(idCol), maxBucket)
    pairsWithinBuckets(grouped, "band")
      // first-collision dedup (guard band = 0: sequence(0, -1) would be
      // the DESCENDING range [0, -1], not empty)
      .filter(expr("""band = 0 OR NOT exists(sequence(0, band-1),
        |  i -> (shiftrightunsigned(a.simhash, i*16) & 65535)
        |     = (shiftrightunsigned(b.simhash, i*16) & 65535))""".stripMargin))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("bigint").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
