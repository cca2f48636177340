package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Similarity-search queries over embeddings.parquet (ArrayType(FloatType),
  * 64-dim): the e-family.
  *
  * The search tiers are brute-force cosine top-k vs one query vector (the
  * correctness baseline), sign-bit LSH buckets (candidate pairs WITHIN
  * buckets only, never all-pairs), and the IVF / PQ / IVF-PQ indexes of
  * [[graft.operators.VectorSearch]]. Most queries are evaluations of those
  * tiers against an exact truth set on one bounded probe panel; the shared
  * eval scaffold (probe panel, truth top-3, recall@3 tail, pinned
  * quantizers) is defined once below, with its DuckDB mirror next to it.
  *
  * Determinism: all arithmetic is widened to double first; dot, norm and
  * cosine are the native one-pass expressions (VectorExprs), whose strict
  * left-to-right accumulation is mirrored in the DuckDB oracle with list_sum
  * over the same element order, so doubles are bit-identical across
  * engines.
  */
object SimQueries {
  import graft.functions.VectorFunctions._
  import graft.operators.VectorSearch

  /** Sign-bit LSH bucket over the first `bits` dimensions (1-based
    * element_at in Spark matches DuckDB's 1-based subscripts). */
  private def signBucket(emb: Column, bits: Int): Column =
    (0 until bits).map { i =>
      when(element_at(emb, i + 1) > lit(0.0f), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** 32-bit sign word over dims [off+1, off+32] (e11's binary
    * quantization): bit i set iff the element is > 0. Values stay in
    * [0, 2^32), so a BIGINT carrier never sign-overflows — the reason the
    * 64-dim signature is two words, not one. */
  private def signWord(emb: Column, off: Int): Column =
    (0 until 32).map { i =>
      when(element_at(emb, off + i + 1) > lit(0.0f), lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** DuckDB mirror of [[signWord]]. */
  private def sqlSignWord(emb: String, off: Int): String =
    (0 until 32).map { i =>
      s"(CASE WHEN $emb[${off + i + 1}] > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("CAST(", " + ", " AS BIGINT)")

  // Bucket-width scaling: bits grows with the corpus so the EXPECTED
  // bucket size stays ≤ TargetBucket vectors — a fixed bits would make
  // every bucket 1/2^bits of the corpus, a straggler by construction at
  // scale (round-5 verdict, What's wrong #4). Clamped to [MinBits (the
  // fixture calibration), MaxBits (embedding has 64 dims; 2^16 buckets is
  // plenty before a second hyperplane family is the right move)].
  private[queries] val TargetBucket = 32L
  private[queries] val MinBits = 4
  private[queries] val MaxBits = 16

  /** Prefix length for the truncated-dim (Matryoshka) recall eval (e09):
    * a 4× storage/compute cut over the 64-dim fixtures — the coarse tier
    * a prefix-trained embedding would serve. */
  private[queries] val TruncDims = 16

  /** e16's projected dimensionality (64 → 16, the same 4× cut e09/e12
    * evaluate, so the three reductions are recall-comparable). */
  private[queries] val ProjDims = 16

  /** e16's deterministic ±1 JL sign matrix: s(k,j) = +1 iff the high bit
    * of md5("rp:k:j") is 0 (Java MD5 ≡ both engines' md5; the derivation
    * is the spec — it runs ONCE, driver-side, and the resulting constants
    * inline into both plans as literals, so neither engine hashes
    * anything per row). */
  private lazy val rpSigns: IndexedSeq[Seq[Double]] =
    (0 until ProjDims).map { k =>
      (0 until Tables.EmbeddingDim).map { j =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"rp:$k:$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        if ((h(0) & 0x80) == 0) 1.0 else -1.0
      }.toSeq
    }

  /** DuckDB mirror of e16's projection of a double-list column: a 16-list
    * of sign-weighted dot products, each the SAME strict left fold as the
    * native dot (list_sum over list_zip — the documented bit-identical
    * pair). Sign literals use e-notation so DuckDB types them DOUBLE, not
    * DECIMAL. */
  private def sqlRpProj(e: String): String =
    rpSigns.map { row =>
      graft.functions.VectorFunctions.sqlDot(
        e, row.map(v => if (v > 0) "1.0e0" else "-1.0e0")
          .mkString("[", ", ", "]"))
    }.mkString("[", ",\n          ", "]")

  /** bits = clamp(ceil(log2(ceil(n / TargetBucket))), MinBits, MaxBits),
    * computed with exact integer arithmetic. The DuckDB oracle mirrors it
    * in float log2 ([[sqlBitsCte]]) — the two agree everywhere because
    * libm log2 is exact at powers of two and the true log2 of a non-power
    * is irrational (never rounds across the ceil boundary). */
  private[queries] def bitsFor(n: Long): Int = {
    val buckets = math.max(1L, (n + TargetBucket - 1) / TargetBucket)
    val b = 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1) // ceilLog2
    math.min(MaxBits, math.max(MinBits, b))
  }

  /** The oracle-side mirror of [[Tables.validEmbeddings]] — ONE
    * definition interpolated into every e-oracle so the DuckDB row set
    * can never drift from the Spark loader's dimension guard. */
  private val sqlValidEmb = s"len(embedding) = ${Tables.EmbeddingDim}"

  /** `nb` CTE holding the same bits value, derived in SQL from COUNT(*). */
  private val sqlBitsCte: String =
    s"""nb AS (SELECT greatest($MinBits, least($MaxBits,
        CAST(ceil(log2(greatest(ceil(CAST(COUNT(*) AS DOUBLE) / $TargetBucket), 1))) AS INT))) AS bits
      FROM embeddings WHERE $sqlValidEmb)"""

  /** Dynamic-bits SQL bucket: each candidate bit gated on `i < bits`. */
  private def sqlSignBucket(emb: String, bitsCol: String): String =
    (0 until MaxBits).map { i =>
      s"(CASE WHEN $i < $bitsCol AND $emb[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("CAST(", " + ", " AS BIGINT)")

  /** Corpus-derived bits for the sf dir's embeddings table. The count is
    * an eager action at DataFrame-construction time, so it's memoized
    * (see [[ivfCorpusSize]]) — otherwise every e-query invocation (five per
    * bench round) pays a redundant count job inside its timed window. */
  private def derivedBits(s: SparkSession, d: String): Int =
    bitsFor(ivfCorpusSize(s, d))

  /** Memoized VALID-embeddings row count per dir (shared by the LSH-bits
    * and IVF-cell derivations — one count job per dir and table version).
    * Counts the dimension-filtered set so sizing always matches the rows
    * the queries actually process. Each entry carries the embeddings
    * path's stamp — name, size and modification time of the path and, for
    * a directory, of each entry in it: a stat and a listing, not a job — and
    * is counted again when the stamp changes, so a long-lived session sees
    * a table rewritten in place. A path that cannot be stat'ed is never
    * served from the memo. */
  private val countCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Option[Seq[(String, Long, Long)]], Long)]()
  private def ivfCorpusSize(s: SparkSession, d: String): Long = {
    val stamp = embeddingsStamp(s, d)
    countCache.compute(d, (_, old) =>
      if (old != null && stamp.nonEmpty && old._1 == stamp) old
      else (stamp, Tables.validEmbeddings(s, d).count()))._2
  }

  private def embeddingsStamp(s: SparkSession, d: String): Option[Seq[(String, Long, Long)]] =
    try {
      val p = new org.apache.hadoop.fs.Path(Tables.path(d, "embeddings"))
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      val entries = if (st.isDirectory) fs.listStatus(p).toSeq else Nil
      Some((st +: entries).map(f => (f.getPath.getName, f.getLen, f.getModificationTime)))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The per-dim corpus-mean CTE block (e/el/m/ma: valid embeddings as
    * doubles, posexploded onto the fixed 64-dim domain, decimal-exact
    * per-dim means, reassembled in pos order) — ONE definition
    * interpolated into the e10 AND e28 oracles so the mean-vector
    * convention (6-dp rounding before the decimal sum) can never drift
    * between them. */
  private lazy val sqlDimMeanCtes: String =
    s"""e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
        FROM embeddings WHERE $sqlValidEmb),
        el AS (SELECT unnest(xs) AS x,
          unnest(range(1, len(xs) + 1)) AS pos FROM e),
        m AS (SELECT pos,
          CAST(SUM(CAST(round(x, 6) AS DECIMAL(18,6))) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS mu
          FROM el GROUP BY pos),
        ma AS (SELECT list(mu ORDER BY pos) AS mus FROM m)"""

  // ---- the e-family eval scaffold ----------------------------------------
  // Every recall eval scores one BOUNDED deterministic probe panel against
  // the corpus. The panel modulus grows with the corpus (max(20, n/100)) so
  // the sample stays ~100 probes at ANY corpus size — a fixed 5% rate made
  // the exact side probes×corpus ≈ n²/20 (measured 31 s at 16k vectors vs
  // 1.1 s at 2k), and recall precision only needs ~1/√probes anyway. The
  // probe set broadcasts against the corpus (narrow scan, no corpus
  // shuffle); recall is an integer hit-count / 3.0 (0, 1/3, 2/3, 1 —
  // identical IEEE doubles in both engines). Each rule below has exactly
  // one Spark definition and one DuckDB mirror.

  /** The probe-panel predicate over `vec_id`. */
  private def probePanel(s: SparkSession, d: String): Column =
    col("vec_id") % math.max(20L, ivfCorpusSize(s, d) / 100L) === 0

  /** DuckDB mirror of [[probePanel]]. */
  private val sqlProbePanel: String =
    s"""vec_id % (SELECT greatest(20, COUNT(*) // 100)
            FROM embeddings WHERE $sqlValidEmb) = 0"""

  /** The `probes` CTE: the panel rows of `from` as (a_id, `cols`), plus an
    * `extra` predicate suffix (e27's live-probe rule). */
  private def sqlProbesCte(cols: String = "e AS ae", from: String = "b",
      extra: String = ""): String =
    s"""probes AS (SELECT vec_id AS a_id, $cols FROM $from
          WHERE $sqlProbePanel$extra)"""

  /** Per-probe top-3 (a_id, b_id) of a scored candidate frame, ties to the
    * lower b_id (row_number ≤ 3 gets map-side WindowGroupLimit before the
    * a_id exchange). */
  private def top3(scored: DataFrame, score: String): DataFrame =
    scored
      .withColumn("rn", row_number().over(Window.partitionBy(col("a_id"))
        .orderBy(col(score).desc, col("b_id").asc)))
      .filter(col("rn") <= 3)
      .select(col("a_id"), col("b_id"))

  /** The exact-cosine truth top-3 of each probe over the (vec_id, emb)
    * corpus, probe self-excluded; `probes` carries (a_id, a_emb). */
  private def truthTop3(corpus: DataFrame, probes: DataFrame,
      score: String): DataFrame =
    top3(corpus.select(col("vec_id").as("b_id"), col("emb").as("b_emb"))
      .crossJoin(broadcast(probes))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn(score, cosine(col("a_emb"), col("b_emb"))), score)

  /** DuckDB mirror of [[top3]] over `probes p JOIN from c ON on`, ranked
    * by `score` — named `name`. */
  private def sqlTop3Cte(name: String, score: String, from: String = "b",
      on: String = "p.a_id <> c.vec_id"): String =
    s"""$name AS (SELECT a_id, b_id FROM (
          SELECT p.a_id, c.vec_id AS b_id,
            row_number() OVER (PARTITION BY p.a_id
              ORDER BY $score DESC, c.vec_id ASC) AS rn
          FROM probes p JOIN $from c ON $on) t WHERE rn <= 3)"""

  /** DuckDB mirror of [[truthTop3]]: the `truth` CTE over `from`'s e. */
  private def sqlTruthCte(from: String = "b"): String =
    sqlTop3Cte("truth", sqlCos("p.ae", "c.e"), from)

  /** The recall@3 tail: every panel probe (a probe with no hit reads 0),
    * `extra` columns between a_id and recall_at_3. `hits` carries
    * (a_id, n_hit). */
  private def recallAt3(probes: DataFrame, hits: DataFrame,
      extra: Column*): DataFrame =
    probes.select(col("a_id")).join(hits, Seq("a_id"), "left")
      .select((col("a_id") +: extra :+
        (coalesce(col("n_hit"), lit(0L)).cast("double") / lit(3.0))
          .as("recall_at_3")): _*)

  /** DuckDB mirror of [[recallAt3]]'s final select over a `hits` CTE. */
  private val sqlRecallSelect: String =
    """SELECT p.a_id,
          CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 3.0 AS recall_at_3
        FROM probes p LEFT JOIN hits h ON p.a_id = h.a_id"""

  /** The `hits` CTE (truth ∩ `approx` per probe) and the recall select. */
  private def sqlRecallTail(approx: String): String =
    s"""hits AS (SELECT t.a_id, CAST(COUNT(*) AS BIGINT) AS n_hit
          FROM truth t JOIN $approx a ON t.a_id = a.a_id AND t.b_id = a.b_id
          GROUP BY 1)
        $sqlRecallSelect"""

  /** The valid embeddings as (vec_id, `as`: array<double>). */
  private def embAsDouble(s: SparkSession, d: String, as: String): DataFrame =
    Tables.validEmbeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as(as))

  /** DuckDB mirror of [[embAsDouble]]: CTE `name` (vec_id, e). */
  private def sqlEmbCte(name: String): String =
    s"""$name AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings WHERE $sqlValidEmb)"""

  /** The valid embeddings L2-normalised (VectorSearch.normalized) as
    * (vec_id, emb). */
  private def normalizedEmb(s: SparkSession, d: String): DataFrame =
    VectorSearch.normalized(Tables.validEmbeddings(s, d), "vec_id", "embedding")

  /** DuckDB mirror of [[normalizedEmb]]: `v` (doubles) and `b` (normalised,
    * zero vectors passed through) CTEs. */
  private val sqlNormalizedCtes: String =
    s"""${sqlEmbCte("v")},
        b AS (SELECT vec_id, CASE WHEN ${sqlNorm("e")} = 0 THEN e
            ELSE list_transform(e, x -> x / ${sqlNorm("e")}) END AS e
          FROM v)"""

  /** The probe row's vector CTE `q` (vec_id = 0 of `from`). */
  private def sqlProbeCte(from: String): String =
    s"q AS (SELECT e AS qe FROM $from WHERE vec_id = 0)"

  // The PINNED quantizers: the oracle-replayable degenerate training the
  // *_pinned queries and their audits run through the production code
  // path — centroids = the 8 lowest-id vectors verbatim (0 Lloyd steps),
  // PQ codebooks = the m=8 subvectors of the 16 lowest-id vectors (0
  // refinement steps).

  /** The pinned IVF index over the valid embeddings' raw vectors. */
  private def pinnedIvf(emb: DataFrame): (Seq[Seq[Double]], DataFrame) =
    VectorSearch.ivfIndex(emb, "vec_id", "embedding", k = 8, iters = 0)

  /** The pinned PQ codebooks over a (vec_id, emb) frame. */
  private def pinnedPqBooks(base: DataFrame): Seq[Seq[Seq[Double]]] =
    VectorSearch.pqTrain(base, "vec_id", "emb", m = 8, k = 16, sample = 16,
      iters = 0)

  /** The pinned IVF-PQ index over a (vec_id, emb) frame. */
  private def pinnedIvfPq(base: DataFrame)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]], DataFrame) =
    VectorSearch.ivfPqIndex(base, "vec_id", "emb", kCells = 8, m = 8,
      k = 16, iters = 0, sample = 16, pqIters = 0)

  /** DuckDB mirror of the pinned centroids: `c` (cell, ce) over `from`. */
  private def sqlPinnedCentroidsCte(from: String): String =
    s"""c AS (SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cell,
            e AS ce
          FROM $from ORDER BY vec_id ASC LIMIT 8)"""

  /** The probe-to-cell rank (nearest centroid first, ties to the lower
    * cell) over `c` and `q` — the mirror of VectorSearch.rankCells. */
  private val sqlCellRank: String =
    s"""row_number() OVER (
                ORDER BY ${sqlCos("c.ce", "qe")} DESC, c.cell ASC)"""

  /** The nprobe=2 probed cells `pc` of the pinned index. */
  private val sqlProbeCellsCte: String =
    s"""pc AS (SELECT cell FROM (
            SELECT c.cell, $sqlCellRank AS rn
            FROM c, q) t WHERE rn <= 2)"""

  /** DuckDB mirror of the pinned PQ training + encoding over vector column
    * `vec` of relation `from`: codebooks `cb` (ci, c<vec>), their m=8
    * subvectors `sub` (ci, j, c), and the codes `enc` (vec_id, j, ci) by
    * the expanded-form L2 argmin ‖c‖² − 2·x·c, ties to the lower ci. */
  private def sqlPinnedPqCtes(from: String, vec: String): String =
    s"""cb AS (SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS ci,
            $vec AS c$vec
          FROM $from ORDER BY vec_id ASC LIMIT 16),
        sub AS (SELECT ci, j,
            c$vec[CAST(j*8+1 AS INT):CAST(j*8+8 AS INT)] AS c
          FROM cb, (SELECT unnest(range(0, 8)) AS j) jj),
        enc AS (SELECT vec_id, j, ci FROM (
            SELECT w.vec_id, s.j, s.ci,
              row_number() OVER (PARTITION BY w.vec_id, s.j ORDER BY
                (list_sum(list_transform(s.c, x -> x * x))
                  - 2.0e0 * list_sum(list_transform(list_zip(
                      w.$vec[CAST(s.j*8+1 AS INT):CAST(s.j*8+8 AS INT)], s.c),
                    p -> p[1] * p[2]))) ASC,
                s.ci ASC) AS rn
            FROM $from w, sub s) t WHERE rn = 1)"""

  /** DuckDB mirror of [[pinnedIvfPq]] over the normalised vectors: the
    * pinned centroids `c`, the argmax-cosine cell assignment `ac`, the
    * residuals `res` (vec_id, cell, ce, r) and the pinned PQ chain over r. */
  private lazy val sqlPinnedIvfPqCtes: String =
    s"""$sqlNormalizedCtes,
        ${sqlPinnedCentroidsCte("b")},
        ac AS (SELECT vec_id, e, cell, ce FROM (
            SELECT w.vec_id, w.e, c.cell, c.ce,
              row_number() OVER (PARTITION BY w.vec_id
                ORDER BY ${sqlCos("w.e", "c.ce")} DESC, c.cell ASC) AS rn
            FROM b w, c) t WHERE rn = 1),
        res AS (SELECT vec_id, cell, ce,
            list_transform(list_zip(e, ce), p -> p[1] - p[2]) AS r
          FROM ac),
        ${sqlPinnedPqCtes("res", "r")}"""

  private def bucketed(s: SparkSession, d: String): DataFrame =
    Tables.validEmbeddings(s, d).select(
      col("vec_id"),
      asDouble(col("embedding")).as("emb"),
      signBucket(col("embedding"), derivedBits(s, d)).as("bucket"))

  /** Per-bucket candidate cap for every in-bucket pair family (e03/e04/
    * d42/e41/e42). Corpus-derived bits keep the EXPECTED bucket at
    * ~TargetBucket, but join OUTPUT volume is Σ g² and real embedding
    * corpora are anisotropic (vectors concentrate in few sign-LSH
    * orthants — e32 audits exactly this, e10 centering is the fix): a
    * hot orthant of 10⁶ vectors would make an uncapped bucket join
    * quadratic in that bucket. The cap routes candidate generation
    * through [[graft.operators.NearDup.cappedBuckets]] — a row_number ≤
    * cap+1 slice (map-side WindowGroupLimit) BEFORE pair expansion, so a
    * mega-bucket costs O(cap) rows per map task and its pair volume is
    * dropped whole (the same all-or-nothing trade the text side took in
    * round 16; recall on a pathological orthant is sacrificed for the
    * hard bound, and the e32-audit → e10-center procedure is how a real
    * deployment keeps orthants balanced). 4 × TargetBucket: comfortably
    * above every fixture's max bucket (46 at sf0.1), so the uncapped
    * DuckDB oracles agree wherever they run. */
  private[queries] val CandCap = 128

  /** The capped candidate-pair frame shared by the in-bucket families:
    * group by bucket with the pre-expansion CandCap slice, expand i<j
    * pairs, and compute the pair cosine ONCE — cosine(a,b) ≡ cosine(b,a)
    * bitwise (the dot fold multiplies commutatively per element and the
    * two norm factors commute), so callers needing both directions
    * explode the pair rather than re-scoring. vs the former bucket
    * self-join: ONE corpus scan instead of two, ONE bucket exchange
    * instead of two (the NearDup groupBy-vs-self-join argument), and
    * half the cosine evaluations for the directed consumers. Pairs come
    * out as struct columns a/b with a.vec_id < b.vec_id (docs arrays are
    * sorted; the expansion is upper-triangular). */
  private def cappedBucketPairs(b: DataFrame, extraCols: String*): DataFrame = {
    val payload = struct((Seq("vec_id", "emb") ++ extraCols).map(col): _*)
    val grouped = graft.operators.NearDup.cappedBuckets(
      b, Seq("bucket"), payload, col("vec_id"), CandCap)
    graft.operators.NearDup.pairsWithinBuckets(grouped)
      .withColumn("cos_sim", cosine(col("a.emb"), col("b.emb")))
  }

  /** e42's semantic-dedup τ sweep. MinTau (the loosest operating point)
    * is ALSO the pair pre-filter in BOTH engines — derived from the list,
    * never duplicated, so widening the sweep can't silently under-collect
    * candidate pairs (the d103 CapK pattern; round-20 ADVICE item 2). */
  private[queries] val SweepTaus: Seq[Double] = Seq(0.4, 0.45, 0.5)
  private[queries] val MinTau: Double = SweepTaus.min
  private val sqlTauList: String =
    SweepTaus.map(t => s"${t}e0").mkString("[", ", ", "]")

  val all: Seq[GraftQuery] = Seq(

    // ---- brute-force cosine top-k vs the vec_id=0 probe ------------------
    GraftQuery(
      "e01_cosine_topk",
      (s, d) => VectorSearch.bruteTopK(
        Tables.validEmbeddings(s, d), "vec_id", "embedding",
        probeId = 0L, k = 10),
      Some(s"""WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
          FROM embeddings WHERE vec_id = 0 AND $sqlValidEmb),
        c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings WHERE vec_id <> 0 AND $sqlValidEmb)
        SELECT vec_id, ${sqlCos("e", "qe")} AS cos_sim
        FROM c, q
        ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""")),

    // ---- LSH bucket assignment -------------------------------------------
    GraftQuery(
      "e02_lsh_buckets",
      (s, d) => bucketed(s, d).select(col("vec_id"), col("bucket")),
      Some(s"""WITH $sqlBitsCte
        SELECT vec_id, ${sqlSignBucket("embedding", "bits")} AS bucket
        FROM embeddings, nb WHERE $sqlValidEmb""")),

    // ---- bucketed ANN: top-3 neighbors within each vector's bucket -------
    // Candidates come from the CandCap-capped in-bucket pair frame
    // (2^bits groups, bits corpus-derived so groups stay ~TargetBucket-
    // sized; the pre-expansion slice bounds a hot orthant at O(CandCap)).
    // Each unordered pair scores ONE symmetric cosine and explodes into
    // both directions; row_number ≤ 3 gets map-side WindowGroupLimit
    // before the shuffle on a_id.
    GraftQuery(
      "e03_bucket_ann",
      (s, d) => {
        val w = Window.partitionBy(col("a_id"))
          .orderBy(col("cos_sim").desc, col("b_id").asc)
        cappedBucketPairs(bucketed(s, d))
          .select(explode(array(
            struct(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id")),
            struct(col("b.vec_id").as("a_id"), col("a.vec_id").as("b_id"))))
            .as("p"), col("cos_sim"))
          .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"),
            col("cos_sim"))
          .withColumn("rn", row_number().over(w).cast("bigint"))
          .filter(col("rn") <= 3)
          .select(col("a_id"), col("rn"), col("b_id"), col("cos_sim"))
      },
      Some(s"""WITH $sqlBitsCte,
        b AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
          ${sqlSignBucket("embedding", "bits")} AS bucket
        FROM embeddings, nb WHERE $sqlValidEmb),
        p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
            ${sqlCos("a.e", "b.e")} AS cos_sim
          FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        r AS (SELECT a_id, b_id, cos_sim,
            row_number() OVER (PARTITION BY a_id
              ORDER BY cos_sim DESC, b_id ASC) AS rn
          FROM p)
        SELECT a_id, rn, b_id, cos_sim FROM r WHERE rn <= 3""")),

    // ---- embedding-cosine near-dup pairs (LSH-bucketed, thresholded) -----
    GraftQuery(
      "e04_embedding_neardup",
      (s, d) => cappedBucketPairs(bucketed(s, d))
        .filter(col("cos_sim") >= 0.4)
        .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
          col("cos_sim")),
      Some(s"""WITH $sqlBitsCte,
        b AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
          ${sqlSignBucket("embedding", "bits")} AS bucket
        FROM embeddings, nb WHERE $sqlValidEmb)
        SELECT a.vec_id AS a_id, b.vec_id AS b_id, ${sqlCos("a.e", "b.e")} AS cos_sim
        FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE ${sqlCos("a.e", "b.e")} >= 0.4""")),

    // ---- embedding near-dup clustering (linear output; oracle = the
    // same window-min in SQL) ---------------------------------------------
    GraftQuery(
      "e06_embedding_clusters",
      (s, d) => VectorSearch
        .signLshRepresentatives(Tables.validEmbeddings(s, d), "vec_id", "embedding",
          derivedBits(s, d)),
      Some(s"""WITH $sqlBitsCte
        SELECT vec_id,
          MIN(vec_id) OVER (PARTITION BY ${sqlSignBucket("embedding", "bits")})
            AS rep_id
        FROM embeddings, nb WHERE $sqlValidEmb""")),

    // ---- ANN recall@3: bucketed-LSH answers vs brute-force truth ---------
    // The evaluation harness every approximate index needs: on the probe
    // panel, compare the e03-style in-bucket top-3 against the exact
    // cosine top-3 and emit per-probe recall. The ANN side is the usual
    // bucket join.
    GraftQuery(
      "e07_ann_recall",
      (s, d) => {
        val bb = bucketed(s, d)
        val probes = bb.filter(probePanel(s, d))
          .select(col("vec_id").as("a_id"), col("emb").as("a_emb"),
            col("bucket"))
        val truth = truthTop3(bb, probes.select(col("a_id"), col("a_emb")),
          "cos_sim")
        val ann = top3(probes
          .join(bb.select(col("vec_id").as("b_id"), col("emb").as("b_emb"),
              col("bucket").as("bucket_b")),
            col("bucket") === col("bucket_b") && col("a_id") =!= col("b_id"))
          .withColumn("cos_sim", cosine(col("a_emb"), col("b_emb"))),
          "cos_sim")
        val hits = truth.join(ann, Seq("a_id", "b_id"))
          .groupBy(col("a_id")).agg(count(lit(1)).as("n_hit"))
        recallAt3(probes, hits)
      },
      Some(s"""WITH $sqlBitsCte,
        b AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
          ${sqlSignBucket("embedding", "bits")} AS bucket
        FROM embeddings, nb WHERE $sqlValidEmb),
        ${sqlProbesCte("e AS ae, bucket")},
        ${sqlTruthCte()},
        ${sqlTop3Cte("ann", sqlCos("p.ae", "c.e"),
          on = "p.bucket = c.bucket AND p.a_id <> c.vec_id")},
        ${sqlRecallTail("ann")}""")),

    // ---- IVF ANN top-k (coarse quantizer + nprobe cells) -----------------
    // No SQL oracle (k-means-lite centroids from a custom Aggregator);
    // driver records the rows-only check — always k rows.
    GraftQuery(
      "e05_ivf_topk",
      (s, d) => {
        val emb = Tables.validEmbeddings(s, d)
        // Cell count scales with the corpus (the standard nlist ≈ √n), so
        // a cell stays ~√n vectors instead of a fixed 1/8 of all rows —
        // the same fixed-fan-out straggler the LSH bits fix addressed
        // (round-5 What's-wrong #4). nprobe follows at ~12% of cells
        // (min 2), holding recall roughly constant as nlist grows. The
        // √n-row quantizer remains driver-scale at any corpus size.
        val n = ivfCorpusSize(s, d)
        val cells = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
        val (centroids, assigned) =
          VectorSearch.ivfIndex(emb, "vec_id", "embedding", k = cells,
            iters = 1)
        VectorSearch.ivfTopK(assigned, centroids, "vec_id",
          probeId = 0L, k = 10, nprobe = math.max(2, cells / 8))
      },
      None),

    // ---- int8 scalar quantization (embedding compression) ---------------
    // The storage-side half of an ANN index: per-vector min/max affine
    // int8 quantization (the faiss SQ8 scheme) — code_i = clamp(floor(
    // (x_i - mn) * 256 / (mx - mn)), 0..255) — plus the max absolute
    // reconstruction error of the midpoint dequantizer. One narrow
    // codegen'd projection, zero shuffles: at 100 TB this is a scan-fused
    // rewrite pass (4× storage cut for float32 embeddings).
    //
    // Cross-engine exactness: float→double casts are exact; the quantize
    // and dequantize expressions are written with IDENTICAL operation
    // order in both engines ((x-mn)*256/scl, mn+(c+0.5)*scl/256), so
    // every intermediate double is bit-equal; floor/least/abs are exact.
    // Constant vectors (scl = 0) pin code 0 / error 0 on both sides
    // rather than dividing by zero.
    GraftQuery(
      "e08_scalar_quantize",
      (s, d) => {
        val xs = transform(col("embedding"), x => x.cast("double"))
        // greatest(0, ..): no-op for finite inputs (x >= mn by
        // construction) but makes the documented clamp(0..255) literal —
        // a NaN element can't smuggle engine-specific semantics through
        // the lower bound. Mirrored verbatim in the oracle SQL.
        val code = (x: Column) =>
          when(col("scl") === 0.0, lit(0L))
            .otherwise(greatest(lit(0L), least(lit(255L),
              floor((x - col("mn")) * 256.0 / col("scl")))))
        val err = (x: Column) =>
          when(col("scl") === 0.0, lit(0.0))
            .otherwise(abs(x - (col("mn") +
              (code(x).cast("double") + 0.5) * col("scl") / 256.0)))
        Tables.validEmbeddings(s, d)
          .withColumn("xs", xs)
          .withColumn("mn", array_min(col("xs")))
          .withColumn("mx", array_max(col("xs")))
          .withColumn("scl", col("mx") - col("mn"))
          .select(col("vec_id"),
            col("mn").as("q_min"), col("mx").as("q_max"),
            aggregate(transform(col("xs"), code), lit(0L), _ + _)
              .as("code_sum"),
            array_max(transform(col("xs"), err)).as("max_err"))
      },
      Some(s"""WITH e AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
        FROM embeddings WHERE $sqlValidEmb),
        s AS (SELECT vec_id, xs, list_min(xs) AS mn, list_max(xs) AS mx,
          list_max(xs) - list_min(xs) AS scl FROM e)
        SELECT vec_id, mn AS q_min, mx AS q_max,
          CAST(list_sum(list_transform(xs, x -> CASE WHEN scl = 0 THEN 0
            ELSE GREATEST(0, LEAST(255,
              CAST(floor((x - mn) * 256.0 / scl) AS BIGINT)))
            END)) AS BIGINT) AS code_sum,
          list_max(list_transform(xs, x -> CASE WHEN scl = 0 THEN 0.0
            ELSE abs(x - (mn + (CAST(GREATEST(0, LEAST(255,
              CAST(floor((x - mn) * 256.0 / scl) AS BIGINT))) AS DOUBLE)
              + 0.5) * scl / 256.0)) END))
            AS max_err
        FROM s""")),

    // ---- Matryoshka truncation quality: recall@3 of prefix-dim search ----
    // The eval behind "store a D'-dim prefix for coarse search, full-D
    // for rerank" (Matryoshka-representation truncation): rank the corpus
    // by cosine over the FIRST TruncDims dims and score recall@3 against
    // the full-dim brute-force truth, per probe. Same bounded probe
    // sample as e07, so the two recall reports (bucketed-LSH vs
    // truncated-dim) are directly comparable per probe id.
    //
    // Scale shape (same argument as e07's truth side): the probe set is
    // bounded (~n/100, broadcast); each ranking is one narrow scan of the
    // corpus against the broadcast probes with a per-probe top-3 window —
    // never a corpus self-join. The truncated side's scan reads 4× fewer
    // bytes once the prefix is stored as its own column/index file; here
    // both sides scan the same column and `slice` does the truncation.
    //
    // Cross-engine exactness: slice(emb,1,16) == DuckDB e[1:16] (both
    // 1-based inclusive); cosine folds are bit-identical per the module
    // contract; ties broken by vec_id in both engines.
    GraftQuery(
      "e09_matryoshka_recall",
      (s, d) => {
        val emb = embAsDouble(s, d, "emb")
        // The prefix slice is taken ONCE PER ROW on each side of the probe
        // join (e16's per-row projection pattern) — sliced inside the
        // pair-level cosine it paid 2 slice allocations per candidate PAIR
        // (n·|probes| of each) instead of per row. Same values, same plan
        // topology; only the evaluation point moves below the crossJoin.
        val probes = emb.filter(probePanel(s, d))
          .select(col("vec_id").as("a_id"), col("emb").as("a_emb"),
            slice(col("emb"), 1, TruncDims).as("a_tr"))
        // ONE scoring pass: both cosines on the same broadcast-probe scan,
        // both ranks over the same a_id exchange (two sorts, one
        // shuffle). A member of both top-3s ⟺ rn_full ≤ 3 ∧ rn_trunc ≤ 3,
        // so the intersection needs no self-join of two ranked frames
        // (which would score the corpus twice — measured 2× at sf0.1).
        val scored = emb.select(col("vec_id").as("b_id"), col("emb").as("b_emb"),
            slice(col("emb"), 1, TruncDims).as("b_tr"))
          .crossJoin(broadcast(probes))
          .filter(col("a_id") =!= col("b_id"))
          .withColumn("cos_full", cosine(col("a_emb"), col("b_emb")))
          .withColumn("cos_tr", cosine(col("a_tr"), col("b_tr")))
        def rankW(c: Column) = Window.partitionBy(col("a_id"))
          .orderBy(c.desc, col("b_id").asc)
        val hits = scored
          .withColumn("rn_full", row_number().over(rankW(col("cos_full"))))
          .withColumn("rn_tr", row_number().over(rankW(col("cos_tr"))))
          .filter(col("rn_full") <= 3 && col("rn_tr") <= 3)
          .groupBy(col("a_id")).agg(count(lit(1)).as("n_hit"))
        recallAt3(probes, hits)
      },
      Some(s"""WITH ${sqlEmbCte("b")},
        ${sqlProbesCte()},
        ${sqlTruthCte()},
        ${sqlTop3Cte("trunc",
          sqlCos(s"p.ae[1:$TruncDims]", s"c.e[1:$TruncDims]"))},
        ${sqlRecallTail("trunc")}""")),

    // ---- per-dim mean centering (whitening/PCA preprocessing pass) -------
    // The global-statistics rewrite every embedding pipeline runs before
    // PCA/whitening/quantizer training: per-dimension corpus mean, then
    // each vector re-expressed against it. Scale shape: pass 1 is a
    // constant-size aggregate (64 decimal sums + a count — map-side
    // combinable, no key skew possible); the 1-row means array broadcasts
    // back (the d24/d32 tiny-broadcast pattern); pass 2 is a narrow
    // scan-fused projection. At 100 TB this is the canonical two-pass
    // stats job: nothing grows with the corpus but the scans.
    //
    // Cross-engine exactness: per-element round(x, 6) → DECIMAL(18,6)
    // sums are exact and order-free (the d32 technique); sum×10^6 fits
    // long precision, so the decimal→double cast is exact in both
    // engines, and the single double division (sum/n) then matches
    // bit-for-bit. The centering fold is the module's strict
    // left-to-right contract.
    GraftQuery(
      "e10_mean_center",
      (s, d) => {
        val e = embAsDouble(s, d, "xs")
        val means = e.select(posexplode(col("xs")).as(Seq("pos", "x")))
          .groupBy(col("pos"))
          .agg((sum(round(col("x"), 6).cast("decimal(18,6)")).cast("double")
            / count(lit(1)).cast("double")).as("mu"))
        val ma = means.agg(expr(
          "transform(sort_array(collect_list(struct(pos, mu))), s -> s.mu)")
          .as("mus"))
        e.crossJoin(broadcast(ma))
          .select(col("vec_id"),
            norm(col("xs")).as("raw_norm"),
            sqrt(aggregate(
              zip_with(col("xs"), col("mus"), (x, mu) => (x - mu) * (x - mu)),
              lit(0.0), (acc, v) => acc + v)).as("centered_norm"))
      },
      Some(s"""WITH $sqlDimMeanCtes
        SELECT vec_id,
          ${sqlNorm("xs")} AS raw_norm,
          sqrt(list_sum(list_transform(list_zip(xs, mus),
            p -> (p[1] - p[2]) * (p[1] - p[2])))) AS centered_norm
        FROM e, ma""")),

    // ---- 1-bit binary quantization + Hamming coarse pass + float rerank --
    // The binary-quantized search tier (the faiss-BQ / "binary passage
    // retrieval" scheme): each 64-dim embedding collapses to ONE sign bit
    // per dim, packed into two 32-bit words (bit 63 is never set, so the
    // BIGINT words can't sign-overflow in either engine). Coarse pass
    // ranks the corpus per probe by Hamming distance — bit_count(xor) on
    // two machine words, a 32× memory cut vs float32 — then the top-8
    // coarse survivors are reranked by EXACT cosine to a final top-3.
    // This is e08's storage story taken to its limit plus e07's
    // eval-before-trusting discipline in one operator: the rerank is what
    // production systems do about BQ's resolution loss.
    //
    // Scale shape: probes broadcast against the corpus (narrow scan, no
    // corpus shuffle — e07's pattern); the only exchange keys on a_id,
    // and row_number ≤ 8 gets map-side WindowGroupLimit before it. The
    // rerank window repartitions on the SAME key, so Catalyst plans one
    // exchange for both windows; exact cosine runs on probes×8 rows only.
    // At 100 TB the coarse scan is memory-bandwidth-bound over 8 B/vec
    // (vs 256 B float) — the whole point of the operator.
    //
    // Determinism: Hamming is integer; both windows tie-break on b_id;
    // cosine is the strict left-to-right fold mirrored by sqlCos.
    GraftQuery(
      "e11_hamming_rerank",
      (s, d) => {
        val base = Tables.validEmbeddings(s, d).select(
          col("vec_id"), asDouble(col("embedding")).as("emb"),
          signWord(col("embedding"), 0).as("w0"),
          signWord(col("embedding"), 32).as("w1"))
        val probes = base.filter(probePanel(s, d))
          .select(col("vec_id").as("a_id"), col("emb").as("a_emb"),
            col("w0").as("a_w0"), col("w1").as("a_w1"))
        val wH = Window.partitionBy(col("a_id"))
          .orderBy(col("hamming").asc, col("b_id").asc)
        val wC = Window.partitionBy(col("a_id"))
          .orderBy(col("cos_sim").desc, col("b_id").asc)
        base.select(col("vec_id").as("b_id"), col("emb").as("b_emb"),
            col("w0").as("b_w0"), col("w1").as("b_w1"))
          .crossJoin(broadcast(probes))
          .filter(col("a_id") =!= col("b_id"))
          .withColumn("hamming",
            (bit_count(col("a_w0").bitwiseXOR(col("b_w0"))) +
              bit_count(col("a_w1").bitwiseXOR(col("b_w1")))).cast("bigint"))
          .withColumn("rn_h", row_number().over(wH))
          .filter(col("rn_h") <= 8)
          .withColumn("cos_sim", cosine(col("a_emb"), col("b_emb")))
          .withColumn("rn", row_number().over(wC).cast("bigint"))
          .filter(col("rn") <= 3)
          .select(col("a_id"), col("rn"), col("b_id"), col("hamming"),
            col("cos_sim"))
      },
      Some(s"""WITH b AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
          ${sqlSignWord("embedding", 0)} AS w0,
          ${sqlSignWord("embedding", 32)} AS w1
        FROM embeddings WHERE $sqlValidEmb),
        ${sqlProbesCte("e AS ae, w0 AS aw0, w1 AS aw1")},
        h AS (SELECT p.a_id, c.vec_id AS b_id, p.ae, c.e,
            CAST(bit_count(xor(p.aw0, c.w0)) + bit_count(xor(p.aw1, c.w1))
              AS BIGINT) AS hamming
          FROM probes p JOIN b c ON p.a_id <> c.vec_id),
        coarse AS (SELECT a_id, b_id, ae, e, hamming FROM (
          SELECT h.*, row_number() OVER (PARTITION BY a_id
            ORDER BY hamming ASC, b_id ASC) AS rn_h FROM h) t
          WHERE rn_h <= 8)
        SELECT a_id, rn, b_id, hamming, cos_sim FROM (
          SELECT a_id, b_id, hamming, ${sqlCos("ae", "e")} AS cos_sim,
            row_number() OVER (PARTITION BY a_id
              ORDER BY ${sqlCos("ae", "e")} DESC, b_id ASC) AS rn
          FROM coarse) t WHERE rn <= 3""")),

    // ---- paraphrase pairs: semantic near-dups that are NOT lexical -------
    // The SemDeDup finding operationalized: pairs whose EMBEDDINGS say
    // near-duplicate (e04's LSH-bucketed cosine ≥ 0.4, vec_id ≡ doc_id —
    // the corpus's embedding column) but whose TEXT does not (no verified
    // 3-gram-jaccard ≥ 0.5 pair from d09's generator) — rephrasings,
    // translations-of-boilerplate, and template variants that every
    // lexical dedup family (d04-d17) structurally misses. This is the
    // composite a real pipeline runs AFTER lexical dedup: lexical dups
    // are cheaper to kill first; what remains here is the semantic-only
    // tail.
    //
    // Scale shape: both inputs are the engine's bounded pair generators
    // (LSH-bucketed, capped — linear-ish output, never all-pairs); the
    // subtraction is a left-anti join keyed on the (a_id, b_id) pair —
    // it shuffles only the two pair tables, never a corpus payload. Both
    // generators emit a_id < b_id, so pair identity needs no
    // normalization.
    GraftQuery(
      "d42_paraphrase_pairs",
      (s, d) => {
        val sem = cappedBucketPairs(bucketed(s, d))
          .filter(col("cos_sim") >= 0.4)
          .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
            col("cos_sim"))
        val lex = TextQueries.candidatePairs(s, d)
          .filter(col("jaccard") >= 0.5)
          .select(col("a_id"), col("b_id"))
        sem.join(lex, Seq("a_id", "b_id"), "left_anti")
      },
      Some(s"""${TextQueries.sqlMinhashCte}, ${TextQueries.sqlMinhashCappedCte},
        $sqlBitsCte,
        b AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
          ${sqlSignBucket("embedding", "bits")} AS bucket
        FROM embeddings, nb WHERE $sqlValidEmb),
        sem AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
            ${sqlCos("a.e", "b.e")} AS cos_sim
          FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
          WHERE ${sqlCos("a.e", "b.e")} >= 0.4),
        lex AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM mhc a JOIN mhc b
            ON a.minhash = b.minhash AND a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.shingle_set, b.shingle_set)) AS DOUBLE) /
            CAST(len(list_distinct(list_concat(a.shingle_set, b.shingle_set))) AS DOUBLE)
            >= 0.5)
        SELECT s.a_id, s.b_id, s.cos_sim FROM sem s
        WHERE NOT EXISTS (SELECT 1 FROM lex l
          WHERE l.a_id = s.a_id AND l.b_id = s.b_id)""")),

    // ---- top-variance dimension selection recall (PCA-proxy eval) --------
    // e09 asked "how much recall does the FIRST-16-dims prefix keep?"
    // (Matryoshka — assumes the embedding was trained prefix-first). This
    // is the eval for embeddings that WEREN'T: rank dimensions by corpus
    // variance (the energy ordering a PCA rotation would formalize — for
    // axis-aligned selection, top-variance coordinates are the best
    // k-subset under the same criterion), search on the top-16, score
    // recall@3 against full-dim truth on the shared probe sample. Read
    // e09 vs e12 side by side to decide prefix-store vs variance-mask for
    // a 4× coarse-tier cut.
    //
    // Scale shape: pass 1 is e10's constant-size per-dim stats aggregate
    // (64 keys, map-side combinable — decimal Σx and Σx², exact and
    // order-free); the 1-row dims array broadcasts; the scoring pass is
    // e09's single-scan dual ranking (both cosines on one broadcast-probe
    // scan, both ranks over one a_id exchange — never a corpus self-join).
    //
    // Cross-engine exactness: variance ranks compare identical doubles
    // ((sx2 - sx·sx/n)/n, same op order both engines; decimal sums make
    // the inputs exact), ties break on dim index; the gathered subvector
    // keeps rank order on both sides, and cosine is the module's strict
    // left-to-right fold.
    GraftQuery(
      "e12_topvar_recall",
      (s, d) => {
        val e = embAsDouble(s, d, "xs")
        // The 16-entry top-variance dim list is a BOUNDED collect at
        // DataFrame-construction time (the e17 cell-rank pattern: a
        // 64-row aggregate folded to one array row, deterministic, inlined
        // as plan literals) — as a joined 1-row frame it forced the
        // gather `transform(dims, i -> element_at(emb, i))` to run as an
        // interpreted lambda per candidate PAIR (2 lambdas + 2 allocs ×
        // n·|probes|). Collected, the gather becomes a static
        // element_at chain evaluated ONCE PER ROW on each side of the
        // probe join (e16's per-row projection pattern). Values are
        // unchanged: same variance aggregate, same dims, same cosines
        // (bench 2.65 -> ~0.9 s at sf0.1).
        val dimsSeq: Seq[Int] = e
          .select(posexplode(col("xs")).as(Seq("pos0", "x")))
          .groupBy(col("pos0"))
          .agg(
            sum(round(col("x"), 6).cast("decimal(18,6)")).cast("double")
              .as("sx"),
            sum(round(col("x") * col("x"), 6).cast("decimal(18,6)"))
              .cast("double").as("sx2"),
            count(lit(1)).cast("double").as("n"))
          .select((col("pos0") + 1).cast("int").as("pos"),
            ((col("sx2") - col("sx") * col("sx") / col("n")) / col("n"))
              .as("variance"))
          .agg(expr(s"""transform(
            slice(array_sort(collect_list(struct(-variance AS nv, pos AS pos))),
              1, $TruncDims),
            t -> t.pos)""").as("dims"))
          .head().getSeq[Int](0)
        def gather(xs: Column): Column =
          if (dimsSeq.isEmpty) typedlit(Seq.empty[Double])
          else array(dimsSeq.map(i => element_at(xs, i)): _*)
        val probes = e.filter(probePanel(s, d))
          .select(col("vec_id").as("a_id"), col("xs").as("a_emb"),
            gather(col("xs")).as("a_tv"))
        def rankW(c: Column) = Window.partitionBy(col("a_id"))
          .orderBy(c.desc, col("b_id").asc)
        val hits = e
          .select(col("vec_id").as("b_id"), col("xs").as("b_emb"),
            gather(col("xs")).as("b_tv"))
          .crossJoin(broadcast(probes))
          .filter(col("a_id") =!= col("b_id"))
          .withColumn("cos_full", cosine(col("a_emb"), col("b_emb")))
          .withColumn("cos_tv", cosine(col("a_tv"), col("b_tv")))
          .withColumn("rn_full", row_number().over(rankW(col("cos_full"))))
          .withColumn("rn_tv", row_number().over(rankW(col("cos_tv"))))
          .filter(col("rn_full") <= 3 && col("rn_tv") <= 3)
          .groupBy(col("a_id")).agg(count(lit(1)).as("n_hit"))
        recallAt3(probes, hits)
      },
      Some(s"""WITH ${sqlEmbCte("b")},
        el AS (SELECT unnest(e) AS x, unnest(range(1, len(e) + 1)) AS pos
          FROM b),
        m AS (SELECT pos,
          CAST(SUM(CAST(round(x, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sx2,
          CAST(COUNT(*) AS DOUBLE) AS n
          FROM el GROUP BY pos),
        v AS (SELECT CAST(pos AS INT) AS pos,
          (sx2 - sx * sx / n) / n AS variance FROM m),
        dm AS (SELECT (list(pos ORDER BY variance DESC, pos ASC))[1:$TruncDims]
          AS dims FROM v),
        ${sqlProbesCte()},
        ${sqlTruthCte()},
        tv AS (SELECT a_id, b_id FROM (
          SELECT p.a_id, c.vec_id AS b_id,
            row_number() OVER (PARTITION BY p.a_id
              ORDER BY ${sqlCos("list_transform(dims, i -> p.ae[i])",
                "list_transform(dims, i -> c.e[i])")} DESC,
                c.vec_id ASC) AS rn
          FROM probes p JOIN b c ON p.a_id <> c.vec_id, dm) t WHERE rn <= 3),
        ${sqlRecallTail("tv")}""")),

    // ---- PQ (product quantization) ADC recall eval -----------------------
    // The code-compression tier between SQ (e08) and binary signs (e11):
    // m=8 subspaces × k=16 codewords store a 64-dim vector as 8 nibbles
    // (256 B float32 → 4 B — 64×), and search scores codes WITHOUT
    // decoding the corpus: ADC(q, code) = q · reconstruct(code), a narrow
    // literal-lookup dot against the broadcast probe set, top-3 per probe
    // on the same single exchange as every recall eval (e07/e09/e12),
    // then recall@3 vs the exact-cosine truth. Vectors are L2-normalized
    // first so dot-ADC approximates cosine ranking. Codebooks come from
    // the driver-side bounded-sample Lloyd trainer
    // (VectorSearch.pqTrain — deterministic, documented-tiny, the e05
    // quantizer contract), so there is no SQL oracle: rows-only +
    // spec-anchored (NearDupSpec's PQ test).
    GraftQuery(
      "e13_pq_adc_recall",
      (s, d) => {
        val base = normalizedEmb(s, d)
        val books = VectorSearch.pqTrain(base, "vec_id", "emb", m = 8, k = 16)
        val encoded = base
          .withColumn("codes", VectorSearch.pqEncode(col("emb"), books))
        val probes = base.filter(probePanel(s, d))
          .select(col("vec_id").as("a_id"), col("emb").as("a_emb"))
        val truth = truthTop3(base, probes, "score")
        val adc = top3(encoded
          .select(col("vec_id").as("b_id"),
            VectorSearch.pqReconstruct(col("codes"), books).as("recon"))
          .crossJoin(broadcast(probes))
          .filter(col("a_id") =!= col("b_id"))
          .withColumn("score", dot(col("a_emb"), col("recon"))), "score")
        val hits = truth.join(adc, Seq("a_id", "b_id"))
          .groupBy(col("a_id")).agg(count(lit(1)).as("n_hit"))
        recallAt3(probes, hits)
      },
      None),

    // ---- IVF probe/cell geometry, ORACLE-CHECKABLE variant of e05 --------
    // e05 is rows-only because its centroids come out of Lloyd iterations
    // (a custom Aggregator DuckDB can't replay). This variant runs the
    // SAME production code path (VectorSearch.ivfIndex → cellOf →
    // ivfTopK) with the training degenerated to pure SQL: centroids = the
    // k=8 lowest-id vectors verbatim, 0 Lloyd steps — so the parts that
    // MATTER for correctness at scale (argmax-cosine cell assignment with
    // ties to the lower cell, nprobe=2 nearest-cell probe selection,
    // in-cell exact cosine top-10 with id tie-break, probe self-exclusion)
    // are pinned by DuckDB hash-match, exactly as d47/d38 pinned d12's
    // banded-LSH semantics. All cosines are the strict left-to-right fold
    // (bit-identical across engines per the module contract); the
    // centroid literals are exact float→double casts of fixture rows, so
    // both engines score identical doubles. e05 (√n cells, Lloyd-refined)
    // stays the production path.
    GraftQuery(
      "e14_ivf_pinned",
      (s, d) => {
        val (centroids, assigned) = pinnedIvf(Tables.validEmbeddings(s, d))
        VectorSearch.ivfTopK(assigned, centroids, "vec_id",
          probeId = 0L, k = 10, nprobe = 2)
          .withColumn("cell", col("cell").cast("bigint"))
      },
      Some(s"""WITH ${sqlEmbCte("v")},
        ${sqlPinnedCentroidsCte("v")},
        ac AS (SELECT vec_id, e, cell FROM (
            SELECT v.vec_id, v.e, c.cell,
              row_number() OVER (PARTITION BY v.vec_id
                ORDER BY ${sqlCos("v.e", "c.ce")} DESC, c.cell ASC) AS rn
            FROM v, c) t WHERE rn = 1),
        ${sqlProbeCte("v")},
        $sqlProbeCellsCte
        SELECT a.vec_id, ${sqlCos("a.e", "qe")} AS cos_sim,
          CAST(a.cell AS BIGINT) AS cell
        FROM ac a, pc, q
        WHERE a.cell = pc.cell AND a.vec_id <> 0
        ORDER BY cos_sim DESC, a.vec_id ASC LIMIT 10""")),

    // ---- PQ encode/ADC geometry, ORACLE-CHECKABLE variant of e13 ---------
    // e13 is rows-only because its codebooks come out of driver-side Lloyd
    // steps. Same degenerate-training move as e14: codebooks = the m=8
    // subvectors of the 16 lowest-id NORMALIZED vectors verbatim
    // (pqTrain with sample=16, iters=0 — seeds are the sample, zero
    // refinement), so the parts that matter at scale — the expanded-form
    // L2 argmin assignment ‖c‖²−2·x·c with ties to the lower codeword,
    // the literal-lookup reconstruction, and the ADC ranking q·recon(code)
    // as ONE strict 64-wide fold — run through the PRODUCTION code path
    // (pqEncode/pqReconstruct/native dot) and are pinned by DuckDB
    // hash-match. The oracle rebuilds the same codebooks in SQL (16
    // lowest ids, 8-element slices), assigns by the same expanded form
    // (list_sum folds are bit-identical to the Scala/codegen folds per
    // the module contract), reconstructs via flatten(list ORDER BY j),
    // and scores with the zip-fold dot. Codes emit as a CSV string —
    // engine-neutral, and it pins every per-subspace index, not just the
    // ranking. e13 (Lloyd-trained, recall-evaled) stays the production
    // path.
    GraftQuery(
      "e15_pq_pinned",
      (s, d) => {
        val base = normalizedEmb(s, d)
        val books = pinnedPqBooks(base)
        val probe = base.filter(col("vec_id") === 0)
          .select(col("emb").as("a_emb"))
        base
          .withColumn("codes", VectorSearch.pqEncode(col("emb"), books))
          .filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(probe))
          .select(col("vec_id").as("b_id"),
            array_join(col("codes"), ",").as("codes_str"),
            dot(col("a_emb"),
              VectorSearch.pqReconstruct(col("codes"), books))
              .as("adc_score"))
          .orderBy(col("adc_score").desc, col("b_id").asc)
          .limit(10)
      },
      Some(s"""WITH $sqlNormalizedCtes,
        ${sqlPinnedPqCtes("b", "e")},
        recon AS (SELECT e.vec_id,
            flatten(list(s.c ORDER BY e.j)) AS r,
            array_to_string(list(e.ci ORDER BY e.j), ',') AS codes_str
          FROM enc e JOIN sub s ON e.j = s.j AND e.ci = s.ci
          GROUP BY 1),
        ${sqlProbeCte("b")}
        SELECT r.vec_id AS b_id, r.codes_str,
          ${sqlDot("qe", "r.r")} AS adc_score
        FROM recon r, q WHERE r.vec_id <> 0
        ORDER BY adc_score DESC, b_id ASC LIMIT 10""")),

    // ---- dense random-projection (JL) recall eval ------------------------
    // Completes the dimensionality-reduction family: e09 keeps a PREFIX
    // (Matryoshka), e12 keeps the top-variance COORDINATES (data-
    // dependent), e16 MIXES all 64 dims into 16 via a dense ±1 projection
    // (Achlioptas' database-friendly JL construction — sign matrices have
    // the same distortion bound as Gaussian ones and cost only adds).
    // Unlike e09/e12 it has no preferred-axis assumption: it preserves
    // pairwise geometry for ANY embedding basis, which is why JL is the
    // standard pre-reduction before an index build when the embedding's
    // coordinate system is untrusted. Recall@3 vs the exact-cosine truth
    // is the tuning output, same harness as e09.
    //
    // Determinism/scale: the 16×64 sign matrix is DATA-INDEPENDENT —
    // derived once, driver-side, from md5("rp:k:j") high bits (the seed
    // procedure is the spec; no per-row hashing) and inlined as literal
    // arrays into BOTH plans, so the projection is a narrow codegen'd map
    // of 16 native dot products per row (the e13 ADC pattern: literals
    // beat a broadcast matrix join for a kilobyte of constants). The
    // 1/√16 JL scale factor is dropped: cosine is scale-invariant.
    // One scoring pass, both ranks over one a_id exchange (e09's
    // two-sorts-one-shuffle shape). Projected cosines are the SAME
    // strict-fold arithmetic in both engines (dot ≡ list_sum-of-zip).
    GraftQuery(
      "e16_randproj_recall",
      (s, d) => {
        val emb = embAsDouble(s, d, "emb")
        // Native sign projection (round 21): the array-of-16-dots tree
        // inlined 16 sign-row literals (~16 KB of plan text) and re-read
        // the child array per dot; SignProject is one node, one child
        // read, same strict left-to-right folds (parity pinned by
        // NearDupSpec's sign-projection test).
        def project(e: Column): Column =
          graft.functions.VectorExprs.signProject(e, rpSigns)
        val probes = emb.filter(probePanel(s, d))
          .select(col("vec_id").as("a_id"), col("emb").as("a_emb"),
            project(col("emb")).as("a_pe"))
        val scored = emb
          .select(col("vec_id").as("b_id"), col("emb").as("b_emb"),
            project(col("emb")).as("b_pe"))
          .crossJoin(broadcast(probes))
          .filter(col("a_id") =!= col("b_id"))
          .withColumn("cos_full", cosine(col("a_emb"), col("b_emb")))
          .withColumn("cos_pr", cosine(col("a_pe"), col("b_pe")))
        def rankW(c: Column) = Window.partitionBy(col("a_id"))
          .orderBy(c.desc, col("b_id").asc)
        val hits = scored
          .withColumn("rn_full", row_number().over(rankW(col("cos_full"))))
          .withColumn("rn_pr", row_number().over(rankW(col("cos_pr"))))
          .filter(col("rn_full") <= 3 && col("rn_pr") <= 3)
          .groupBy(col("a_id")).agg(count(lit(1)).as("n_hit"))
        recallAt3(probes, hits)
      },
      Some(s"""WITH ${sqlEmbCte("b")},
        pb AS (SELECT vec_id, e, ${sqlRpProj("e")} AS pe FROM b),
        ${sqlProbesCte("e AS ae, pe AS ape", "pb")},
        ${sqlTruthCte("pb")},
        ${sqlTop3Cte("pr", sqlCos("p.ape", "c.pe"), "pb")},
        ${sqlRecallTail("pr")}""")),

    // ---- IVF recall-vs-nprobe tuning sweep -------------------------------
    // The curve an index operator reads before fixing nprobe: recall@10
    // at nprobe ∈ {1, 2, 4} of e14's pinned IVF geometry (8 lowest-id
    // centroids, 0 Lloyd steps — the oracle-replayable quantizer;
    // production training is e05's). e07/e14 measure ONE operating point;
    // the sweep shows where recall saturates, i.e. what fraction of the
    // corpus you must touch for the recall you want.
    //
    // Scale shape: the probed subsets are NESTED (cell_rank ≤ 1 ⊂ ≤ 2 ⊂
    // ≤ 4), so one narrow scan scores cosine + cell_rank for every
    // vector, localCheckpoints (the d52 barrier — four consumers, one
    // scan, and the checkpointed rows are 3 scalars/vector, not the
    // embedding), and each sweep point + the exact truth is a bounded
    // TakeOrderedAndProject off that cache — never a corpus-sized window
    // (a global row_number rank would funnel the corpus through one
    // reducer). The probe-to-centroid ranking is VectorSearch.rankCells
    // (the production ivfTopK path, cross-engine-validated by e14's hash
    // match).
    GraftQuery(
      "e17_nprobe_sweep",
      (s, d) => {
        val (centroids, assigned) = pinnedIvf(Tables.validEmbeddings(s, d))
        val probe = VectorSearch.probeVector(assigned, "vec_id", 0L)
        if (centroids.isEmpty || probe.isEmpty) {
          import s.implicits._
          Seq.empty[(Int, Long, Double)]
            .toDF("nprobe", "n_hit", "recall_at_10")
        } else {
          val probeVec = probe.get
          // cell → 1-based rank by probe-centroid cosine (ties to the
          // lower cell, exactly ivfTopK's ordering)
          val rankByCell: Seq[Long] =
            VectorSearch.rankCells(probeVec, centroids).zipWithIndex
              .map { case (cell, r) => cell -> (r + 1).toLong }
              .sortBy(_._1).map(_._2)
          // shared barrier (reliable checkpoint when a dir is configured)
          val scored = graft.operators.Checkpoints.barrier(
            assigned.filter(col("vec_id") =!= 0L)
              .select(col("vec_id"),
                cosine(col("emb"), typedlit(probeVec)).as("cos_sim"),
                element_at(typedlit(rankByCell), col("cell") + 1)
                  .as("cell_rank")))
          val truth = scored
            .orderBy(col("cos_sim").desc, col("vec_id").asc).limit(10)
            .select(col("vec_id")).withColumn("in_truth", lit(1))
          def sweepAt(n: Int) = scored.filter(col("cell_rank") <= n)
            .orderBy(col("cos_sim").desc, col("vec_id").asc).limit(10)
            .select(lit(n).as("nprobe"), col("vec_id"))
          sweepAt(1).union(sweepAt(2)).union(sweepAt(4))
            .join(broadcast(truth), Seq("vec_id"), "left")
            .groupBy(col("nprobe"))
            .agg(sum(coalesce(col("in_truth"), lit(0))).cast("bigint")
              .as("n_hit"))
            .select(col("nprobe"), col("n_hit"),
              round(col("n_hit").cast("double") / lit(10.0), 6)
                .as("recall_at_10"))
        }
      },
      Some(s"""WITH ${sqlEmbCte("v")},
        ${sqlPinnedCentroidsCte("v")},
        ac AS (SELECT vec_id, e, cell FROM (
            SELECT v.vec_id, v.e, c.cell,
              row_number() OVER (PARTITION BY v.vec_id
                ORDER BY ${sqlCos("v.e", "c.ce")} DESC, c.cell ASC) AS rn
            FROM v, c) t WHERE rn = 1),
        ${sqlProbeCte("v")},
        cr AS (SELECT cell, row_number() OVER (
              ORDER BY ${sqlCos("ce", "qe")} DESC, cell ASC) AS crank
          FROM c, q),
        sc AS (SELECT a.vec_id, ${sqlCos("a.e", "qe")} AS cs, cr.crank
          FROM ac a, cr, q
          WHERE a.cell = cr.cell AND a.vec_id <> 0),
        truth AS (SELECT vec_id FROM (
            SELECT vec_id, row_number() OVER (
                ORDER BY cs DESC, vec_id ASC) AS rn
            FROM sc) t WHERE rn <= 10),
        tn AS (
          SELECT 1 AS nprobe, vec_id FROM (
            SELECT vec_id, row_number() OVER (
                ORDER BY cs DESC, vec_id ASC) AS rn
            FROM sc WHERE crank <= 1) t WHERE rn <= 10
          UNION ALL
          SELECT 2 AS nprobe, vec_id FROM (
            SELECT vec_id, row_number() OVER (
                ORDER BY cs DESC, vec_id ASC) AS rn
            FROM sc WHERE crank <= 2) t WHERE rn <= 10
          UNION ALL
          SELECT 4 AS nprobe, vec_id FROM (
            SELECT vec_id, row_number() OVER (
                ORDER BY cs DESC, vec_id ASC) AS rn
            FROM sc WHERE crank <= 4) t WHERE rn <= 10),
        hits AS (SELECT nprobe,
            CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hit
          FROM tn LEFT JOIN truth t ON tn.vec_id = t.vec_id
          GROUP BY 1)
        SELECT nprobe, n_hit,
          round(CAST(n_hit AS DOUBLE) / 10.0e0, 6) AS recall_at_10
        FROM hits""")),

    // ---- 1-NN label purity (embedding-space health check) ----------------
    // The standard supervised eval of an embedding space: leave-one-out
    // nearest-neighbor label agreement over the `label` column (the one
    // fixture column no query exercised). High purity ⟺ the geometry
    // separates the classes; per-label purity localizes which classes
    // smear. This is the metric you read BEFORE trusting any of the ANN
    // structures (e02-e17) — an index over a space that can't 1-NN its
    // own labels accelerates garbage.
    //
    // Scale shape: e09's broadcast-probe harness with k=1 — the rank
    // window takes its map-side WindowGroupLimit before the single a_id
    // exchange, the neighbor's label rides the scored row (no label
    // join-back), and the final agg collapses onto the ≤|labels| domain.
    GraftQuery(
      "e18_knn_label_purity",
      (s, d) => {
        val emb = Tables.validEmbeddings(s, d)
          .select(col("vec_id"), asDouble(col("embedding")).as("emb"),
            col("label"))
        val probes = emb.filter(probePanel(s, d))
          .select(col("vec_id").as("a_id"), col("emb").as("a_emb"),
            col("label").as("a_label"))
        val w = Window.partitionBy(col("a_id"))
          .orderBy(col("cos_sim").desc, col("b_id").asc)
        emb.select(col("vec_id").as("b_id"), col("emb").as("b_emb"),
            col("label").as("b_label"))
          .crossJoin(broadcast(probes))
          .filter(col("a_id") =!= col("b_id"))
          .withColumn("cos_sim", cosine(col("a_emb"), col("b_emb")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy(col("a_label").as("label"))
          .agg(count(lit(1)).as("n_probes"),
            sum(when(col("b_label") === col("a_label"), 1L).otherwise(0L))
              .as("n_match"))
          .select(col("label"), col("n_probes"), col("n_match"),
            round(col("n_match").cast("double") /
              col("n_probes").cast("double"), 6).as("purity"))
      },
      Some(s"""WITH b AS (SELECT vec_id, label,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings WHERE $sqlValidEmb),
        ${sqlProbesCte("label AS a_label, e AS ae")},
        nn AS (SELECT a_label, b_label FROM (
          SELECT p.a_id, p.a_label, c.label AS b_label,
            row_number() OVER (PARTITION BY p.a_id
              ORDER BY ${sqlCos("p.ae", "c.e")} DESC, c.vec_id ASC) AS rn
          FROM probes p JOIN b c ON p.a_id <> c.vec_id) t WHERE rn = 1)
        SELECT a_label AS label, CAST(COUNT(*) AS BIGINT) AS n_probes,
          CAST(SUM(CASE WHEN b_label = a_label THEN 1 ELSE 0 END) AS BIGINT)
            AS n_match,
          round(CAST(SUM(CASE WHEN b_label = a_label THEN 1 ELSE 0 END)
              AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS purity
        FROM nn GROUP BY 1""")),

    // ---- IVF-PQ composed ANN (the faiss IVFADC architecture) -------------
    // e05 (IVF over raw vectors) and e13 (flat PQ over the whole corpus)
    // each solve half the 100 TB problem: IVF prunes the scan but still
    // stores 256 B/vector; PQ compresses to m bytes but still scans every
    // code per query. This composes them the way a deployed index does
    // (faiss IndexIVFPQ / the PQ paper's IVFADC): coarse cells + PQ codes
    // over RESIDUALS (vector − cell centroid — residuals concentrate near
    // the origin, so 16 codewords quantize them far better than raw
    // vectors), query = nprobe cell prune + per-subspace table-lookup ADC
    // (VectorSearch.adcScore: the per-query lookup tables are m·k driver
    // dots inlined as literals; per-row cost is m indexings + adds, and
    // the corpus is NEVER decoded). Rows-only (Lloyd centroids + Lloyd
    // codebooks — no SQL analog): golden-pinned (GOLDEN.json), recall
    // floor vs brute force in Round17OpsSpec, geometry oracle-pinned by
    // e20 below.
    GraftQuery(
      "e19_ivfpq_topk",
      (s, d) => {
        val base = normalizedEmb(s, d)
        val n = ivfCorpusSize(s, d)
        val cells = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
        val (centroids, books, index) = VectorSearch.ivfPqIndex(
          base, "vec_id", "emb", kCells = cells, m = 8, k = 16)
        VectorSearch.probeVector(base, "vec_id", 0L) match {
          case None => // probe absent (empty corpus): zero rows, correct
            index      // schema — the ivfTopK guard
              .select(col("vec_id"), col("cell").cast("bigint").as("cell"),
                lit(0.0).as("adc_score"))
              .filter(lit(false))
          case Some(probeVec) => VectorSearch.ivfPqTopK(index, centroids,
            books, probeVec, "vec_id", k = 10,
            nprobe = math.max(2, cells / 8), excludeId = 0L)
        }
      },
      None),

    // ---- IVF-PQ geometry, ORACLE-CHECKABLE variant of e19 ----------------
    // The e14/e15 move applied to the COMPOSITION: training degenerates
    // to pure SQL (centroids = the 8 lowest-id normalized vectors, 0
    // Lloyd steps; codebooks = the subvectors of the 16 lowest-id
    // RESIDUALS, 0 refinement steps) while everything that matters at
    // scale runs the production path — ivfPqIndex end to end: argmax-
    // cosine cell assignment, the residual zip_with against the centroid
    // literal, expanded-form L2 code assignment on residual slices,
    // nprobe=2 cell pruning, and the code CSV (pins every per-subspace
    // index). The one deliberate divergence from e19's scorer: the ADC
    // here is q·(centroid + recon) as ONE strict 64-fold over the
    // elementwise sum (both engines pair and fold identically →
    // bit-stable), not the per-subspace table sum, whose different
    // summation ORDER is float-visible; e19's table kernel stays the
    // production path, pinned by GOLDEN.json + the Round17OpsSpec
    // identity test against this fold form.
    GraftQuery(
      "e20_ivfpq_pinned",
      (s, d) => {
        val base = normalizedEmb(s, d)
        val (centroids, books, index) = pinnedIvfPq(base)
        VectorSearch.probeVector(base, "vec_id", 0L) match {
          case None =>
            index
              .select(col("vec_id").as("b_id"),
                col("cell").cast("bigint").as("cell"),
                lit("").as("codes_str"), lit(0.0).as("adc_score"))
              .filter(lit(false))
          case Some(probeVec) =>
            val probeCells = VectorSearch.rankCells(probeVec, centroids).take(2)
            index
              .filter(col("cell").isin(probeCells: _*) &&
                col("vec_id") =!= 0L)
              .select(col("vec_id").as("b_id"),
                col("cell").cast("bigint").as("cell"),
                array_join(col("codes"), ",").as("codes_str"),
                dot(typedlit(probeVec),
                  VectorSearch.pqReconstructInCell(col("codes"), col("cell"),
                    centroids, books)).as("adc_score"))
              .orderBy(col("adc_score").desc, col("b_id").asc)
              .limit(10)
        }
      },
      Some(s"""WITH $sqlPinnedIvfPqCtes,
        recon AS (SELECT e.vec_id,
            flatten(list(s.c ORDER BY e.j)) AS rr,
            array_to_string(list(e.ci ORDER BY e.j), ',') AS codes_str
          FROM enc e JOIN sub s ON e.j = s.j AND e.ci = s.ci
          GROUP BY 1),
        ${sqlProbeCte("b")},
        $sqlProbeCellsCte
        SELECT a.vec_id AS b_id, CAST(a.cell AS BIGINT) AS cell,
          rc.codes_str,
          ${sqlDot("qe",
            "list_transform(list_zip(a.ce, rc.rr), p -> p[1] + p[2])")}
            AS adc_score
        FROM res a, recon rc, pc, q
        WHERE rc.vec_id = a.vec_id AND pc.cell = a.cell AND a.vec_id <> 0
        ORDER BY adc_score DESC, b_id ASC LIMIT 10""")),

    // ---- IVF-PQ + exact-refine tier (faiss IndexRefineFlat) --------------
    // The third stage of the deployed ANN layout: cell prune → code scan →
    // EXACT rerank of the ADC top-30 over fetched raw vectors, each stage
    // touching orders of magnitude fewer rows than the last. Quantization
    // noise mostly permutes near neighbors, so the bounded exact pass
    // recovers most of the recall the 8-byte codes lose (Round17OpsSpec
    // measures the production Lloyd-trained form: rerank recall ≥ plain
    // ADC recall over the probe panel). Join shape is the d35/d47
    // join-back rule: the 30-row candidate list broadcasts; the vector
    // store never shuffles.
    //
    // Oracle-checkable via e20's degenerate training; candidate SELECTION
    // uses e20's strict-fold ADC (bit-stable ranking), and the rerank
    // cosine is the documented bit-identical fold pair. The production
    // table-lookup kernel is pinned to the fold form by Round17OpsSpec's
    // 1e-9 identity, and the production path itself is exercised there
    // via VectorSearch.ivfPqRerankTopK.
    GraftQuery(
      "e21_ivfpq_rerank",
      (s, d) => {
        val base = normalizedEmb(s, d)
        val (centroids, books, index) = pinnedIvfPq(base)
        VectorSearch.probeVector(base, "vec_id", 0L) match {
          case None =>
            base.select(col("vec_id").as("b_id"), lit(0.0).as("cos_sim"),
              lit(0.0).as("adc_score")).filter(lit(false))
          case Some(probeVec) =>
            val probeCells = VectorSearch.rankCells(probeVec, centroids).take(2)
            val adcTop = index
              .filter(col("cell").isin(probeCells: _*) &&
                col("vec_id") =!= 0L)
              .select(col("vec_id").as("b_id"),
                dot(typedlit(probeVec),
                  VectorSearch.pqReconstructInCell(col("codes"), col("cell"),
                    centroids, books)).as("adc_score"))
              .orderBy(col("adc_score").desc, col("b_id").asc)
              .limit(30)
            base.select(col("vec_id").as("b_id"), col("emb"))
              .join(adcTop, "b_id")
              .select(col("b_id"),
                cosine(col("emb"), typedlit(probeVec)).as("cos_sim"),
                col("adc_score"))
              .orderBy(col("cos_sim").desc, col("b_id").asc)
              .limit(10)
        }
      },
      Some(s"""WITH $sqlPinnedIvfPqCtes,
        recon AS (SELECT e.vec_id,
            flatten(list(s.c ORDER BY e.j)) AS rr
          FROM enc e JOIN sub s ON e.j = s.j AND e.ci = s.ci
          GROUP BY 1),
        ${sqlProbeCte("b")},
        $sqlProbeCellsCte,
        adc AS (SELECT a.vec_id AS b_id,
            ${sqlDot("qe",
              "list_transform(list_zip(a.ce, rc.rr), p -> p[1] + p[2])")}
              AS adc_score
          FROM res a, recon rc, pc, q
          WHERE rc.vec_id = a.vec_id AND pc.cell = a.cell AND a.vec_id <> 0
          ORDER BY adc_score DESC, b_id ASC LIMIT 30)
        SELECT adc.b_id, ${sqlCos("bb.e", "qe")} AS cos_sim, adc.adc_score
        FROM adc, b bb, q
        WHERE bb.vec_id = adc.b_id
        ORDER BY cos_sim DESC, adc.b_id ASC LIMIT 10""")),

    // ---- int8-SQ recall eval: does 4× compression keep the ranking? ------
    // Closes the loop e08 opened: e08 measures the SQ8 RECONSTRUCTION
    // error, this measures what an index actually cares about — the
    // RANKING loss. Rank the corpus by cosine(full-precision query,
    // midpoint-dequantized candidate) — the asymmetric-distance read an
    // SQ8 store serves — and score recall@3 against full-dim truth on the
    // shared probe sample. With e09/e11/e12/e13/e16 this completes the
    // compression-recall frontier: prefix-dims / binary-signs / top-var
    // dims / PQ codes / JL projection / int8 SQ, all on the same harness,
    // directly comparable per probe.
    //
    // Scale shape: e12's single-scan dual ranking verbatim — dequant is a
    // narrow per-row projection fused into the scan (no join: the
    // quantization params mn/scl live ON the row, e08's per-vector
    // scheme), probes broadcast, both cosines on one scan, both top-3
    // ranks on ONE a_id exchange via map-side WindowGroupLimit.
    //
    // Cross-engine exactness: the code expression is e08's verbatim
    // (floor/least/greatest on exact doubles); dequant mn + (c+0.5)·scl/256
    // is the same double tree both engines; constant vectors (scl = 0)
    // dequant to mn exactly; cosine is the module's strict fold; ties
    // break on vec_id.
    GraftQuery(
      "e22_sq8_recall",
      (s, d) => {
        val e = embAsDouble(s, d, "xs")
        val code = (x: Column) =>
          greatest(lit(0L), least(lit(255L),
            floor((x - col("mn")) * 256.0 / col("scl"))))
        val deq = e
          .withColumn("mn", array_min(col("xs")))
          .withColumn("scl", array_max(col("xs")) - col("mn"))
          .select(col("vec_id").as("b_id"), col("xs").as("b_emb"),
            when(col("scl") === 0.0,
              transform(col("xs"), _ => col("mn")))
              .otherwise(transform(col("xs"), x =>
                col("mn") + (code(x).cast("double") + 0.5) *
                  col("scl") / 256.0)).as("b_deq"))
        val probes = e.filter(probePanel(s, d))
          .select(col("vec_id").as("a_id"), col("xs").as("a_emb"))
        def rankW(c: Column) = Window.partitionBy(col("a_id"))
          .orderBy(c.desc, col("b_id").asc)
        val hits = deq
          .crossJoin(broadcast(probes))
          .filter(col("a_id") =!= col("b_id"))
          .withColumn("cos_full", cosine(col("a_emb"), col("b_emb")))
          .withColumn("cos_sq", cosine(col("a_emb"), col("b_deq")))
          .withColumn("rn_full", row_number().over(rankW(col("cos_full"))))
          .withColumn("rn_sq", row_number().over(rankW(col("cos_sq"))))
          .filter(col("rn_full") <= 3 && col("rn_sq") <= 3)
          .groupBy(col("a_id")).agg(count(lit(1)).as("n_hit"))
        recallAt3(probes, hits)
      },
      Some(s"""WITH ${sqlEmbCte("b")},
        dq AS (SELECT vec_id AS b_id, e AS be,
            CASE WHEN scl = 0 THEN list_transform(e, x -> mn)
              ELSE list_transform(e, x -> mn +
                (CAST(GREATEST(0, LEAST(255,
                  CAST(floor((x - mn) * 256.0 / scl) AS BIGINT))) AS DOUBLE)
                  + 0.5) * scl / 256.0) END AS bq
          FROM (SELECT vec_id, e, list_min(e) AS mn,
              list_max(e) - list_min(e) AS scl FROM b) s),
        ${sqlProbesCte()},
        ${sqlTruthCte()},
        sq AS (SELECT a_id, b_id FROM (
          SELECT p.a_id, c.b_id,
            row_number() OVER (PARTITION BY p.a_id
              ORDER BY ${sqlCos("p.ae", "c.bq")} DESC, c.b_id ASC) AS rn
          FROM probes p JOIN dq c ON p.a_id <> c.b_id) t WHERE rn <= 3),
        ${sqlRecallTail("sq")}""")),

    // ---- filtered ANN: post-filter recall vs the pre-filter truth --------
    // The filtered-search design question every deployed vector store
    // answers (search WHERE label = X): PRE-filter ranks only the
    // predicate-matching subset (exact but needs a per-predicate index
    // path); POST-filter takes the unfiltered top-K and keeps the matches
    // (one shared index, but the answer starves when the predicate is
    // selective). Per probe, with the predicate "same label as the
    // probe": the pre-filter top-3 truth, the survivors of
    // post-filtering the unfiltered top-12 (K = 4× over-fetch, the
    // standard rule-of-thumb starting point), and post-filter recall@3 —
    // the curve that decides which architecture a 100 TB store ships.
    //
    // Scale shape: ONE broadcast-probe scan, ONE lineage: the global
    // rank (rn_all), the within-subset rank (rn_pre, after the label
    // filter — which preserves rn_all), and the post-filter rank
    // (rn_post: candidates-first ordering, so row_number ≤ 3 ∧
    // rn_all ≤ 12 IS the survivor set) are three windows over the SAME
    // a_id exchange, folded by one (a_id) aggregate — truth, survivors,
    // and hits never materialize as separate frames to re-join (the
    // recompute trap a truth ⋈ post formulation would triple-scan).
    // Probes bounded (~n/100), never a corpus self-join.
    //
    // Exactness: cosine is the module's strict fold; every rank ties on
    // b_id (rn_post on the already-unique rn_all); counts are int64;
    // recall divides by the fixed literal 3.
    GraftQuery(
      "e23_filtered_ann",
      (s, d) => {
        val e = Tables.validEmbeddings(s, d)
          .filter(col("label").isNotNull)
          .select(col("vec_id"), asDouble(col("embedding")).as("xs"),
            col("label"))
        val probes = e.filter(probePanel(s, d))
          .select(col("vec_id").as("a_id"), col("xs").as("a_emb"),
            col("label").as("a_label"))
        def rankW(c: Column) = Window.partitionBy(col("a_id"))
          .orderBy(c.desc, col("b_id").asc)
        val agg = e.select(col("vec_id").as("b_id"), col("xs").as("b_emb"),
            col("label").as("b_label"))
          .crossJoin(broadcast(probes))
          .filter(col("a_id") =!= col("b_id"))
          .withColumn("cos", cosine(col("a_emb"), col("b_emb")))
          .withColumn("rn_all", row_number().over(rankW(col("cos"))))
          .filter(col("b_label") === col("a_label"))
          .withColumn("rn_pre", row_number().over(rankW(col("cos"))))
          .withColumn("rn_post", row_number().over(
            Window.partitionBy(col("a_id")).orderBy(
              when(col("rn_all") <= 12, lit(0)).otherwise(lit(1)).asc,
              col("rn_all").asc)))
          .withColumn("is_post", col("rn_post") <= 3 && col("rn_all") <= 12)
          .groupBy(col("a_id"))
          .agg(sum(when(col("is_post"), 1L).otherwise(0L)).as("n_post"),
            sum(when(col("is_post") && col("rn_pre") <= 3, 1L).otherwise(0L))
              .as("n_hit"))
        recallAt3(probes, agg,
          coalesce(col("n_post"), lit(0L)).cast("bigint").as("n_post"))
      },
      Some(s"""WITH b AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e, label
        FROM embeddings WHERE $sqlValidEmb AND label IS NOT NULL),
        ${sqlProbesCte("e AS ae, label AS al")},
        scored AS (SELECT p.a_id, p.al, c.vec_id AS b_id, c.label AS bl,
            ${sqlCos("p.ae", "c.e")} AS cos,
            row_number() OVER (PARTITION BY p.a_id
              ORDER BY ${sqlCos("p.ae", "c.e")} DESC, c.vec_id ASC)
              AS rn_all
          FROM probes p JOIN b c ON p.a_id <> c.vec_id),
        truth AS (SELECT a_id, b_id FROM (
          SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
              ORDER BY cos DESC, b_id ASC) AS rn_pre
          FROM scored WHERE bl = al) t WHERE rn_pre <= 3),
        post AS (SELECT a_id, b_id FROM (
          SELECT a_id, b_id, row_number() OVER (PARTITION BY a_id
              ORDER BY rn_all ASC) AS rn_post
          FROM scored WHERE rn_all <= 12 AND bl = al) t
          WHERE rn_post <= 3),
        hits AS (SELECT t.a_id, CAST(COUNT(*) AS BIGINT) AS n_hit
          FROM truth t JOIN post a ON t.a_id = a.a_id AND t.b_id = a.b_id
          GROUP BY 1),
        got AS (SELECT a_id, CAST(COUNT(*) AS BIGINT) AS n_post FROM post
          GROUP BY 1)
        SELECT p.a_id,
          CAST(coalesce(g.n_post, 0) AS BIGINT) AS n_post,
          CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 3.0 AS recall_at_3
        FROM probes p LEFT JOIN hits h ON p.a_id = h.a_id
          LEFT JOIN got g ON p.a_id = g.a_id""")),

    // ---- ANN shard planner: serpentine bucket → shard assignment ---------
    // The deployment step after an index is built: partition its buckets
    // (e02's LSH cells here; IVF cells identically) across S = 8 shards
    // so query fan-out load balances. Hash-sharding ignores bucket-size
    // skew; the deterministic alternative a planner can replay anywhere:
    // rank buckets by size, deal them serpentine (boustrophedon — shard
    // s takes ranks s+1 and 2S−s in each round of 2S), which pairs each
    // large bucket with a small one. Output is the ≤S-row shard manifest:
    // bucket count, vector load, and balance = load / ideal (×S/total);
    // max(balance) near 1 says the fan-out is even, and the WORST-case
    // serpentine imbalance is bounded by one max-bucket's overhang —
    // measurable here, structural at any scale.
    //
    // Scale shape: bucket sizes are the e02 assignment folded to
    // ≤ 2^MaxBits rows with map-side partials (one exchange); the
    // serpentine rank is an unpartitioned window over that BOUNDED frame
    // (the d24 exemption, ≤65536 rows by construction); the shard rollup
    // and the total-over-shards window run on ≤ S rows. Nothing after
    // the first groupBy is corpus-sized.
    //
    // Exactness: integer counts and rank arithmetic end-to-end; balance
    // divides exact int64s cast to double, rounded at 6 dp.
    GraftQuery(
      "e24_shard_plan",
      (s, d) => {
        val S = 8
        val bySize = Window.orderBy(col("n_vecs").desc, col("bucket").asc)
        val ranked = bucketed(s, d)
          .groupBy(col("bucket")).agg(count(lit(1)).as("n_vecs"))
          .withColumn("rank", row_number().over(bySize).cast("bigint"))
          .withColumn("p", (col("rank") - 1) % (2 * S))
          .withColumn("shard",
            when(col("p") < S, col("p")).otherwise(lit(2 * S - 1) - col("p"))
              .cast("bigint"))
        ranked.groupBy(col("shard"))
          .agg(count(lit(1)).as("n_buckets"), sum(col("n_vecs")).as("load"))
          .withColumn("total",
            sum(col("load")).over(Window.partitionBy(lit(1))))
          .select(col("shard"), col("n_buckets"), col("load"),
            round(col("load").cast("double") * S /
              col("total").cast("double"), 6).as("balance"))
      },
      Some(s"""WITH $sqlBitsCte,
        sizes AS (SELECT ${sqlSignBucket("embedding", "bits")} AS bucket,
            COUNT(*) AS n_vecs
          FROM embeddings, nb WHERE $sqlValidEmb GROUP BY 1),
        rk AS (SELECT bucket, n_vecs,
            row_number() OVER (ORDER BY n_vecs DESC, bucket ASC) AS rank
          FROM sizes),
        sp AS (SELECT *, (rank - 1) % 16 AS p FROM rk),
        asg AS (SELECT bucket, n_vecs,
            CAST(CASE WHEN p < 8 THEN p ELSE 15 - p END AS BIGINT) AS shard
          FROM sp),
        sh AS (SELECT shard, COUNT(*) AS n_buckets,
            CAST(SUM(n_vecs) AS BIGINT) AS load FROM asg GROUP BY 1)
        SELECT shard, n_buckets, load,
          round(CAST(load AS DOUBLE) * 8 /
            CAST(CAST(SUM(load) OVER () AS BIGINT) AS DOUBLE), 6) AS balance
        FROM sh""")),

    // ---- two-tier Matryoshka search: prefix coarse → exact rerank --------
    // The DEPLOYED form of e09's finding (e21's refine tier applied to
    // the prefix store): rank the corpus by the 16-dim-prefix cosine
    // (the 4× cheaper coarse tier), keep the top-12 (4× over-fetch),
    // exact-rerank those 12 by full-dim cosine, and score the final
    // top-3 against full-dim truth. Read against e09's raw prefix
    // recall: the gap between them is what the rerank tier BUYS — the
    // number that justifies (or kills) storing the full vectors behind
    // a prefix index.
    //
    // Scale shape: e23's one-lineage trick — rn_full (truth), rn_coarse
    // (prefix rank), and rn_rr (full-cosine rank among the coarse
    // survivors, via the candidates-first ordering so no mid-lineage
    // filter is needed) are three windows on ONE a_id exchange, folded
    // by one aggregate. The coarse tier reads 16 of 64 dims; at scale
    // that is the 4× I/O cut e09 documents, and the rerank touches 12
    // full vectors per probe.
    //
    // Exactness: both cosines are the module's strict fold; every rank
    // ties on b_id; recall divides by the literal 3.
    GraftQuery(
      "e25_matryoshka_rerank",
      (s, d) => {
        val e = embAsDouble(s, d, "xs")
        // Prefix slices per ROW, not per candidate pair (the e09/e16
        // per-row projection pattern — same values, evaluation point
        // below the crossJoin).
        val probes = e.filter(probePanel(s, d))
          .select(col("vec_id").as("a_id"), col("xs").as("a_emb"),
            slice(col("xs"), 1, TruncDims).as("a_tr"))
        def rankW(c: Column) = Window.partitionBy(col("a_id"))
          .orderBy(c.desc, col("b_id").asc)
        val agg = e.select(col("vec_id").as("b_id"), col("xs").as("b_emb"),
            slice(col("xs"), 1, TruncDims).as("b_tr"))
          .crossJoin(broadcast(probes))
          .filter(col("a_id") =!= col("b_id"))
          .withColumn("cos_full", cosine(col("a_emb"), col("b_emb")))
          .withColumn("cos_pre", cosine(col("a_tr"), col("b_tr")))
          .withColumn("rn_full", row_number().over(rankW(col("cos_full"))))
          .withColumn("rn_coarse", row_number().over(rankW(col("cos_pre"))))
          .withColumn("rn_rr", row_number().over(
            Window.partitionBy(col("a_id")).orderBy(
              when(col("rn_coarse") <= 12, lit(0)).otherwise(lit(1)).asc,
              col("cos_full").desc, col("b_id").asc)))
          .withColumn("is_final", col("rn_rr") <= 3 && col("rn_coarse") <= 12)
          .groupBy(col("a_id"))
          .agg(sum(when(col("is_final") && col("rn_full") <= 3, 1L)
            .otherwise(0L)).as("n_hit"))
        recallAt3(probes, agg)
      },
      Some(s"""WITH ${sqlEmbCte("b")},
        ${sqlProbesCte()},
        scored AS (SELECT p.a_id, c.vec_id AS b_id,
            ${sqlCos("p.ae", "c.e")} AS cos_full,
            ${sqlCos(s"p.ae[1:$TruncDims]", s"c.e[1:$TruncDims]")} AS cos_pre
          FROM probes p JOIN b c ON p.a_id <> c.vec_id),
        rk AS (SELECT *,
            row_number() OVER (PARTITION BY a_id
              ORDER BY cos_full DESC, b_id ASC) AS rn_full,
            row_number() OVER (PARTITION BY a_id
              ORDER BY cos_pre DESC, b_id ASC) AS rn_coarse
          FROM scored),
        rr AS (SELECT *,
            row_number() OVER (PARTITION BY a_id
              ORDER BY CASE WHEN rn_coarse <= 12 THEN 0 ELSE 1 END ASC,
                cos_full DESC, b_id ASC) AS rn_rr
          FROM rk),
        hits AS (SELECT a_id, CAST(SUM(CASE WHEN rn_rr <= 3
              AND rn_coarse <= 12 AND rn_full <= 3 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hit
          FROM rr GROUP BY 1)
        $sqlRecallSelect""")),

    // ---- over-fetch tuning sweep for the two-tier search -----------------
    // e25 fixes the over-fetch at 12 (4×); this sweeps K ∈ {3, 6, 12,
    // 24} and reports rerank recall@3 per probe AT EACH K — the third
    // member of the operating-point sweep family (e17 nprobe, d59
    // bands×rows): the saturation curve that prices "how many full
    // vectors must the rerank tier touch" before deploying a prefix
    // index. Nested candidate sets (K ⊂ K') mean recall is monotone in
    // K by construction — asserted, not assumed.
    //
    // Scale shape: the e25 lineage with one rerank-rank window PER sweep
    // point — six row_number windows total, ALL on the single a_id
    // exchange (the e23 stacking rule); the sweep fans out as a literal
    // 4-struct explode of the per-probe aggregate (d58's unpivot — no
    // second scan per K, no join). The corpus is scored ONCE for the
    // whole curve.
    //
    // Exactness: identical rank/tie rules at every K; recall divides by
    // the literal 3.
    GraftQuery(
      "e26_overfetch_sweep",
      (s, d) => {
        val ks = Seq(3, 6, 12, 24)
        val e = embAsDouble(s, d, "xs")
        // Prefix slices per ROW, not per candidate pair (the e09/e16
        // per-row projection pattern — same values, evaluation point
        // below the crossJoin).
        val probes = e.filter(probePanel(s, d))
          .select(col("vec_id").as("a_id"), col("xs").as("a_emb"),
            slice(col("xs"), 1, TruncDims).as("a_tr"))
        def rankW(c: Column) = Window.partitionBy(col("a_id"))
          .orderBy(c.desc, col("b_id").asc)
        var scored = e.select(col("vec_id").as("b_id"), col("xs").as("b_emb"),
            slice(col("xs"), 1, TruncDims).as("b_tr"))
          .crossJoin(broadcast(probes))
          .filter(col("a_id") =!= col("b_id"))
          .withColumn("cos_full", cosine(col("a_emb"), col("b_emb")))
          .withColumn("cos_pre", cosine(col("a_tr"), col("b_tr")))
          .withColumn("rn_full", row_number().over(rankW(col("cos_full"))))
          .withColumn("rn_coarse", row_number().over(rankW(col("cos_pre"))))
        ks.foreach { k =>
          scored = scored.withColumn(s"rn_rr_$k", row_number().over(
            Window.partitionBy(col("a_id")).orderBy(
              when(col("rn_coarse") <= k, lit(0)).otherwise(lit(1)).asc,
              col("cos_full").desc, col("b_id").asc)))
        }
        val hitCols = ks.map { k =>
          sum(when(col(s"rn_rr_$k") <= 3 && col("rn_coarse") <= k &&
            col("rn_full") <= 3, 1L).otherwise(0L)).as(s"h$k")
        }
        val agg = scored.groupBy(col("a_id"))
          .agg(hitCols.head, hitCols.tail: _*)
        probes.select(col("a_id")).join(agg, Seq("a_id"), "left")
          .select(col("a_id"), explode(expr(
            s"""array(${ks.map(k =>
              s"struct(${k}L AS k, coalesce(h$k, 0L) AS nh)").mkString(", ")})"""))
            .as("s"))
          .select(col("a_id"), col("s.k").as("k_overfetch"),
            (col("s.nh").cast("double") / lit(3.0)).as("recall_at_3"))
      },
      Some(s"""WITH ${sqlEmbCte("b")},
        ${sqlProbesCte()},
        scored AS (SELECT p.a_id, c.vec_id AS b_id,
            ${sqlCos("p.ae", "c.e")} AS cos_full,
            ${sqlCos(s"p.ae[1:$TruncDims]", s"c.e[1:$TruncDims]")} AS cos_pre
          FROM probes p JOIN b c ON p.a_id <> c.vec_id),
        rk AS (SELECT *,
            row_number() OVER (PARTITION BY a_id
              ORDER BY cos_full DESC, b_id ASC) AS rn_full,
            row_number() OVER (PARTITION BY a_id
              ORDER BY cos_pre DESC, b_id ASC) AS rn_coarse
          FROM scored),
        rr AS (SELECT *,
            ${Seq(3, 6, 12, 24).map(k =>
              s"""row_number() OVER (PARTITION BY a_id
                ORDER BY CASE WHEN rn_coarse <= $k THEN 0 ELSE 1 END ASC,
                  cos_full DESC, b_id ASC) AS rn_rr_$k""").mkString(",\n            ")}
          FROM rk),
        hits AS (SELECT a_id,
            ${Seq(3, 6, 12, 24).map(k =>
              s"""CAST(SUM(CASE WHEN rn_rr_$k <= 3 AND rn_coarse <= $k
                AND rn_full <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS h$k""")
              .mkString(",\n            ")}
          FROM rr GROUP BY 1),
        m AS (SELECT p.a_id,
            ${Seq(3, 6, 12, 24).map(k =>
              s"coalesce(h.h$k, 0) AS h$k").mkString(", ")}
          FROM probes p LEFT JOIN hits h ON p.a_id = h.a_id)
        SELECT a_id, u.k AS k_overfetch,
          CAST(u.nh AS DOUBLE) / 3.0 AS recall_at_3
        FROM m, LATERAL unnest([${Seq(3, 6, 12, 24).map(k =>
          s"{'k': CAST($k AS BIGINT), 'nh': h$k}").mkString(", ")}])
          AS t(u)""")),

    // ---- tombstone-aware search: recall + staleness under deletions ------
    // The index-MAINTENANCE question the build/tune family (e05-e26)
    // doesn't ask: vectors get deleted (takedowns, TTL'd docs, user
    // erasure), but a built ANN index doesn't remove them — production
    // engines tombstone the ids and filter at query time, rebuilding
    // only when the tombstone fraction degrades results. Model: every
    // vec_id ≡ 0 (mod 7) is deleted (~14%); the index still scores the
    // FULL corpus, the top-12 candidate fetch drops tombstones
    // post-hoc, and the surviving first 3 are answered. Per live probe:
    // how many of the full-index top-12 were tombstones (the staleness
    // signal a compaction trigger watches), how many answers survived,
    // and recall@3 against the live-corpus truth. The e26 over-fetch
    // sweep calibrates K; THIS query reports what the deployed (K=12,
    // filter, top-3) configuration delivers as deletions accumulate.
    //
    // Scale shape: the e23 envelope — one bounded broadcast probe
    // sample against one corpus scan, all four rank/flag windows riding
    // the SAME a_id exchange (tombstone flag is per-row arithmetic, and
    // both the live-truth rank and the post-filter rank order by
    // (flag, score) so no second scoring pass exists). Tombstones at
    // 100 TB are a broadcast id set or a validity bitmap joined the
    // same way; the plan is unchanged.
    //
    // Exactness: ranks are integer; ties break on b_id; recall divides
    // exact counts by the literal 3.0 — the e23 arithmetic.
    GraftQuery(
      "e27_tombstone_recall",
      (s, d) => {
        val e = embAsDouble(s, d, "xs")
        val probes = e.filter(probePanel(s, d) && col("vec_id") % 7 =!= 0)
          .select(col("vec_id").as("a_id"), col("xs").as("a_emb"))
        val byAid = Window.partitionBy(col("a_id"))
        val scored = e.select(col("vec_id").as("b_id"), col("xs").as("b_emb"))
          .crossJoin(broadcast(probes))
          .filter(col("a_id") =!= col("b_id"))
          .withColumn("cos", cosine(col("a_emb"), col("b_emb")))
          .withColumn("tomb", col("b_id") % 7 === 0)
          .withColumn("rn_all", row_number().over(
            byAid.orderBy(col("cos").desc, col("b_id").asc)))
          .withColumn("rn_truth", row_number().over(
            byAid.orderBy(col("tomb").asc, col("cos").desc, col("b_id").asc)))
          .withColumn("cand", !col("tomb") && col("rn_all") <= 12)
          .withColumn("rn_post", row_number().over(
            byAid.orderBy(col("cand").desc, col("rn_all").asc)))
        val agg = scored.groupBy(col("a_id"))
          .agg(sum(when(col("tomb") && col("rn_all") <= 12, 1L).otherwise(0L))
              .as("n_tomb_in_12"),
            sum(when(col("cand") && col("rn_post") <= 3, 1L).otherwise(0L))
              .as("n_got"),
            sum(when(col("cand") && col("rn_post") <= 3 &&
                col("rn_truth") <= 3, 1L).otherwise(0L)).as("n_hit"))
        recallAt3(probes, agg,
          coalesce(col("n_tomb_in_12"), lit(0L)).cast("bigint")
            .as("n_tomb_in_12"),
          coalesce(col("n_got"), lit(0L)).cast("bigint").as("n_got"))
      },
      Some(s"""WITH ${sqlEmbCte("b")},
        ${sqlProbesCte(extra = " AND vec_id % 7 <> 0")},
        scored AS (SELECT p.a_id, c.vec_id AS b_id,
            ${sqlCos("p.ae", "c.e")} AS cos, (c.vec_id % 7 = 0) AS tomb
          FROM probes p JOIN b c ON p.a_id <> c.vec_id),
        rk AS (SELECT *,
            row_number() OVER (PARTITION BY a_id
              ORDER BY cos DESC, b_id ASC) AS rn_all,
            row_number() OVER (PARTITION BY a_id
              ORDER BY tomb ASC, cos DESC, b_id ASC) AS rn_truth
          FROM scored),
        cd AS (SELECT *, (NOT tomb AND rn_all <= 12) AS cand FROM rk),
        ps AS (SELECT *, row_number() OVER (PARTITION BY a_id
              ORDER BY cand DESC, rn_all ASC) AS rn_post FROM cd),
        a AS (SELECT a_id,
            CAST(SUM(CASE WHEN tomb AND rn_all <= 12 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_tomb_in_12,
            CAST(SUM(CASE WHEN cand AND rn_post <= 3 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_got,
            CAST(SUM(CASE WHEN cand AND rn_post <= 3 AND rn_truth <= 3
              THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
          FROM ps GROUP BY 1)
        SELECT p.a_id,
          CAST(coalesce(a.n_tomb_in_12, 0) AS BIGINT) AS n_tomb_in_12,
          CAST(coalesce(a.n_got, 0) AS BIGINT) AS n_got,
          CAST(coalesce(a.n_hit, 0) AS DOUBLE) / 3.0 AS recall_at_3
        FROM probes p LEFT JOIN a ON p.a_id = a.a_id""")),

    // ---- embedding outlier detection: distance to the corpus centroid ----
    // The embedding-CURATION gate (the e-family's other queries tune the
    // index; this cleans its INPUT): rank the corpus by cosine to the
    // corpus mean vector and surface the bottom-20 — junk embeddings
    // (zeroed/garbled encoder output, wrong-modality rows, OOD shards)
    // sit in exactly this tail, and dropping them is the standard first
    // pass before centroid training (a polluted mean drags every IVF
    // cell). The corpus-mean substrate is e10's, shared: one definition
    // of the 6-dp-rounded decimal-exact per-dim mean feeds both queries
    // and both oracles.
    //
    // Scale shape: the per-dim mean folds map-side onto the FIXED 64-dim
    // domain (one constant-size exchange), broadcasts back as one row,
    // and scoring is a narrow codegen'd scan pass. The bottom-k is
    // orderBy + limit(20), which compiles to TakeOrderedAndProject —
    // each task keeps its own 20 smallest and the driver merges 20 ×
    // tasks rows, never the corpus. (NOT an unpartitioned row_number ≤
    // 20 filter: Catalyst's WindowGroupLimit insertion needs a
    // partitionSpec, so that form funnels every row through ONE window
    // task — the q27 trap; plan-pinned in PlanShapeSpec.) The rank
    // label is then a window over the 20 surviving rows.
    //
    // Exactness: the mean vector is identical doubles in both engines
    // (decimal-exact sums, one division order); cosine is the verified
    // strict fold; ranks tie-break on vec_id.
    GraftQuery(
      "e28_centroid_outliers",
      (s, d) => {
        val e = embAsDouble(s, d, "xs")
        val means = e.select(posexplode(col("xs")).as(Seq("pos", "x")))
          .groupBy(col("pos"))
          .agg((sum(round(col("x"), 6).cast("decimal(18,6)")).cast("double")
            / count(lit(1)).cast("double")).as("mu"))
        val ma = means.agg(expr(
          "transform(sort_array(collect_list(struct(pos, mu))), s -> s.mu)")
          .as("mus"))
        e.crossJoin(broadcast(ma))
          .withColumn("centroid_cos", cosine(col("xs"), col("mus")))
          .orderBy(col("centroid_cos").asc, col("vec_id").asc)
          .limit(20)
          .withColumn("outlier_rank", row_number().over(
            Window.orderBy(col("centroid_cos").asc, col("vec_id").asc))
            .cast("bigint"))
          .select(col("vec_id"), col("centroid_cos"), col("outlier_rank"))
      },
      Some(s"""WITH $sqlDimMeanCtes,
        sc AS (SELECT vec_id, ${sqlCos("xs", "mus")} AS centroid_cos
          FROM e, ma),
        r AS (SELECT vec_id, centroid_cos,
            CAST(row_number() OVER (ORDER BY centroid_cos ASC, vec_id ASC)
              AS BIGINT) AS outlier_rank
          FROM sc)
        SELECT vec_id, centroid_cos, outlier_rank FROM r
        WHERE outlier_rank <= 20""")),

    // ---- embedding drift monitor between snapshots (per-dim z) -----------
    // d64's PSI idea in the embedding domain: encoders get re-versioned,
    // normalization bugs ship, a new dump's vectors silently shift — and
    // every downstream index/centroid assumes they didn't. Split the
    // corpus into prior/new halves (vec_id parity — the d64 snapshot
    // convention), compare per-DIM means, and report each dim's shift in
    // prior-std units: z = (μ_new − μ_prior)/max(σ_prior, 1e-6), plus
    // the max/mean |z| scalars an alarm thresholds (|z| ≈ 0 here — same
    // generator, as it must be; an encoder swap shows up as whole-axis
    // shifts).
    //
    // Scale shape: ONE scan folds both snapshots' per-dim moments
    // map-side onto the FIXED 64-dim domain (conditional decimal sums —
    // one exchange, ≤64 rows after it); the z math and the max/mean
    // windows run on those 64 rows. The e10/d64 envelope end-to-end.
    //
    // Exactness: moments accumulate 6-dp-rounded values as
    // DECIMAL(18,6)/DECIMAL(28,12) (order-free); means/variance/z run on
    // doubles cast from exact sums in ONE op order; variance clamps at 0
    // before sqrt; σ floors at 1e-6 (the PSI zero-guard); z rounds 6 dp.
    GraftQuery(
      "e29_embedding_drift",
      (s, d) => {
        val w = Window.partitionBy(lit(1))
        val el = Tables.validEmbeddings(s, d)
          .select((col("vec_id") % 2).as("snap"),
            posexplode(asDouble(col("embedding"))).as(Seq("pos", "x")))
          .select(col("snap"), col("pos"), round(col("x"), 6).as("x"))
        // shared substrate (operators/Sketches): the SAME (snap, pos)
        // moment frame StatefulOpsSpec maintains as a streaming
        // aggregation; the prior/new pivot below runs on its ≤128 rows
        val mm = graft.operators.Sketches.dimMoments(
          el, Seq("snap", "pos"), "x")
        val m = mm.groupBy(col("pos"))
          .agg(
            sum(when(col("snap") === 0, col("n"))).as("n_p"),
            sum(when(col("snap") === 0, col("s"))).as("s_p"),
            sum(when(col("snap") === 0, col("ss"))).as("ss_p"),
            sum(when(col("snap") === 1, col("n"))).as("n_n"),
            sum(when(col("snap") === 1, col("s"))).as("s_n"))
        m
          .withColumn("mu_p", col("s_p").cast("double") / col("n_p").cast("double"))
          .withColumn("mu_n", col("s_n").cast("double") / col("n_n").cast("double"))
          .withColumn("var_p", greatest(
            col("ss_p").cast("double") / col("n_p").cast("double")
              - col("mu_p") * col("mu_p"), lit(0.0)))
          .withColumn("z", round((col("mu_n") - col("mu_p"))
            / greatest(sqrt(col("var_p")), lit(1e-6)), 6))
          .withColumn("max_abs_z", max(abs(col("z"))).over(w))
          .withColumn("mean_abs_z",
            sum(abs(col("z")).cast("decimal(18,6)")).over(w).cast("double")
              / count(lit(1)).over(w).cast("double"))
          .select(col("pos").cast("bigint").as("pos"),
            col("mu_p"), col("mu_n"),
            round(sqrt(col("var_p")), 6).as("std_p"),
            col("z"), col("max_abs_z"), col("mean_abs_z"))
      },
      Some(s"""WITH e AS (SELECT vec_id % 2 AS snap,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
          FROM embeddings WHERE $sqlValidEmb),
        el AS (SELECT snap, unnest(range(0, len(xs))) AS pos,
            round(unnest(xs), 6) AS x FROM e),
        m AS (SELECT pos,
            CAST(COUNT(CASE WHEN snap = 0 THEN 1 END) AS BIGINT) AS n_p,
            SUM(CASE WHEN snap = 0 THEN CAST(x AS DECIMAL(18,6)) END) AS s_p,
            SUM(CASE WHEN snap = 0 THEN CAST(x * x AS DECIMAL(28,12)) END)
              AS ss_p,
            CAST(COUNT(CASE WHEN snap = 1 THEN 1 END) AS BIGINT) AS n_n,
            SUM(CASE WHEN snap = 1 THEN CAST(x AS DECIMAL(18,6)) END) AS s_n
          FROM el GROUP BY 1),
        t AS (SELECT pos,
            CAST(s_p AS DOUBLE) / CAST(n_p AS DOUBLE) AS mu_p,
            CAST(s_n AS DOUBLE) / CAST(n_n AS DOUBLE) AS mu_n,
            greatest(CAST(ss_p AS DOUBLE) / CAST(n_p AS DOUBLE)
              - (CAST(s_p AS DOUBLE) / CAST(n_p AS DOUBLE))
                * (CAST(s_p AS DOUBLE) / CAST(n_p AS DOUBLE)), 0.0) AS var_p
          FROM m),
        z AS (SELECT pos, mu_p, mu_n, var_p,
            round((mu_n - mu_p) / greatest(sqrt(var_p), 1e-6), 6) AS z
          FROM t)
        SELECT CAST(pos AS BIGINT) AS pos, mu_p, mu_n,
          round(sqrt(var_p), 6) AS std_p, z,
          MAX(abs(z)) OVER () AS max_abs_z,
          CAST(CAST(SUM(CAST(abs(z) AS DECIMAL(18,6))) OVER ()
              AS DECIMAL(38,6)) AS DOUBLE)
            / CAST(CAST(COUNT(*) OVER () AS BIGINT) AS DOUBLE) AS mean_abs_z
        FROM z""")),

    // ---- pairwise-cosine isotropy histogram -------------------------------
    // The embedding-space health check the drift monitor (e29) doesn't
    // give: the DISTRIBUTION of similarities between unrelated vectors.
    // An isotropic space concentrates random-pair cosine near 0; a
    // collapsed/anisotropic one (the classic "all sentence embeddings
    // look alike" failure) shifts the whole histogram right — the
    // diagnostic to run BEFORE trusting any fixed similarity threshold
    // (e04/d42's 0.9, e03's 0.4). Pairs are a deterministic bounded
    // sample: (v, v+δ) for δ ∈ {1, 7, 49} — three id-offset families, no
    // randomness, ~3n pairs.
    //
    // Scale shape: three narrow equi-joins on vec_id (each vector meets a
    // CONSTANT number of partners — never a cross join), one map-side
    // fold onto the fixed 20-bin grid; the share window runs on 20 rows.
    //
    // Exactness: the cosine fold is the documented bit-identical pair
    // (strict left fold in both engines); bin flooring consumes those
    // identical doubles; per-bin means round each cosine to 6 dp and sum
    // as exact decimals.
    GraftQuery(
      "e30_pair_cos_histogram",
      (s, d) => {
        val w = Window.partitionBy(lit(1))
        val e = embAsDouble(s, d, "emb")
        val a = e.select(col("vec_id").as("a_id"), col("emb").as("a_emb"))
        val pairs = Seq(1L, 7L, 49L)
          .map(o => a.withColumn("b_id", col("a_id") + lit(o)))
          .reduce(_ unionAll _)
          .join(e.select(col("vec_id").as("b_id"), col("emb").as("b_emb")),
            Seq("b_id"))
          .withColumn("cos", cosine(col("a_emb"), col("b_emb")))
        pairs
          // a zero-norm vector has NO cosine (NULL): without this filter
          // greatest(0, NULL) files the pair into bin 0's anti-aligned
          // mass in BOTH engines — undefined pairs carry no signal
          .filter(col("cos").isNotNull)
          .select(least(lit(19L), greatest(lit(0L),
            floor((col("cos") + lit(1.0)) * lit(10.0)).cast("long")))
            .as("bin"),
            col("cos"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(round(col("cos"), 6).cast("decimal(18,6)")).as("cos_sum"))
          .withColumn("share", round(col("n_pairs").cast("double")
            / sum(col("n_pairs")).over(w).cast("double"), 6))
          .select(col("bin"), col("n_pairs"), col("share"),
            round(col("cos_sum").cast("double")
              / col("n_pairs").cast("double"), 6).as("mean_cos"))
      },
      Some(s"""WITH e AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings WHERE $sqlValidEmb),
        p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
            ${sqlCos("a.emb", "b.emb")} AS cos
          FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
          UNION ALL
          SELECT a.vec_id, b.vec_id, ${sqlCos("a.emb", "b.emb")}
          FROM e a JOIN e b ON b.vec_id = a.vec_id + 7
          UNION ALL
          SELECT a.vec_id, b.vec_id, ${sqlCos("a.emb", "b.emb")}
          FROM e a JOIN e b ON b.vec_id = a.vec_id + 49),
        binned AS (SELECT least(19, greatest(0,
            CAST(floor((cos + 1.0) * 10.0) AS BIGINT))) AS bin, cos
          FROM p WHERE cos IS NOT NULL),
        g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_pairs,
            CAST(SUM(CAST(round(cos, 6) AS DECIMAL(18,6)))
              AS DECIMAL(38,6)) AS cos_sum
          FROM binned GROUP BY 1)
        SELECT bin, n_pairs,
          round(CAST(n_pairs AS DOUBLE) / CAST(CAST(SUM(n_pairs) OVER ()
            AS BIGINT) AS DOUBLE), 6) AS share,
          round(CAST(cos_sum AS DOUBLE) / CAST(n_pairs AS DOUBLE), 6)
            AS mean_cos
        FROM g""")),

    // ---- hubness audit: who keeps showing up in top-k lists ---------------
    // The known pathology of high-dimensional kNN (hub points appear in
    // a disproportionate share of OTHER points' neighbor lists, dragging
    // retrieval quality and dedup precision down with them): over the
    // e18 probe sample, take each probe's top-10 neighbors and count how
    // often each corpus vector is retrieved — the top-20 hubs with their
    // share of all retrievals. A healthy space spreads hits; a hubby one
    // concentrates them (monitor alongside e30's histogram).
    //
    // Scale shape: the probe side is the e18 contract (≥1% modulus
    // sample, broadcast); per-probe top-10 is a rank window whose
    // map-side group limit absorbs the corpus before the exchange; hit
    // counts fold onto the neighbor-id domain; the final top-20 is an
    // orderBy+limit → TakeOrderedAndProject (per-partition heads, never
    // a global sort — the d68/e28 rule); the 1-row total broadcasts.
    //
    // Exactness: counts exact int64; the share divides exact int64s,
    // 6-dp rounded; ranking keys are (count, vec_id) — all integers.
    GraftQuery(
      "e31_hubness_audit",
      (s, d) => {
        val emb = Tables.validEmbeddings(s, d)
          .select(col("vec_id"), asDouble(col("embedding")).as("emb"),
            col("label"))
        val panel = probePanel(s, d)
        val probes = emb.filter(panel)
          .select(col("vec_id").as("a_id"), col("emb").as("a_emb"))
        val w = Window.partitionBy(col("a_id"))
          .orderBy(col("cos_sim").desc, col("b_id").asc)
        val nn = emb.select(col("vec_id").as("b_id"),
            col("emb").as("b_emb"))
          .crossJoin(broadcast(probes))
          .filter(col("a_id") =!= col("b_id"))
          .withColumn("cos_sim", cosine(col("a_emb"), col("b_emb")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select(col("a_id"), col("b_id"))
        // the retrieval total is ANALYTIC — every probe emits exactly
        // min(10, n−1) rows — so it never re-evaluates the expensive
        // probes × corpus lineage as a second consumer (a
        // count-the-frame branch was tried: differently-pruned subtrees
        // defeat ReuseExchange and the scan ran twice; a localCheckpoint
        // barrier was tried too and measured SLOWER, 64× stress
        // 11.5 s → 16.8 s, than just letting the one consumer pipeline).
        // n is the memoized corpus size; the probe count is one pruned
        // id-column count — both bounded construction-time actions of
        // the established e-family class.
        val n = ivfCorpusSize(s, d)
        val nProbes = Tables.validEmbeddings(s, d).filter(panel).count()
        val total = nProbes * math.min(10L, math.max(n - 1, 0L))
        val hubs = nn.groupBy(col("b_id"))
          .agg(count(lit(1)).as("n_hits"))
          .orderBy(col("n_hits").desc, col("b_id").asc)
          .limit(20)
        hubs
          .join(emb.select(col("vec_id").as("b_id"), col("label")),
            Seq("b_id"))
          .select(col("b_id").as("vec_id"), col("label"), col("n_hits"),
            round(col("n_hits").cast("double")
              / lit(total).cast("double"), 6).as("hit_share"))
          .withColumn("hub_rank", row_number().over(
            Window.partitionBy(lit(1))
              .orderBy(col("n_hits").desc, col("vec_id").asc))
            .cast("bigint"))
      },
      Some(s"""WITH b AS (SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings WHERE $sqlValidEmb),
        ${sqlProbesCte()},
        nn AS (SELECT a_id, b_id FROM (
          SELECT p.a_id, c.vec_id AS b_id,
            row_number() OVER (PARTITION BY p.a_id
              ORDER BY ${sqlCos("p.ae", "c.e")} DESC, c.vec_id ASC) AS rn
          FROM probes p JOIN b c ON p.a_id <> c.vec_id) t WHERE rn <= 10),
        tot AS (SELECT CAST((SELECT COUNT(*) FROM probes)
            * least(10, greatest((SELECT COUNT(*) FROM b) - 1, 0))
            AS BIGINT) AS total),
        h AS (SELECT b_id, CAST(COUNT(*) AS BIGINT) AS n_hits
          FROM nn GROUP BY 1),
        top AS (SELECT b_id, n_hits FROM h
          ORDER BY n_hits DESC, b_id ASC LIMIT 20)
        SELECT t.b_id AS vec_id, b.label, t.n_hits,
          round(CAST(t.n_hits AS DOUBLE) / CAST(tot.total AS DOUBLE), 6)
            AS hit_share,
          CAST(row_number() OVER (ORDER BY t.n_hits DESC, t.b_id ASC)
            AS BIGINT) AS hub_rank
        FROM top t JOIN b ON t.b_id = b.vec_id, tot""")),

    // ---- LSH bucket-balance audit (the shard straggler readout) -----------
    // Every bucketed plan in the e-family (e02/e03, the IVF cells, e24's
    // shards) assumes buckets stay near TargetBucket-sized; a skewed
    // hash family or a degenerate corpus (all vectors in one orthant)
    // silently turns one bucket into the straggler that bounds every
    // stage. This audits the assumption: bucket-size histogram on a
    // log2 grid plus the two scalars a capacity review reads — max
    // bucket size and the max/mean imbalance factor.
    //
    // Scale shape: one fold onto the ≤2^MaxBits bucket domain (map-side
    // partials), then a fold onto the ≤64-bin log2 grid; the scalar
    // windows run on the bounded grid. log2 is INTEGER-exact via
    // length(bin(sz))−1 — never a libm log2 at a power-of-two boundary.
    //
    // Exactness: all counts int64; shares/imbalance divide exact int64s
    // as double, 6-dp rounded.
    GraftQuery(
      "e32_bucket_balance",
      (s, d) => {
        val w = Window.partitionBy(lit(1))
        bucketed(s, d)
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("sz"))
          .select((length(bin(col("sz"))) - 1).cast("bigint")
            .as("size_log2"), col("sz"))
          .groupBy(col("size_log2"))
          .agg(count(lit(1)).as("n_buckets"),
            sum(col("sz")).as("n_vectors"),
            max(col("sz")).as("bin_max"))
          .withColumn("tot_vec", sum(col("n_vectors")).over(w))
          .withColumn("tot_bkt", sum(col("n_buckets")).over(w))
          .withColumn("max_size", max(col("bin_max")).over(w))
          .select(col("size_log2"), col("n_buckets"), col("n_vectors"),
            round(col("n_vectors").cast("double")
              / col("tot_vec").cast("double"), 6).as("vector_share"),
            col("max_size"),
            round(col("max_size").cast("double")
              / (col("tot_vec").cast("double")
                / col("tot_bkt").cast("double")), 6).as("imbalance"))
      },
      Some(s"""WITH $sqlBitsCte,
        bk AS (SELECT ${sqlSignBucket("embedding", "bits")} AS bucket
          FROM embeddings, nb WHERE $sqlValidEmb),
        sz AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS sz
          FROM bk GROUP BY 1),
        lg AS (SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS size_log2,
            sz FROM sz),
        g AS (SELECT size_log2, CAST(COUNT(*) AS BIGINT) AS n_buckets,
            CAST(SUM(sz) AS BIGINT) AS n_vectors,
            CAST(MAX(sz) AS BIGINT) AS bin_max
          FROM lg GROUP BY 1),
        t AS (SELECT *,
            CAST(SUM(n_vectors) OVER () AS BIGINT) AS tot_vec,
            CAST(SUM(n_buckets) OVER () AS BIGINT) AS tot_bkt,
            CAST(MAX(bin_max) OVER () AS BIGINT) AS max_size
          FROM g)
        SELECT size_log2, n_buckets, n_vectors,
          round(CAST(n_vectors AS DOUBLE) / CAST(tot_vec AS DOUBLE), 6)
            AS vector_share,
          max_size,
          round(CAST(max_size AS DOUBLE)
            / (CAST(tot_vec AS DOUBLE) / CAST(tot_bkt AS DOUBLE)), 6)
            AS imbalance
        FROM t""")),

    // ---- embedding L2-norm distribution audit ------------------------------
    // The third embedding-space health check next to e30 (pair cosine)
    // and e29 (per-dim drift): the NORM distribution. A healthy encoder
    // emits norms in a tight band; zero-norm rows (padding, failed
    // inference) poison every cosine downstream (they're exactly the
    // NULL-cosine rows e30 has to filter), and a drifting norm band
    // breaks dot-product shortcuts. Per integer norm bin (clamped at
    // 19+): vector count, share, exact mean norm — plus the corpus-wide
    // zero-norm count, the single scalar the ingest alarm fires on.
    //
    // Scale shape: one narrow codegen'd norm pass folds map-side onto
    // the ≤20-bin grid; share/zero windows run on that grid.
    //
    // Exactness: the norm fold is the documented bit-identical pair
    // (strict left fold + IEEE sqrt); flooring consumes identical
    // doubles; per-bin means round each norm to 6 dp and sum as exact
    // decimals.
    GraftQuery(
      "e33_norm_audit",
      (s, d) => {
        val w = Window.partitionBy(lit(1))
        Tables.validEmbeddings(s, d)
          .select(norm(asDouble(col("embedding"))).as("nrm"))
          .groupBy(least(lit(19L), greatest(lit(0L),
            floor(col("nrm")).cast("long"))).as("norm_bin"))
          .agg(count(lit(1)).as("n_vectors"),
            sum(round(col("nrm"), 6).cast("decimal(18,6)")).as("nrm_sum"),
            sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero"))
          .withColumn("share", round(col("n_vectors").cast("double")
            / sum(col("n_vectors")).over(w).cast("double"), 6))
          .withColumn("zero_norm_total", sum(col("n_zero")).over(w))
          .select(col("norm_bin"), col("n_vectors"), col("share"),
            round(col("nrm_sum").cast("double")
              / col("n_vectors").cast("double"), 6).as("mean_norm"),
            col("zero_norm_total"))
      },
      Some(s"""WITH e AS (SELECT
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
          FROM embeddings WHERE $sqlValidEmb),
        nm AS (SELECT ${graft.functions.VectorFunctions.sqlNorm("xs")}
            AS nrm FROM e),
        g AS (SELECT least(19, greatest(0,
              CAST(floor(nrm) AS BIGINT))) AS norm_bin,
            CAST(COUNT(*) AS BIGINT) AS n_vectors,
            CAST(SUM(CAST(round(nrm, 6) AS DECIMAL(18,6)))
              AS DECIMAL(38,6)) AS nrm_sum,
            CAST(SUM(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_zero
          FROM nm GROUP BY 1)
        SELECT norm_bin, n_vectors,
          round(CAST(n_vectors AS DOUBLE) / CAST(CAST(SUM(n_vectors)
            OVER () AS BIGINT) AS DOUBLE), 6) AS share,
          round(CAST(nrm_sum AS DOUBLE) / CAST(n_vectors AS DOUBLE), 6)
            AS mean_norm,
          CAST(SUM(n_zero) OVER () AS BIGINT) AS zero_norm_total
        FROM g""")),

    // ---- metric-choice agreement: cosine vs raw dot-product top-10 ---------
    // The follow-up question e33's norm spread raises: does the metric
    // CHOICE matter on this corpus? If norms are near-constant, cosine
    // and inner-product rankings coincide and the cheaper dot (no norm
    // divide, MIPS-friendly index layouts) is safe; a low overlap says
    // normalization is load-bearing and every dot-trained index needs
    // re-normalized vectors. Per e18-panel probe: the top-10 overlap
    // count between the two rankings and its Jaccard, plus the
    // panel-mean overlap scalar.
    //
    // Scale shape: ONE broadcast-probe scan computes both scores; the
    // two rank windows share the same a_id exchange (the e22
    // dual-ranking harness); the overlap fold and the mean window run
    // on the bounded probe panel.
    //
    // Exactness: both scores are the documented bit-identical folds;
    // ranking keys tie-break on b_id; overlap counts are exact int64,
    // the mean sums them as exact decimals over the panel.
    GraftQuery(
      "e34_metric_agreement",
      (s, d) => {
        val emb = embAsDouble(s, d, "emb")
        val probes = emb.filter(probePanel(s, d))
          .select(col("vec_id").as("a_id"), col("emb").as("a_emb"))
        val wc = Window.partitionBy(col("a_id"))
          .orderBy(col("cos_sim").desc, col("b_id").asc)
        val wd = Window.partitionBy(col("a_id"))
          .orderBy(col("dot_sim").desc, col("b_id").asc)
        val ranked = emb.select(col("vec_id").as("b_id"),
            col("emb").as("b_emb"))
          .crossJoin(broadcast(probes))
          .filter(col("a_id") =!= col("b_id"))
          .withColumn("cos_sim", cosine(col("a_emb"), col("b_emb")))
          .withColumn("dot_sim", dot(col("a_emb"), col("b_emb")))
          .withColumn("rc", row_number().over(wc))
          .withColumn("rd", row_number().over(wd))
          .filter(col("rc") <= 10 || col("rd") <= 10)
        val w = Window.partitionBy(lit(1))
        // The union size derives from the ACTUAL list lengths (a corpus
        // with ≤ 10 valid partners yields identical (n−1)-item lists —
        // a hard-coded 20 would mislabel that perfect agreement).
        ranked.groupBy(col("a_id"))
          .agg(sum(when(col("rc") <= 10 && col("rd") <= 10, 1L)
            .otherwise(0L)).as("n_overlap"),
            sum(when(col("rc") <= 10, 1L).otherwise(0L)).as("n_c"),
            sum(when(col("rd") <= 10, 1L).otherwise(0L)).as("n_d"))
          .withColumn("jaccard10",
            round(col("n_overlap").cast("double")
              / (col("n_c") + col("n_d") - col("n_overlap"))
                .cast("double"), 6))
          .withColumn("mean_overlap",
            round(sum(col("n_overlap")).over(w).cast("double")
              / count(lit(1)).over(w).cast("double"), 6))
          .select(col("a_id").as("probe_id"), col("n_overlap"),
            col("jaccard10"), col("mean_overlap"))
      },
      Some(s"""WITH ${sqlEmbCte("b")},
        ${sqlProbesCte()},
        sc AS (SELECT p.a_id, c.vec_id AS b_id,
            row_number() OVER (PARTITION BY p.a_id
              ORDER BY ${sqlCos("p.ae", "c.e")} DESC, c.vec_id ASC) AS rc,
            row_number() OVER (PARTITION BY p.a_id
              ORDER BY ${sqlDot("p.ae", "c.e")} DESC, c.vec_id ASC) AS rd
          FROM probes p JOIN b c ON p.a_id <> c.vec_id),
        ov AS (SELECT a_id,
            CAST(SUM(CASE WHEN rc <= 10 AND rd <= 10 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_overlap,
            CAST(SUM(CASE WHEN rc <= 10 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_c,
            CAST(SUM(CASE WHEN rd <= 10 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_d
          FROM sc WHERE rc <= 10 OR rd <= 10 GROUP BY 1)
        SELECT a_id AS probe_id, n_overlap,
          round(CAST(n_overlap AS DOUBLE)
            / CAST(n_c + n_d - n_overlap AS DOUBLE), 6) AS jaccard10,
          round(CAST(CAST(SUM(n_overlap) OVER () AS BIGINT) AS DOUBLE)
            / CAST(CAST(COUNT(*) OVER () AS BIGINT) AS DOUBLE), 6)
            AS mean_overlap
        FROM ov""")),

    // ---- IVF cell-quality audit (coherence + margin per cell) --------------
    // The index-health readout behind e05/e14/e17: per cell, how COHERENT
    // its members are (mean cosine to the assigned centroid) and how
    // DECISIVE the assignment was (mean margin best − second-best
    // centroid cosine) — low-margin cells are where nprobe=1 recall
    // dies, and a skewed share column is a straggler cell (e32's story
    // at the quantizer level). Runs e14's pinned degenerate geometry
    // (k = 8 lowest-id centroids, 0 Lloyd steps) so the whole audit is
    // DuckDB-checkable; e05's Lloyd-trained path shares the assignment
    // rule by construction (cellOf argmax, ties to the lower cell).
    //
    // Scale shape: centroids inline as literals (no join); the 8-way
    // score explode is a bounded narrow fan-out; the per-vector rank
    // window shuffles once on vec_id; the final fold is onto the 8-cell
    // domain.
    //
    // Exactness: cosines are the bit-identical strict folds; best and
    // margin round at 6 dp (≤ 1-magnitude, effectively-infinite
    // expansions — no tie exposure) and sum as exact decimals.
    GraftQuery(
      "e35_ivf_cell_quality",
      (s, d) => {
        val emb = Tables.validEmbeddings(s, d)
        val (centroids, _) = pinnedIvf(emb)
        val base = emb.select(col("vec_id"),
          asDouble(col("embedding")).as("emb"))
        if (centroids.isEmpty)
          // Empty corpus: zero rows, correct schema (array() of zero
          // struct columns would fail analysis).
          base.select(lit(0L).as("cell"), lit(0L).as("n_vectors"),
            lit(0.0).as("share"), lit(0.0).as("mean_cos"),
            lit(0.0).as("mean_margin")).filter(lit(false))
        else {
          val scored = explode(array(centroids.zipWithIndex.map {
            case (c, i) =>
              struct(lit(i.toLong).as("cell"),
                cosine(col("emb"), typedlit(c)).as("cs"))
          }: _*))
          val wv = Window.partitionBy(col("vec_id"))
            .orderBy(col("cs").desc, col("cell").asc)
          val w = Window.partitionBy(lit(1))
          base.select(col("vec_id"), scored.as("sc"))
            .select(col("vec_id"), col("sc.cell").as("cell"),
              col("sc.cs").as("cs"))
            .withColumn("rn", row_number().over(wv))
            .filter(col("rn") <= 2)
            .groupBy(col("vec_id"))
            .agg(max(when(col("rn") === 1, col("cell"))).as("cell"),
              max(when(col("rn") === 1, col("cs"))).as("best"),
              max(when(col("rn") === 2, col("cs"))).as("second"))
            .groupBy(col("cell"))
            .agg(count(lit(1)).as("n_vectors"),
              sum(round(col("best"), 6).cast("decimal(18,6)")).as("bsum"),
              sum(round(col("best") - col("second"), 6)
                .cast("decimal(18,6)")).as("msum"))
            .withColumn("share", round(col("n_vectors").cast("double")
              / sum(col("n_vectors")).over(w).cast("double"), 6))
            .select(col("cell"), col("n_vectors"), col("share"),
              round(col("bsum").cast("double")
                / col("n_vectors").cast("double"), 6).as("mean_cos"),
              round(col("msum").cast("double")
                / col("n_vectors").cast("double"), 6).as("mean_margin"))
        }
      },
      Some(s"""WITH ${sqlEmbCte("v")},
        ${sqlPinnedCentroidsCte("v")},
        sc AS (SELECT v.vec_id, c.cell,
            ${sqlCos("v.e", "c.ce")} AS cs,
            row_number() OVER (PARTITION BY v.vec_id
              ORDER BY ${sqlCos("v.e", "c.ce")} DESC, c.cell ASC) AS rn
          FROM v, c),
        a AS (SELECT vec_id,
            MAX(CASE WHEN rn = 1 THEN cell END) AS cell,
            MAX(CASE WHEN rn = 1 THEN cs END) AS best,
            MAX(CASE WHEN rn = 2 THEN cs END) AS second
          FROM sc WHERE rn <= 2 GROUP BY 1),
        g AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors,
            SUM(CAST(round(best, 6) AS DECIMAL(18,6))) AS bsum,
            SUM(CAST(round(best - second, 6) AS DECIMAL(18,6))) AS msum
          FROM a GROUP BY 1)
        SELECT CAST(cell AS BIGINT) AS cell, n_vectors,
          round(CAST(n_vectors AS DOUBLE) / CAST(CAST(SUM(n_vectors)
            OVER () AS BIGINT) AS DOUBLE), 6) AS share,
          round(CAST(bsum AS DOUBLE) / CAST(n_vectors AS DOUBLE), 6)
            AS mean_cos,
          round(CAST(msum AS DOUBLE) / CAST(n_vectors AS DOUBLE), 6)
            AS mean_margin
        FROM g""")),

    // ---- cosine range search (radius query, the top-k family's dual) -------
    // faiss range_search semantics: per e18-panel probe, every neighbor
    // with cosine ≥ τ = 0.25 — the shape retrieval uses when the
    // QUESTION is "how many near-duplicates/how dense is this
    // neighborhood", where a fixed k either truncates dense regions or
    // pads sparse ones. Per probe: candidate count, in-range count and
    // fraction, mean/max in-range cosine.
    //
    // Scale shape: ONE broadcast-probe scan (the e18 harness); the fold
    // is map-side per probe — no rank window at all, which is the point:
    // range search needs no global ordering, so it scales strictly
    // better than top-k on the same panel.
    //
    // Exactness: cosines are bit-identical folds; the τ compare runs on
    // identical doubles; in-range cosines round at 6 dp (≤ 1 magnitude)
    // and sum as exact decimals; mean NULLs when nothing is in range.
    GraftQuery(
      "e36_range_search",
      (s, d) => {
        val emb = embAsDouble(s, d, "emb")
        val probes = emb.filter(probePanel(s, d))
          .select(col("vec_id").as("a_id"), col("emb").as("a_emb"))
        emb.select(col("vec_id").as("b_id"), col("emb").as("b_emb"))
          .crossJoin(broadcast(probes))
          .filter(col("a_id") =!= col("b_id"))
          .withColumn("cs", cosine(col("a_emb"), col("b_emb")))
          .groupBy(col("a_id"))
          .agg(count(lit(1)).as("n_candidates"),
            sum(when(col("cs") >= 0.25, 1L).otherwise(0L)).as("n_in_range"),
            sum(when(col("cs") >= 0.25,
              round(col("cs"), 6).cast("decimal(18,6)"))).as("csum"),
            max(when(col("cs") >= 0.25, round(col("cs"), 6))).as("max_cos"))
          .select(col("a_id").as("probe_id"), col("n_candidates"),
            col("n_in_range"),
            round(col("n_in_range").cast("double")
              / col("n_candidates").cast("double"), 6).as("in_range_frac"),
            when(col("n_in_range") === 0L, lit(null).cast("double"))
              .otherwise(round(col("csum").cast("double")
                / col("n_in_range").cast("double"), 6)).as("mean_cos"),
            col("max_cos"))
      },
      Some(s"""WITH ${sqlEmbCte("b")},
        ${sqlProbesCte()},
        sc AS (SELECT p.a_id, ${sqlCos("p.ae", "c.e")} AS cs
          FROM probes p JOIN b c ON p.a_id <> c.vec_id),
        g AS (SELECT a_id, CAST(COUNT(*) AS BIGINT) AS n_candidates,
            CAST(SUM(CASE WHEN cs >= 0.25 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_in_range,
            SUM(CASE WHEN cs >= 0.25
              THEN CAST(round(cs, 6) AS DECIMAL(18,6)) END) AS csum,
            MAX(CASE WHEN cs >= 0.25 THEN round(cs, 6) END) AS max_cos
          FROM sc GROUP BY 1)
        SELECT a_id AS probe_id, n_candidates, n_in_range,
          round(CAST(n_in_range AS DOUBLE) / CAST(n_candidates AS DOUBLE),
            6) AS in_range_frac,
          CASE WHEN n_in_range = 0 THEN NULL
            ELSE round(CAST(csum AS DOUBLE) / CAST(n_in_range AS DOUBLE),
              6) END AS mean_cos,
          max_cos
        FROM g""")),

    // ---- hybrid retrieval: RRF fusion of BM25 and cosine rankings ----------
    // The hybrid-search primitive every production retrieval stack runs:
    // reciprocal-rank fusion (k = 60) of d84's BM25 lexical top-50 with
    // the cosine top-50 against the vec_id = 0 probe (vec_id ≡ doc_id
    // on the fixtures, the d42 contract). List-based RRF: a doc absent
    // from a list contributes 0 from it — the standard top-K fusion,
    // which is also the scale contract (fusing full corpus rankings
    // would need corpus-wide rank windows; fusing two bounded lists
    // needs none).
    //
    // Scale shape: both arms end in orderBy+limit (TakeOrderedAndProject
    // — map-side k rows per task); the rank windows and the full-outer
    // join run on ≤ 50-row lists; the fused cut is again a bounded
    // order/limit.
    //
    // Exactness: ranks are exact ints; each RRF term 1/(60+r) rounds at
    // 6 dp (no denominator in [61, 110] yields a 7-digit terminating
    // decimal, so no tie) and the fused score sums them as exact
    // decimals — the final ordering compares exact decimal-derived
    // doubles.
    GraftQuery(
      "e37_rrf_hybrid",
      (s, d) => {
        val wl = Window.partitionBy(lit(1))
          .orderBy(col("score").desc, col("doc_id").asc)
        val lexTop = TextQueries.bm25Scored(s, d)
          .orderBy(col("score").desc, col("doc_id").asc).limit(50)
          .withColumn("lex_rank", row_number().over(wl).cast("bigint"))
          .select(col("doc_id"), col("lex_rank"))
        val emb = embAsDouble(s, d, "emb")
        val probe = emb.filter(col("vec_id") === 0L)
          .select(col("emb").as("q_emb"))
        val wv = Window.partitionBy(lit(1))
          .orderBy(col("cs").desc, col("doc_id").asc)
        val vecTop = emb.filter(col("vec_id") =!= 0L)
          .crossJoin(broadcast(probe))
          .select(col("vec_id").as("doc_id"),
            cosine(col("emb"), col("q_emb")).as("cs"))
          .orderBy(col("cs").desc, col("doc_id").asc).limit(50)
          .withColumn("vec_rank", row_number().over(wv).cast("bigint"))
          .select(col("doc_id"), col("vec_rank"))
        val zero6 = lit(java.math.BigDecimal.ZERO).cast("decimal(18,6)")
        def term(r: org.apache.spark.sql.Column) =
          coalesce(round(lit(1.0) / (lit(60.0) + r.cast("double")), 6)
            .cast("decimal(18,6)"), zero6)
        val wf = Window.partitionBy(lit(1))
          .orderBy(col("rrf_score").desc, col("doc_id").asc)
        lexTop.join(vecTop, Seq("doc_id"), "full_outer")
          .withColumn("rrf_score",
            (term(col("lex_rank")) + term(col("vec_rank"))).cast("double"))
          .orderBy(col("rrf_score").desc, col("doc_id").asc).limit(10)
          .withColumn("rank", row_number().over(wf).cast("bigint"))
          .select(col("rank"), col("doc_id"), col("lex_rank"),
            col("vec_rank"), col("rrf_score"))
      },
      Some(s"""WITH ${TextQueries.sqlBm25Ctes},
        lex AS (SELECT doc_id,
            CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
              AS BIGINT) AS lex_rank
          FROM (SELECT * FROM bm ORDER BY score DESC, doc_id ASC LIMIT 50)
            t),
        ${sqlEmbCte("v")},
        ${sqlProbeCte("v")},
        vt AS (SELECT doc_id,
            CAST(row_number() OVER (ORDER BY cs DESC, doc_id ASC)
              AS BIGINT) AS vec_rank
          FROM (SELECT c.vec_id AS doc_id, ${sqlCos("c.e", "qe")} AS cs
              FROM v c, q WHERE c.vec_id <> 0
              ORDER BY cs DESC, doc_id ASC LIMIT 50) t),
        f AS (SELECT COALESCE(lex.doc_id, vt.doc_id) AS doc_id,
            lex_rank, vec_rank
          FROM lex FULL OUTER JOIN vt ON lex.doc_id = vt.doc_id),
        r AS (SELECT *, CAST(
            COALESCE(CAST(round(1.0 / (60.0 + CAST(lex_rank AS DOUBLE)),
              6) AS DECIMAL(18,6)), 0)
            + COALESCE(CAST(round(1.0 / (60.0 + CAST(vec_rank AS DOUBLE)),
              6) AS DECIMAL(18,6)), 0) AS DOUBLE) AS rrf_score
          FROM f)
        SELECT CAST(row_number() OVER (ORDER BY rrf_score DESC,
            doc_id ASC) AS BIGINT) AS rank,
          doc_id, lex_rank, vec_rank, rrf_score
        FROM (SELECT * FROM r ORDER BY rrf_score DESC, doc_id ASC
          LIMIT 10) t""")),

    // ---- IVF probe scan-cost model (the COST axis of e17's recall curve) ---
    // e17 answers "what recall does nprobe buy"; this answers "what does
    // nprobe COST": per nprobe ∈ {1,2,4,8}, the cumulative candidate
    // count an in-cell scan must score (the probe's nearest cells by
    // centroid cosine) and its corpus share — together they are the
    // recall/cost frontier a deployment picks its operating point from.
    // Runs e14's pinned degenerate geometry so the whole table is
    // DuckDB-checkable; skewed marginal_cell_size columns are e35's
    // straggler story made billable.
    //
    // Scale shape: cell sizes are an 8-row fold of the assignment scan;
    // the probe-to-cell ranking is 8 literal cosines on a 1-row frame;
    // everything after lives on the 8-row cell grid.
    //
    // Exactness: counts exact int64; the share is one quotient round
    // (≤ 1 magnitude); cell ranking ties break to the lower cell.
    GraftQuery(
      "e38_probe_cost_model",
      (s, d) => {
        val emb = Tables.validEmbeddings(s, d)
        val (centroids, assigned) = pinnedIvf(emb)
        if (centroids.isEmpty)
          emb.select(lit(0L).as("nprobe"), lit(0L).as("marginal_cell"),
            lit(0L).as("marginal_cell_size"), lit(0L).as("n_candidates"),
            lit(0.0).as("corpus_share")).filter(lit(false))
        else {
          val sizes = assigned.groupBy(col("cell"))
            .agg(count(lit(1)).as("cell_size"))
          val probe = emb.filter(col("vec_id") === 0L)
            .select(asDouble(col("embedding")).as("q_emb"))
          val wr = Window.partitionBy(lit(1)).orderBy(col("rn"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val w = Window.partitionBy(lit(1))
          probe.select(explode(array(centroids.zipWithIndex.map {
              case (c, i) =>
                struct(lit(i).as("cell"),
                  cosine(col("q_emb"), typedlit(c)).as("cs"))
            }: _*)).as("sc"))
            .select(col("sc.cell").as("cell"), col("sc.cs").as("cs"))
            .withColumn("rn", row_number().over(Window.partitionBy(lit(1))
              .orderBy(col("cs").desc, col("cell").asc)))
            .join(sizes, Seq("cell"), "left")
            .withColumn("cell_size", coalesce(col("cell_size"), lit(0L)))
            .withColumn("cum", sum(col("cell_size")).over(wr))
            .withColumn("total", sum(col("cell_size")).over(w))
            .filter(col("rn").isin(1, 2, 4, 8))
            .select(col("rn").cast("bigint").as("nprobe"),
              col("cell").cast("bigint").as("marginal_cell"),
              col("cell_size").as("marginal_cell_size"),
              col("cum").as("n_candidates"),
              round(col("cum").cast("double")
                / col("total").cast("double"), 6).as("corpus_share"))
        }
      },
      Some(s"""WITH ${sqlEmbCte("v")},
        ${sqlPinnedCentroidsCte("v")},
        ac AS (SELECT vec_id, cell FROM (
            SELECT v.vec_id, c.cell,
              row_number() OVER (PARTITION BY v.vec_id
                ORDER BY ${sqlCos("v.e", "c.ce")} DESC, c.cell ASC) AS rn
            FROM v, c) t WHERE rn = 1),
        sizes AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS cell_size
          FROM ac GROUP BY 1),
        ${sqlProbeCte("v")},
        pr AS (SELECT c.cell, $sqlCellRank AS rn
          FROM c, q),
        j AS (SELECT pr.rn, pr.cell, COALESCE(s.cell_size, 0) AS cell_size
          FROM pr LEFT JOIN sizes s ON pr.cell = s.cell),
        x AS (SELECT *,
            CAST(SUM(cell_size) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
            CAST(SUM(cell_size) OVER () AS BIGINT) AS total
          FROM j)
        SELECT CAST(rn AS BIGINT) AS nprobe,
          CAST(cell AS BIGINT) AS marginal_cell,
          CAST(cell_size AS BIGINT) AS marginal_cell_size,
          cum AS n_candidates,
          round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6)
            AS corpus_share
        FROM x WHERE rn IN (1, 2, 4, 8)""")),

    // ---- per-cell tombstone staleness (the e27 compaction trigger as a
    // cell-domain TABLE) ----------------------------------------------------
    // e27 measures tombstone pollution per PROBE (what a searcher
    // experiences); this is the INDEX-side readout the compaction policy
    // actually consumes: per IVF cell, total/tombstoned/live members,
    // staleness, and the >50% compact flag. The batch face of the tenth
    // bounded-state sketch (Sketches.cellLiveCounts — the streaming
    // maintenance path reads the SAME substrate off the index mutation
    // feed, StatefulOpsSpec), on e14's pinned degenerate geometry and
    // e27's vec_id % 7 tombstone rule so every number is
    // oracle-checkable.
    //
    // Scale shape: the cell assignment scan folds map-side onto the
    // 8-cell domain (ONE exchange carrying ≤ |cells| conditional-count
    // rows); everything after is grid arithmetic. At a real index scale
    // the same fold runs over the (id, cell, codes) index table — the
    // corpus vectors never move.
    //
    // Exactness: counts exact int64; staleness is one quotient round
    // (n_total ≥ 1 by construction — a group only exists with a member);
    // the flag is integer arithmetic (2·tomb > total, never a double
    // threshold).
    GraftQuery(
      "e39_cell_staleness",
      (s, d) => {
        import graft.operators.Sketches
        val emb = Tables.validEmbeddings(s, d)
        val (centroids, assigned) = pinnedIvf(emb)
        if (centroids.isEmpty)
          emb.select(lit(0L).as("cell"), lit(0L).as("n_total"),
            lit(0L).as("n_tomb"), lit(0L).as("n_live"),
            lit(0.0).as("staleness"), lit(0).as("compact_flag"))
            .filter(lit(false))
        else
          Sketches.cellLiveCounts(
              assigned.select(col("cell").cast("bigint").as("cell"),
                (col("vec_id") % 7 === 0).as("deleted")),
              "cell", "deleted")
            .select(col("cell"), col("n_total"), col("n_tomb"),
              (col("n_total") - col("n_tomb")).as("n_live"),
              round(col("n_tomb").cast("double")
                / col("n_total").cast("double"), 6).as("staleness"),
              (col("n_tomb") * 2L > col("n_total")).cast("int")
                .as("compact_flag"))
      },
      Some(s"""WITH ${sqlEmbCte("v")},
        ${sqlPinnedCentroidsCte("v")},
        ac AS (SELECT vec_id, cell FROM (
            SELECT v.vec_id, c.cell,
              row_number() OVER (PARTITION BY v.vec_id
                ORDER BY ${sqlCos("v.e", "c.ce")} DESC, c.cell ASC) AS rn
            FROM v, c) t WHERE rn = 1),
        g AS (SELECT CAST(cell AS BIGINT) AS cell,
            CAST(COUNT(*) AS BIGINT) AS n_total,
            CAST(SUM(CASE WHEN vec_id % 7 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_tomb
          FROM ac GROUP BY 1)
        SELECT cell, n_total, n_tomb, n_total - n_tomb AS n_live,
          round(CAST(n_tomb AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
            AS staleness,
          CAST(CASE WHEN n_tomb * 2 > n_total THEN 1 ELSE 0 END AS INT)
            AS compact_flag
        FROM g""")),

    // ---- PQ per-subspace distortion audit ----------------------------------
    // e08 reports the SQ codec's reconstruction error; the PQ side had
    // recall evals (e13/e15) but no distortion table — and distortion is
    // the signal that says WHICH subspace's codebook is starving (a high
    // per-subspace MSE means those 8 dims need more codewords or a
    // rotation, the faiss OPQ decision input). Per subspace: vector
    // count, mean and max squared reconstruction error under e15's
    // pinned degenerate codebooks (16 lowest-id normalized vectors,
    // 0 Lloyd steps), so every number is oracle-checkable through the
    // PRODUCTION pqTrain/pqEncode/pqReconstruct path.
    //
    // Scale shape: one narrow scan (encode + reconstruct are literal
    // codebook arithmetic fused into the projection) explodes onto the
    // 8-row subspace domain with map-side partial sums — the d64
    // fixed-grid envelope; nothing after the fold exceeds 8 rows.
    //
    // Exactness: per-(vec, subspace) error is a strict ascending-index
    // fold of (e[i]−r[i])² (the module-contract fold shape, identical
    // in both engines); errors round at 6 dp and SUM as DECIMAL(18,6)
    // (order-free); max over rounded values is order-free; mse is one
    // quotient round.
    GraftQuery(
      "e40_pq_distortion",
      (s, d) => {
        val base = normalizedEmb(s, d)
        val books = pinnedPqBooks(base)
        base
          .withColumn("codes", VectorSearch.pqEncode(col("emb"), books))
          .withColumn("recon",
            VectorSearch.pqReconstruct(col("codes"), books))
          .select(explode(expr(
            """transform(sequence(0, 7), j -> struct(j AS j,
                 aggregate(sequence(0, 7), cast(0.0 as double),
                   (acc, t) -> acc + (emb[j*8+t] - recon[j*8+t])
                     * (emb[j*8+t] - recon[j*8+t])) AS err))"""))
            .as("sj"))
          .select(col("sj.j").cast("bigint").as("subspace"),
            col("sj.err").as("err"))
          .groupBy(col("subspace"))
          .agg(count(lit(1)).as("n_vectors"),
            sum(round(col("err"), 6).cast("decimal(18,6)")).as("se"),
            max(round(col("err"), 6)).as("max_sq_err"))
          .select(col("subspace"), col("n_vectors"),
            round(col("se").cast("double")
              / col("n_vectors").cast("double"), 6).as("mse"),
            col("max_sq_err"))
      },
      Some(s"""WITH $sqlNormalizedCtes,
        ${sqlPinnedPqCtes("b", "e")},
        recon AS (SELECT e.vec_id,
            flatten(list(s.c ORDER BY e.j)) AS r
          FROM enc e JOIN sub s ON e.j = s.j AND e.ci = s.ci
          GROUP BY 1),
        per AS (SELECT b.vec_id, jj.j,
            list_sum(list_transform(range(0, 8), t ->
              (b.e[CAST(jj.j*8+t+1 AS INT)] - r.r[CAST(jj.j*8+t+1 AS INT)])
              * (b.e[CAST(jj.j*8+t+1 AS INT)]
                - r.r[CAST(jj.j*8+t+1 AS INT)]))) AS err
          FROM b JOIN recon r ON b.vec_id = r.vec_id,
            (SELECT unnest(range(0, 8)) AS j) jj),
        g AS (SELECT j AS subspace, CAST(COUNT(*) AS BIGINT) AS n_vectors,
            SUM(CAST(round(err, 6) AS DECIMAL(18,6))) AS se,
            MAX(round(err, 6)) AS max_sq_err
          FROM per GROUP BY 1)
        SELECT CAST(subspace AS BIGINT) AS subspace, n_vectors,
          round(CAST(se AS DOUBLE) / CAST(n_vectors AS DOUBLE), 6) AS mse,
          max_sq_err
        FROM g""")),

    // ---- hard-negative mining (contrastive training pairs) ----------------
    // The pair-mining pass that feeds embedding-model training (the
    // in-batch-negatives literature, e.g. SBERT/DPR-style pipelines): for
    // every anchor, its best SAME-label neighbor (the positive) and its
    // best OTHER-label neighbor (the hard negative — the most confusable
    // impostor), plus the margin between them. Anchors with a small or
    // negative margin are exactly the training pairs worth mining; e18
    // audits label purity in aggregate, this emits the per-anchor pairs a
    // trainer consumes.
    //
    // Scale shape: candidates come from the CandCap-capped in-bucket pair
    // frame (corpus-derived bits keep expected bucket size ~TargetBucket,
    // and the pre-expansion slice hard-bounds a hot orthant, so pair
    // volume is ≤ CandCap²/2 per bucket, never g²); each unordered pair
    // scores one symmetric cosine and explodes into both directions;
    // per-anchor election is row_number over (anchor, same-label) with
    // map-side WindowGroupLimit before the anchor shuffle; the final left
    // join-back keeps anchors whose bucket offered no positive/negative
    // (null columns — real at scale where a rare label sits alone in its
    // bucket).
    //
    // Exactness: cosines are the engine-pinned strict left folds
    // (bit-identical doubles in both engines), ties break on b_id, and
    // the margin is a single subtraction of two identical doubles.
    // NULL labels are excluded on BOTH sides (the e23 convention): a
    // vector without a label can be neither anchor nor partner in
    // supervised pair mining — and an unguarded NULL diverges the
    // engines (Spark's === yields NULL where SQL's CASE gives 0).
    GraftQuery(
      "e41_hard_negatives",
      (s, d) => {
        val b = Tables.validEmbeddings(s, d)
          .filter(col("label").isNotNull).select(
          col("vec_id"),
          asDouble(col("embedding")).as("emb"),
          col("label"),
          signBucket(col("embedding"), derivedBits(s, d)).as("bucket"))
        val pairs = cappedBucketPairs(b, "label")
          .select(explode(array(
            struct(col("a.vec_id").as("a_id"), col("a.label").as("a_label"),
              col("b.vec_id").as("b_id"), col("b.label").as("b_label")),
            struct(col("b.vec_id").as("a_id"), col("b.label").as("a_label"),
              col("a.vec_id").as("b_id"), col("a.label").as("b_label"))))
            .as("p"), col("cos_sim"))
          .select(col("p.a_id").as("a_id"),
            (col("p.a_label") === col("p.b_label")).cast("int").as("same"),
            col("p.b_id").as("b_id"), col("cos_sim"))
        val w = Window.partitionBy(col("a_id"), col("same"))
          .orderBy(col("cos_sim").desc, col("b_id").asc)
        val best = pairs
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy(col("a_id"))
          .agg(max(when(col("same") === 1, col("b_id"))).as("pos_id"),
            max(when(col("same") === 1, col("cos_sim"))).as("pos_cos"),
            max(when(col("same") === 0, col("b_id"))).as("neg_id"),
            max(when(col("same") === 0, col("cos_sim"))).as("neg_cos"))
        b.select(col("vec_id"), col("label"))
          .join(best, col("vec_id") === col("a_id"), "left")
          .select(col("vec_id"), col("label"),
            col("pos_id"), col("pos_cos"), col("neg_id"), col("neg_cos"),
            (col("pos_cos") - col("neg_cos")).as("margin"))
      },
      Some(s"""WITH $sqlBitsCte,
        b AS (SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
            ${sqlSignBucket("embedding", "bits")} AS bucket
          FROM embeddings, nb
          WHERE $sqlValidEmb AND label IS NOT NULL),
        p AS (SELECT a.vec_id AS a_id,
            CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS same,
            b.vec_id AS b_id,
            ${sqlCos("a.e", "b.e")} AS cos_sim
          FROM b a JOIN b b
            ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        r AS (SELECT a_id, same, b_id, cos_sim,
            row_number() OVER (PARTITION BY a_id, same
              ORDER BY cos_sim DESC, b_id ASC) AS rn
          FROM p),
        ag AS (SELECT a_id,
            MAX(CASE WHEN same = 1 THEN b_id END) AS pos_id,
            MAX(CASE WHEN same = 1 THEN cos_sim END) AS pos_cos,
            MAX(CASE WHEN same = 0 THEN b_id END) AS neg_id,
            MAX(CASE WHEN same = 0 THEN cos_sim END) AS neg_cos
          FROM r WHERE rn = 1 GROUP BY 1)
        SELECT v.vec_id, v.label, pos_id, pos_cos, neg_id, neg_cos,
          pos_cos - neg_cos AS margin
        FROM b v LEFT JOIN ag ON v.vec_id = ag.a_id""")),

    // ---- semantic-dedup operating-point sweep (SemDeDup-style) ------------
    // Embedding-level near-dup PRUNING (SemDeDup, Abbas et al. 2023:
    // paraphrases and re-renders that survive lexical dedup collapse in
    // embedding space) at three candidate thresholds τ ∈ {0.4, 0.45,
    // 0.5}, per label: how much survives, and is the pruning biased
    // against a class? The operating points are fixture-calibrated to
    // e04's 0.4 near-dup band (the synthetic embeddings' in-bucket
    // cosines top out ~0.51; a real deployment sweeps its model's dup
    // band, e.g. 0.9+ — the τ list is a parameter, the machinery is the
    // operator). e04 emits the pairs at ONE threshold; this is the
    // operating-point table (d82's gate-sweep move, embedding-side) read
    // before fixing τ — plus the d77-style bias readout, since semantic
    // dedup culls whatever the embedding packs densest.
    //
    // Keep rule (the scalable one-pass form): drop v iff SOME
    // smaller-id bucket peer sits at cos ≥ τ — keep-first within the
    // e03/e04 LSH candidate buckets, the same deterministic election
    // d05/d15 use for text. Pairs are computed ONCE at the loosest τ and
    // re-thresholded per operating point (a per-τ rescan would triple
    // the join for arithmetic the pair row already carries).
    //
    // Scale shape: bucket join (capped candidate volume, never n²) →
    // min-τ filter → the bounded 3-literal τ explode on the PAIR frame →
    // distinct dropped ids per τ (map-side combinable on (τ, b_id)) →
    // broadcast-able? no — dropped ids join the vec × τ grid by id
    // (shuffle on vec_id, linear) → conditional-count fold onto the
    // (τ × label) grid. Nothing after the pair frame exceeds corpus × 3.
    //
    // Exactness: cosines are the pinned strict folds; τ compares are
    // double ≥ against exact literals; counts int64; retention is one
    // rounded quotient.
    GraftQuery(
      "e42_semantic_dedup_sweep",
      (s, d) => {
        val b = Tables.validEmbeddings(s, d).select(
          col("vec_id"),
          asDouble(col("embedding")).as("emb"),
          col("label"),
          signBucket(col("embedding"), derivedBits(s, d)).as("bucket"))
        val taus = array(SweepTaus.map(lit): _*)
        val dropped = cappedBucketPairs(b)
          .filter(col("cos_sim") >= MinTau)
          .select(explode(taus).as("tau"), col("b.vec_id").as("b_id"),
            col("cos_sim"))
          .filter(col("cos_sim") >= col("tau"))
          .select(col("tau"), col("b_id")).distinct()
          .withColumn("is_dropped", lit(1L))
        val grid = b.select(col("vec_id"), col("label"),
          explode(taus).as("tau"))
        grid
          .join(dropped, grid("tau") === dropped("tau")
            && grid("vec_id") === dropped("b_id"), "left")
          .groupBy(grid("tau").as("tau"), col("label"))
          .agg(count(lit(1)).as("n_vectors"),
            coalesce(sum(col("is_dropped")), lit(0L)).as("n_dropped"))
          .select(col("tau"), col("label"), col("n_vectors"),
            col("n_dropped"),
            round((col("n_vectors") - col("n_dropped")).cast("double")
              / col("n_vectors").cast("double"), 6).as("retention"))
      },
      Some(s"""WITH $sqlBitsCte,
        b AS (SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
            ${sqlSignBucket("embedding", "bits")} AS bucket
          FROM embeddings, nb WHERE $sqlValidEmb),
        p AS (SELECT b_id, cos_sim FROM (
            SELECT b2.vec_id AS b_id,
              ${sqlCos("a.e", "b2.e")} AS cos_sim
            FROM b a JOIN b b2
              ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id) pt
          WHERE cos_sim >= ${MinTau}e0),
        dr AS (SELECT DISTINCT t.tau, p.b_id
          FROM p, (SELECT unnest($sqlTauList) AS tau) t
          WHERE p.cos_sim >= t.tau),
        g AS (SELECT v.vec_id, v.label, t.tau
          FROM b v, (SELECT unnest($sqlTauList) AS tau) t)
        SELECT g.tau, g.label,
          CAST(COUNT(*) AS BIGINT) AS n_vectors,
          CAST(COALESCE(SUM(CASE WHEN dr.b_id IS NOT NULL THEN 1 END), 0)
            AS BIGINT) AS n_dropped,
          round(CAST(COUNT(*) - COALESCE(SUM(CASE WHEN dr.b_id IS NOT
              NULL THEN 1 END), 0) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE), 6) AS retention
        FROM g LEFT JOIN dr ON g.tau = dr.tau AND g.vec_id = dr.b_id
        GROUP BY 1, 2""")),
  )
}
