package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TextFunctions
import graft.operators.TweetPipeline

/** Property-based invariants (SURVEY.md §5.2) — ScalaCheck generators
  * drive Spark through the public operator surface. Samples are drawn
  * from fixed seeds so failures are reproducible. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  // tweet-ish text: words (some accented/stopwords), URLs, mentions, messy
  // whitespace
  private val wordGen: Gen[String] = Gen.oneOf(
    "la", "marcha", "más", "grande", "de", "chile", "también", "él",
    "fuerza", "HOY", "Que", "viva", "x123", "qué", "a_b")
  private val tokenGen: Gen[String] = Gen.frequency(
    8 -> wordGen,
    1 -> Gen.const("https://t.co/abc123"),
    1 -> Gen.const("@usuario"),
    1 -> Gen.const("ftp://files.example.com/x"))
  private val wsGen: Gen[String] = Gen.oneOf(" ", "  ", "\t", " \n ")
  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 12)
    toks <- Gen.listOfN(n, tokenGen)
    seps <- Gen.listOfN(n + 1, wsGen)
  } yield seps.zipAll(toks, " ", "").map { case (s, t) => s + t }.mkString

  test("property: floorDiv is exact int64 floor division on the full " +
      "domain (negative pre-1970 nanos included)") {
    // The ADVICE-r11 finding: Spark `div` truncates toward zero, DuckDB
    // `//` floors — q15/q25 bucket via GraftQuery.floorDiv, which must
    // match Math.floorDiv everywhere, not just on the fixture's
    // non-negative timestamps.
    val divisors = Seq(1000L, 3600000000000L, 604800000000000L)
    val vals = samples(Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2), 60) ++
      Seq(-604800000000001L, -604800000000000L, -1L, 0L, 1L,
        604800000000000L)
    val df = vals.toDF("v")
    divisors.foreach { w =>
      val got = df.select(col("v"),
          graft.queries.GraftQuery.floorDiv(col("v"), w).as("q"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      vals.foreach { v =>
        assert(got(v) == Math.floorDiv(v, w),
          s"floorDiv($v, $w) = ${got(v)}, want ${Math.floorDiv(v, w)}")
      }
    }
  }

  test("property: cleanText is idempotent") {
    val texts = samples(textGen, 150)
    val once = texts.toDF("t")
      .select(TextFunctions.cleanText($"t").as("c")).as[String].collect()
    val twice = once.toSeq.toDF("t")
      .select(TextFunctions.cleanText($"t").as("c")).as[String].collect()
    assert(once.toSeq == twice.toSeq)
  }

  test("property: cleaned output is squished (no edge/double whitespace)") {
    val cleaned = samples(textGen, 150).toDF("t")
      .select(TextFunctions.cleanText($"t").as("c")).as[String].collect()
    cleaned.foreach { s =>
      assert(s == s.trim, s"edge whitespace in '$s'")
      assert(!s.exists(c => c.isWhitespace && c != ' '), s"non-space ws in '$s'")
      assert(!s.contains("  "), s"double space in '$s'")
    }
  }

  test("property: fingerprint is whitespace/case-normalization invariant") {
    val texts = samples(textGen, 60).filter(_.trim.nonEmpty)
    val variants = texts.flatMap(t => Seq(
      (t, t.toUpperCase),
      (t, "  " + t.replace(" ", "   ") + "\t")))
    val df = variants.toDF("a", "b").select(
      TextFunctions.fingerprint($"a").as("fa"),
      TextFunctions.fingerprint($"b").as("fb"))
    df.collect().foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("property: dedupKeepFirst — one survivor per key, global ord-min, null==null") {
    val keyGen = Gen.frequency(
      6 -> Gen.oneOf("k1", "k2", "k3", "k4"),
      1 -> Gen.const(null: String))
    val rowGen = for {
      k <- keyGen
      v <- Gen.choose(0L, 50L)
    } yield (k, v)
    (1 to 3).foreach { seed =>
      val rows = (1 to 400).flatMap(i =>
        rowGen.apply(Gen.Parameters.default, Seed(seed * 1000L + i)))
      val df = rows.toDF("content", "v").repartition(7)
      val out = TweetPipeline.dedupKeepFirst(df, "content")
        .as[(String, Long)].collect()
      val expected = rows.groupBy(_._1).map { case (k, g) => k -> g.map(_._2).min }
      assert(out.length == expected.size) // one row per key, null included once
      out.foreach { case (k, v) => assert(expected(k) == v,
        s"key $k: survivor $v != ord-min ${expected(k)} (seed $seed)") }
    }
  }

  test("property: native CosineSim is bit-identical to the aggregate-fold form") {
    import graft.functions.VectorExprs
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-5.0, 5.0))
    val pairs = samples(Gen.zip(vecGen, vecGen), 120)
    val df = pairs.toDF("a", "b")
    val rows = df.select(
      VectorExprs.cosine($"a", $"b").as("native"),
      (VectorExprs.dot($"a", $"b") /
        (VectorExprs.norm($"a") * VectorExprs.norm($"b"))).as("fold"))
      .as[(Double, Double)].collect()
    rows.foreach { case (n, f) =>
      assert(java.lang.Double.doubleToLongBits(n) ==
        java.lang.Double.doubleToLongBits(f))
    }
  }

  test("property: dedupKeepFirst is partitioning-invariant") {
    val rows = samples(Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(0, 99)), 200)
    def run(parts: Int) =
      TweetPipeline.dedupKeepFirst(
        rows.toDF("content", "v").repartition(parts), "content")
        .as[(String, Int)].collect().toSet
    assert(run(1) == run(13))
  }

  // Small vocabulary on purpose: random texts must actually SHARE
  // shingles or the jaccard properties only ever see 0.
  private val shingleTextGen: Gen[String] = for {
    n <- Gen.choose(0, 20)
    toks <- Gen.listOfN(n, Gen.oneOf(
      "the", "cat", "sat", "mat", "dog", "ran", "park", "ball", "big"))
  } yield toks.mkString(" ")

  test("property: shingleHashes emits sorted distinct arrays; " +
      "jaccardSorted is symmetric, bounded, and 1 on self") {
    import graft.functions.MinHashExprs
    val pairs = samples(Gen.zip(shingleTextGen, shingleTextGen), 150)
    val df = pairs.toDF("ta", "tb").select(
      MinHashExprs.shingleHashes(TextFunctions.tokens($"ta")).as("a"),
      MinHashExprs.shingleHashes(TextFunctions.tokens($"tb")).as("b"))
    val rows = df.select($"a", $"b",
      MinHashExprs.jaccardSorted($"a", $"b").as("jab"),
      MinHashExprs.jaccardSorted($"b", $"a").as("jba"),
      MinHashExprs.jaccardSorted($"a", $"a").as("jaa"))
      .collect()
    rows.foreach { r =>
      val a = r.getSeq[Long](0)
      assert(a == a.sorted && a.distinct == a, s"not sorted-distinct: $a")
      val (jab, jba) = (r.get(2), r.get(3))
      assert(jab == jba, "jaccard not symmetric")
      if (!r.isNullAt(2)) {
        val j = r.getDouble(2)
        assert(j >= 0.0 && j <= 1.0, s"jaccard out of range: $j")
      }
      // self-jaccard: 1 when the doc has shingles, null (0/0 guard) when
      // it has none — never anything else
      if (a.nonEmpty) assert(r.getDouble(4) == 1.0)
      else assert(r.isNullAt(4))
    }
  }

  test("property: native jaccardSorted matches the " +
      "array_intersect/array_union built-ins on random shingle sets") {
    import graft.functions.MinHashExprs
    val pairs = samples(Gen.zip(shingleTextGen, shingleTextGen), 150)
    val rows = pairs.toDF("ta", "tb").select(
      MinHashExprs.shingleHashes(TextFunctions.tokens($"ta")).as("a"),
      MinHashExprs.shingleHashes(TextFunctions.tokens($"tb")).as("b"))
      .select(
        MinHashExprs.jaccardSorted($"a", $"b").as("native"),
        when(size($"a") + size($"b") > 0,
          size(array_intersect($"a", $"b")).cast("double") /
            size(array_union($"a", $"b")).cast("double")).as("builtin"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null disagreement: $r")
      if (!r.isNullAt(0))
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)), s"value: $r")
    }
  }

  test("property: histogram percentiles equal the sorted-multiset rank " +
      "definition on random grouped data (ties, singletons, skew)") {
    import graft.operators.RobustStats
    // random multisets with heavy ties (small value domain) across a few
    // keys — the regime where cumulative-rank bucket arithmetic has its
    // edge cases (bucket spans covering several target ranks, n = 1)
    val rowGen = for {
      k <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(0L, 9L)
    } yield (k, v)
    val rows = samples(Gen.listOfN(40, rowGen), 8).flatten ++
      Seq(("solo", 5L)) // n = 1: every percentile is the single element
    val hist = RobustStats.valueHistogram(rows.toDF("k", "v"), "k", "v")
    val ranked = RobustStats.rankedHistogram(hist, "k", "v", "c")
    def pick(p: Int) = {
      val tgt = call_function("div", col("n") * p + 99, lit(100L))
      min(when(col("cum") >= tgt && (col("cum") - col("c")) < tgt, col("v")))
    }
    val got = ranked.groupBy(col("k"))
      .agg(pick(50).as("p50"), pick(90).as("p90"), pick(99).as("p99"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    rows.groupBy(_._1).foreach { case (k, kvs) =>
      val sorted = kvs.map(_._2).sorted
      def want(p: Int): Long = {
        val n = sorted.length.toLong
        sorted(((n * p + 99) / 100 - 1).toInt) // 1-based rank ⌈p·n/100⌉
      }
      assert(got(k) == ((want(50), want(90), want(99))),
        s"key $k: got ${got(k)}, want (${want(50)}, ${want(90)}, ${want(99)})")
    }
  }

  test("property: native minMd5Shingle matches the " +
      "array_min(transform(md5)) formulation on random token lists") {
    import graft.functions.MinHashExprs
    val texts = samples(shingleTextGen, 150)
    val rows = texts.toDF("t")
      .withColumn("toks", TextFunctions.tokens($"t"))
      .select(
        MinHashExprs.minMd5Shingle($"toks").as("native"),
        expr("""array_min(transform(
            CASE WHEN size(toks) >= 3 THEN
              transform(sequence(0, size(toks)-3),
                i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))
            ELSE cast(array() as array<string>) END,
            s -> md5(s)))""").as("sql"))
      .as[(String, String)].collect()
    rows.foreach { case (n, s) => assert(n == s, s"native=$n sql=$s") }
  }

  /** Writes a documents corpus usable as a GraftQuery sfDir (the
    * text-family queries read only the documents table). */
  private def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("prop-docs").toString
    rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** events.parquet dir from (event_id, user_id, event_type) rows —
    * fixed ts/value/props (q45's sketch math only reads user_id/type). */
  private def eventsDir(rows: Seq[(Long, Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("prop-events").toString
    rows.map { case (id, uid, t) =>
        (id, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), uid, t,
          1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("property: CMS join-size estimate (q45) never underestimates and " +
      "is 4-linear under duplicating both sides") {
    // The AMS/CMS inner-product laws: collisions only ADD, so
    // est ≥ exact on ANY input; and duplicating both join sides doubles
    // every degree, hence every cell count, hence every per-row inner
    // product — est and exact both ×4 exactly (the mergeability of the
    // estimate itself).
    val userGen = Gen.chooseNum(1L, 8L)
    val typeGen = Gen.frequency(3 -> Gen.const("view"),
      2 -> Gen.const("purchase"), 1 -> Gen.const("click"))
    val rows = samples(Gen.zip(userGen, typeGen), 60).zipWithIndex
      .map { case ((u, t), i) => (i.toLong, u, t) }
    val q = graft.queries.GraftQuery.all.find(_.name == "q45_join_size_cms").get
    val one = q.run(spark, eventsDir(rows)).head()
    val (est1, ex1) = (one.getAs[Double]("est_pairs"),
      one.getAs[Double]("exact_pairs"))
    assert(est1 >= ex1, s"CMS join-size underestimated: $est1 < $ex1")
    val dup = rows ++ rows.map { case (i, u, t) => (i + 100000L, u, t) }
    val two = q.run(spark, eventsDir(dup)).head()
    assert(two.getAs[Double]("est_pairs") == 4 * est1 &&
      two.getAs[Double]("exact_pairs") == 4 * ex1,
      s"duplication broke 4-linearity: got (${two.getAs[Double]("est_pairs")}, " +
        s"${two.getAs[Double]("exact_pairs")}), want (${4 * est1}, ${4 * ex1})")
  }

  test("property: native simhashMd5Bits is value-identical to the SQL " +
      "word-fold formulation on random token lists") {
    // The d50/d51 signature is a native expression; this pins it to the
    // pure-SQL fold it replaced (the definition the DuckDB oracle
    // mirrors): per token w1/w2 = conv of the two md5 hex words, 64 ±1
    // votes folded with zip_with, sign-joined to a bit string.
    import graft.functions.MinHashExprs
    val texts = samples(textGen, 120)
    val rows = texts.toDF("t")
      .withColumn("toks", TextFunctions.tokens($"t"))
      .select(
        MinHashExprs.simhashMd5Bits($"toks").as("native"),
        expr("""array_join(transform(
            aggregate(transform(toks, t -> struct(
                cast(conv(substr(md5(t), 1, 8), 16, 10) as bigint) AS w1,
                cast(conv(substr(md5(t), 9, 8), 16, 10) as bigint) AS w2)),
              array_repeat(0, 64),
              (acc, h) -> zip_with(acc, sequence(0, 63), (a, j) ->
                a + 2 * cast(
                  shiftright(IF(j < 32, h.w1, h.w2), j % 32) % 2 as int) - 1)),
            c -> CASE WHEN c > 0 THEN '1' ELSE '0' END), '')""").as("sql"))
      .as[(String, String)].collect()
    rows.foreach { case (n, s) => assert(n == s, s"native=$n sql=$s") }
  }

  test("property: md5-SimHash signature (d50) is a token-MULTISET " +
      "function — order-invariant, multiplicity-sensitive") {
    // SimHash sums per-token votes, so any permutation of the tokens must
    // produce the identical 64-bit signature (the invariance that makes
    // it a bag-of-words near-dup key, unlike sequence-sensitive shingles)
    val texts = samples(textGen, 12).map(_.trim).filter(_.nonEmpty).distinct
    val rows = texts.zipWithIndex.flatMap { case (t, i) =>
      val toks = t.split("\\s+").filter(_.nonEmpty).toSeq
      val shuffled = new scala.util.Random(i).shuffle(toks).mkString(" ")
      Seq((i.toLong * 2, t), (i.toLong * 2 + 1, shuffled))
    }
    val q = graft.queries.GraftQuery.all.find(_.name == "d50_simhash_md5").get
    val sigs = q.run(spark, docsDir(rows)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.indices.foreach { i =>
      assert(sigs(i.toLong * 2) == sigs(i.toLong * 2 + 1),
        s"text $i: signature changed under token permutation")
    }
  }

  test("property: identical docs always survive d51's banded LSH as a " +
      "hamming-0 pair (recall floor of the uncapped band family)") {
    // identical text → identical signature → same bucket in EVERY band →
    // the pair must appear with hamming 0 (d51 has no bucket cap, so
    // nothing can drop it)
    val texts = samples(textGen, 10).map(_.trim)
      .filter(_.split("\\s+").count(_.nonEmpty) >= 1).distinct
    val rows = texts.zipWithIndex.flatMap { case (t, i) =>
      Seq((i.toLong, t), (i.toLong + 1000L, t))
    }
    val q = graft.queries.GraftQuery.all
      .find(_.name == "d51_simhash_md5_pairs").get
    val pairs = q.run(spark, docsDir(rows)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    texts.indices.foreach { i =>
      assert(pairs.contains((i.toLong, i.toLong + 1000L, 0L)),
        s"text $i: identical-doc pair missing or nonzero hamming")
    }
  }

  test("property: CMS (d54) never undercounts, and is LINEAR under " +
      "corpus duplication (the mergeable-sketch law)") {
    // Count-min's two defining properties: est ≥ exact always (collisions
    // only ADD), and cell-wise linearity — duplicating the corpus doubles
    // every cell, hence every min_j, hence every estimate. Linearity is
    // exactly what makes the sketch mergeable across partitions/executors
    // (map-side partial sums ARE sketch merges).
    val texts = samples(textGen, 20).map(_.trim).filter(_.nonEmpty)
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val q = graft.queries.GraftQuery.all
      .find(_.name == "d54_cms_heavy_hitters").get
    val one = q.run(spark, docsDir(rows)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(one.nonEmpty)
    one.foreach { case (t, exact, est) =>
      assert(est >= exact, s"'$t': CMS undercounted ($est < $exact)") }
    val dup = rows ++ rows.map { case (i, t) => (i + 10000L, t) }
    val two = q.run(spark, docsDir(dup)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    one.foreach { case (t, exact, est) =>
      assert(two(t) == (2 * exact, 2 * est),
        s"'$t': doubling the corpus did not double (exact, est) — " +
          s"got ${two(t)}, want (${2 * exact}, ${2 * est})")
    }
  }

  test("q34/q35 HLL pins: register domain, rollup consistency, and the " +
      "m=256 error envelope on the fixture") {
    val q34 = graft.queries.GraftQuery.all
      .find(_.name == "q34_hll_registers_md5").get
    val regs = q34.run(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(regs.nonEmpty)
    regs.foreach { case (_, b, mr) =>
      assert(b >= 0 && b <= 255, s"bucket $b out of the p=8 domain")
      assert(mr >= 1 && mr <= 33, s"rank $mr outside ρ(w) ∈ [1,33]")
    }
    // q35's rollup must be EXACTLY the fold of q34's registers — the two
    // queries share a substrate, and drift between them would silently
    // decouple the estimate from the registers the oracle pins.
    val sByType = regs.groupBy(_._1).map { case (et, rs) =>
      val present = rs.length
      et -> (rs.map(r => 1L << (33 - r._3).toInt).sum +
        (256L - present) * 8589934592L)
    }
    val q35 = graft.queries.GraftQuery.all
      .find(_.name == "q35_hll_estimate_md5").get
    val roll = q35.run(spark, sfDir).collect()
    assert(roll.nonEmpty)
    roll.foreach { r =>
      val et = r.getString(0)
      assert(r.getLong(3) == sByType(et),
        s"$et: q35 s_scaled ${r.getLong(3)} != register fold ${sByType(et)}")
      val raw = 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 8589934592.0 /
        r.getLong(3).toDouble
      assert(math.abs(r.getDouble(4) - raw) / raw < 1e-6,
        s"$et: est_raw ${r.getDouble(4)} drifted from the formula $raw")
      // corrected estimator: linear counting below 2.5·m, harmonic above
      val zeros = r.getLong(2)
      val est = if (raw <= 640.0 && zeros > 0)
        256.0 * math.log(256.0 / zeros.toDouble) else raw
      assert(math.abs(r.getDouble(5) - est) / est < 1e-6,
        s"$et: est_users ${r.getDouble(5)} drifted from the corrected $est")
      // HLL at m=256 has σ ≈ 1.04/√256 = 6.5% (linear counting is tighter
      // still at small n); the fixture sits well inside ±4σ
      assert(math.abs(r.getDouble(7)) < 0.26,
        s"$et: |rel_err| ${r.getDouble(7)} outside the m=256 envelope")
    }
  }

  test("q36/q37 KMV pins: sketch bounds, exact-under-fill collapse, and " +
      "set-estimate consistency on the fixture") {
    val q36 = graft.queries.GraftQuery.all
      .find(_.name == "q36_kmv_distinct").get
    val rows = q36.run(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nk, hk, est, exact, rel) = (r.getLong(1), r.getString(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5))
      assert(nk >= 1 && nk <= 64, s"sketch size $nk outside (0, k]")
      assert(hk.matches("[0-9a-f]{32}"), s"kth hash '$hk' not md5 hex")
      if (nk < 64) {
        // under-full sketch holds the whole distinct set → exact by rule
        assert(est == exact.toDouble && rel == 0.0,
          s"${r.getString(0)}: under-full sketch not exact ($est vs $exact)")
      } else assert(math.abs(rel) < 0.5,
        s"${r.getString(0)}: |rel_err| $rel outside the k=64 envelope")
    }
    val q37 = graft.queries.GraftQuery.all
      .find(_.name == "q37_kmv_intersect").get
    val prs = q37.run(spark, sfDir).collect()
    assert(prs.nonEmpty)
    prs.foreach { r =>
      val (nk, both) = (r.getLong(2), r.getLong(3))
      val (estU, exU) = (r.getDouble(4), r.getLong(5))
      val (estI, exI) = (r.getDouble(6), r.getLong(7))
      assert(both <= nk, "intersection markers exceed the union sketch")
      assert(exI <= exU, "exact intersection exceeds exact union")
      assert(estI <= estU * (1 + 1e-9), "est intersection exceeds est union")
      if (nk < 64) {
        // under-full union sketch holds all of A∪B → both estimates
        // collapse to the exact counts by construction
        assert(estU == exU.toDouble && estI == exI.toDouble,
          s"${r.getString(0)}×${r.getString(1)}: under-full pair not exact")
      }
    }
  }

  test("e15 PQ pin: codes are m=8 nibble indices and the ADC ranking is " +
      "well-formed on the fixture") {
    val q = graft.queries.GraftQuery.all.find(_.name == "e15_pq_pinned").get
    val rows = q.run(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.length == 10)
    rows.foreach { case (id, codes, _) =>
      val cs = codes.split(",").map(_.toInt)
      assert(cs.length == 8, s"vec $id: ${cs.length} codes, want m=8")
      cs.foreach(c => assert(c >= 0 && c < 16,
        s"vec $id: code $c outside k=16"))
    }
    val scores = rows.map(_._3)
    assert(scores.sameElements(scores.sortBy(-_)),
      "ADC top-10 not in descending score order")
  }
}
