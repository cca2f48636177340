package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{TextExprs, TextOps}
import graft.operators.Bpe
import graft.sources.Tables

/** Round-20 additions: the BPE ENCODER laws. d80 trains the merge table;
  * d92/d93 apply it at corpus scale through the native BpeEncode
  * expression and d94 pins apply-semantics under the DuckDB hash gate via
  * the placeholder replace-chain. These tests anchor the algebra the
  * queries assume, on constructed corpora with hand-computable outcomes:
  *
  *   - trainLocal ≡ train (the bounded driver trainer and the
  *     distributed loop emit the SAME merge sequence, step for step);
  *   - the Sennrich textbook corpus yields the textbook merges, and
  *     encode("lowest") = [low, est] — the canonical BPE example;
  *   - encode laws: k = 0 is the code-point split (astral-safe),
  *     applying the merge list is idempotent, token counts are
  *     non-increasing in the merge prefix;
  *   - native BpeEncode ≡ the replace-chain geometry on d94's own
  *     top-4 char pairs over the real fixture vocabulary.
  */
class Round20OpsSpec extends SparkSpec {
  import spark.implicits._

  /** The Sennrich et al. (2016) worked corpus. */
  private val sennrich: Seq[(String, Long)] =
    Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))

  // Shared e41/e42 law-test recompute kit. Replicated from the spec'd
  // derivations ON PURPOSE — the independence argument is against
  // reusing PRODUCTION code, not against the two law tests sharing one
  // recompute (two drifting copies would let one test silently pin
  // stale semantics): corpus-derived LSH bits
  // (clamp(ceilLog2(ceil(n/32)), 4, 16)), the sign-bucket fold over the
  // leading dims, and the strict-left-fold cosine (bit-identical to the
  // native expression).
  private def lshBits(n: Int): Int = {
    val buckets = math.max(1L, (n + 31L) / 32L)
    math.min(16, math.max(4,
      64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)))
  }
  private def signBucketOf(e: Array[Float], bits: Int): Long =
    (0 until bits).map(i => if (e(i) > 0.0f) 1L << i else 0L).sum
  private def cosOf(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def enc(w: String, merges: Seq[Bpe.Merge]): Seq[String] =
    TextOps.bpeEncode(UTF8String.fromString(w),
        merges.map(m => Array(m.left, m.right)).toArray)
      .array.map(_.toString).toSeq

  test("trainLocal ≡ train: identical merge sequence on the Sennrich " +
      "corpus and on the fixture vocabulary") {
    val df = sennrich.toDF("word", "cnt")
    val dist = Bpe.train(df, k = 8)
    val local = Bpe.trainLocal(sennrich, k = 8)
    assert(dist == local,
      s"distributed $dist vs local $local")

    val vocab = Tables.documents(spark, sfDir)
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val distF = Bpe.train(vocab, k = 6)
    val localF = Bpe.trainLocal(Bpe.collectVocab(vocab, 65536), k = 6)
    assert(distF == localF, s"fixture: distributed $distF vs local $localF")
  }

  test("train releases every step's words: no RDD stays persistent that " +
      "was not persistent before") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val merges = Bpe.train(sennrich.toDF("word", "cnt"), k = 5)
    assert(merges.size == 5)
    val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(added.isEmpty,
      s"train left ${added.size} persistent RDDs behind (one per step)")
  }

  test("Sennrich corpus: textbook merge table and encode('lowest') = " +
      "[low, est]") {
    val merges = Bpe.trainLocal(sennrich, k = 5)
    assert(merges.map(m => (m.left, m.right, m.pairCount)) == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L),
      ("lo", "w", 7L), ("e", "w", 6L)), merges.toString)
    // the canonical BPE example: an UNSEEN word segments into the
    // learned subwords
    assert(enc("lowest", merges) == Seq("low", "est"))
    assert(enc("low", merges) == Seq("low"))
    assert(enc("newest", merges.take(2)) == Seq("n", "e", "w", "est"))
    assert(enc("newest", merges) == Seq("n", "ew", "est"))
  }

  test("encode with k = 0 merges is the code-point split (astral-safe)") {
    assert(enc("low", Nil) == Seq("l", "o", "w"))
    assert(enc("", Nil) == Nil)
    // 🙂 is U+1F642 (astral): one SYMBOL, never a split surrogate pair
    assert(enc("a🙂b", Nil) == Seq("a", "🙂", "b"))
  }

  test("encode laws on the fixture vocabulary: idempotent under " +
      "re-application, token count non-increasing per merge step") {
    val vocab = Tables.documents(spark, sfDir)
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val words = Bpe.collectVocab(vocab, 65536)
    val merges = Bpe.trainLocal(words, k = 64)
    assert(merges.nonEmpty)
    // non-increasing top pair count (the train-loop law, local form)
    merges.sliding(2).foreach { case Seq(a, b) =>
      assert(a.pairCount >= b.pairCount, s"$a then $b")
    case _ => ()
    }
    words.foreach { case (w, _) =>
      // idempotence: re-applying the whole merge list to the encoded
      // symbols changes nothing (every adjacency was consumed greedily)
      val once = enc(w, merges).toArray
      val twice = merges.foldLeft(once) { (syms, m) =>
        Bpe.applyMergeLocal(syms, m.left, m.right)
      }
      assert(twice.sameElements(once), s"$w: ${once.toSeq} re-merged to " +
        s"${twice.toSeq}")
      // monotone: each longer merge prefix can only shrink the encoding
      (0 to merges.size).sliding(2).foreach { case Seq(k1, k2) =>
        assert(enc(w, merges.take(k2)).size <= enc(w, merges.take(k1)).size,
          s"$w grew from k=$k1 to k=$k2")
      case _ => ()
      }
    }
  }

  test("native BpeEncode ≡ d94's replace-chain on the fixture's top-4 " +
      "char pairs") {
    val vocab = Tables.documents(spark, sfDir)
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val words = Bpe.collectVocab(vocab, 65536)
    // d94's merge selection: one-shot weighted adjacent char pairs,
    // (count desc, pair asc) — derived independently here in plain Scala
    val pairCounts = scala.collection.mutable.Map.empty[String, Long]
    words.foreach { case (w, c) =>
      w.sliding(2).filter(_.length == 2).foreach { p =>
        pairCounts(p) = pairCounts.getOrElse(p, 0L) + c
      }
    }
    val top4 = pairCounts.toSeq.sortBy { case (p, n) => (-n, p) }.take(4)
      .map(_._1)
    assert(top4.size == 4)
    val merges = top4.map(p => (p.substring(0, 1), p.substring(1, 2)))
    words.foreach { case (w, _) =>
      // replace-chain: each pair to one PUA char, sequentially
      val replaced = merges.zipWithIndex.foldLeft(w) { case (s, (m, i)) =>
        s.replace(m._1 + m._2, (0xE000 + i).toChar.toString)
      }
      val native = TextOps.bpeEncode(UTF8String.fromString(w),
        merges.map(m => Array(m._1, m._2)).toArray).numElements()
      assert(native == replaced.codePointCount(0, replaced.length),
        s"$w: native $native vs replace-chain '$replaced'")
    }
  }

  test("d97 CDC chunking is shift-robust where d22's fixed windows are " +
      "not: a one-token prefix edit keeps chunks shared") {
    // Same long text twice, once with one token prepended. Fixed
    // 10-token windows all misalign after the shift → d22 sees ZERO
    // shared chunks. Content-defined boundaries re-synchronize at the
    // first boundary token past the edit → d97 still shares every
    // chunk after it. The corpus words include known boundary tokens
    // (md5 16-bit prefix ≡ 0 mod 8: 'sat', 'dog', 'ran', 'of').
    val base = ("the cat sat on the mat and then the dog ran to the " +
      "park with a ball it was best of times for all of us ") * 2
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    val schema = Tables.documents(spark, sfDir).schema
    val rows = Seq(
      org.apache.spark.sql.Row(1L, base.trim, "en", "srcA",
        base.trim.length.toLong),
      org.apache.spark.sql.Row(2L, ("shifted " + base).trim, "en", "srcB",
        ("shifted " + base).trim.length.toLong))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def perDoc(name: String): Map[Long, (Long, Long)] =
      graft.queries.GraftQuery.all.find(_.name == name).get
        .run(spark, dir).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_dup_chunks"))).toMap

    val cdc = perDoc("d97_cdc_chunk_dedup")
    val fixed = perDoc("d22_chunk_dedup")
    // fixed windows: the 1-token shift misaligns every 10-token window
    assert(fixed(1L)._2 == 0L && fixed(2L)._2 == 0L,
      s"fixed windows unexpectedly survived the shift: $fixed")
    // CDC: both docs share most chunks (all but the edit-straddling
    // first chunk of doc 2)
    assert(cdc(1L)._2 == cdc(1L)._1,
      s"every chunk of the unshifted doc must recur in the shifted one: $cdc")
    assert(cdc(2L)._2 >= cdc(2L)._1 - 1,
      s"at most the edit-straddling chunk may be unshared: $cdc")
  }

  test("d93 fixture readout: fertility is exactly 1.0 at merge " +
      "exhaustion (every vocab word fuses to one symbol)") {
    val got = graft.queries.GraftQuery.all
      .find(_.name == "d93_bpe_fertility_sweep").get
      .run(spark, sfDir).collect()
      .map(r => r.getAs[Long]("k") -> r).toMap
    assert(got.keySet == Set(0L, 64L, 256L))
    assert(got(0L).getAs[Double]("fertility") > 1.0) // chars per word
    // the fixture vocabulary is small enough that 256 steps exhaust:
    // every word is one token, and the live symbols ARE the vocab words
    assert(got(256L).getAs[Double]("fertility") == 1.0)
    assert(got(256L).getAs[Long]("n_symbols") ==
      got(256L).getAs[Long]("n_words").min(
        Tables.documents(spark, sfDir)
          .select(explode(graft.functions.TextFunctions.tokens(col("text"))))
          .distinct().count()))
  }

  test("d101 calibration laws: thresholds are minimal 70th-pctile bins, " +
      "kept counts recount from raw scores, 30% integer floor holds") {
    val out = graft.queries.GraftQuery.all
      .find(_.name == "d101_source_quality_calibration").get
      .run(spark, sfDir).collect()
    assert(out.nonEmpty)
    // Independent per-doc bins straight off the raw corpus (no histogram,
    // no windows — the election must agree with a plain recount).
    val bins = Tables.documents(spark, sfDir)
      .select(col("source"), graft.operators.Sketches.calibrationBin(
        graft.functions.TextFunctions.qualityScore(col("text"))).as("bin"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val bySource = bins.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def need(n: Long): Long = (7 * n + 9) / 10 // ceil(0.7·n), int64-exact
    // Global threshold: minimal bin whose ≤-cumulative reaches the need.
    val tg = out.head.getAs[Long]("t_global")
    val all = bins.map(_._2)
    assert(all.count(_ <= tg) >= need(all.length) &&
      all.count(_ <= tg - 1) < need(all.length),
      s"t_global=$tg is not the minimal 70th-percentile bin")
    out.foreach { r =>
      val src = r.getAs[String]("source")
      val n = r.getAs[Long]("src_docs")
      val ts = r.getAs[Long]("t_source")
      val kc = r.getAs[Long]("kept_calibrated")
      val ku = r.getAs[Long]("kept_uncalibrated")
      val b = bySource(src)
      assert(n == b.length, s"$src: src_docs recount")
      // threshold minimality (per source)
      assert(b.count(_ <= ts) >= need(n) && b.count(_ <= ts - 1) < need(n),
        s"$src: t_source=$ts is not the minimal 70th-percentile bin")
      // kept counts are plain recounts at the reported thresholds
      assert(kc == b.count(_ >= ts), s"$src: calibrated recount")
      assert(ku == b.count(_ >= tg), s"$src: uncalibrated recount")
      // the calibration guarantee: cum(t−1) < need ⇒ kept ≥ n − need + 1
      // — every source keeps at least its top ~30%, whatever its
      // distribution (the uncalibrated column has NO such floor).
      assert(kc >= n - need(n) + 1 && kc <= n, s"$src: 30% floor")
    }
  }

  test("e41 hard-negative laws: elected pairs equal an in-bucket " +
      "brute-force recompute, labels obey polarity, margin is exact") {
    val out = graft.queries.GraftQuery.all
      .find(_.name == "e41_hard_negatives").get
      .run(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    // Raw corpus through the shared recompute kit; e41 additionally
    // excludes NULL labels on both sides (the e23 convention the query
    // pins — no null labels exist in the fixture, so the count law
    // still covers every valid vector).
    val rows = Tables.validEmbeddings(spark, sfDir)
      .filter(col("label").isNotNull)
      .select(col("vec_id"), col("embedding"), col("label"))
      .collect().map { r =>
        (r.getAs[Long]("vec_id"),
          r.getAs[scala.collection.Seq[Float]]("embedding").toArray,
          r.getAs[Int]("label"))
      }
    assert(out.size == rows.length, "one output row per valid vector")
    // bits derive from the DIMENSION-valid count (the label filter is
    // applied after sizing in the query, matching its nb CTE)
    val bits = lshBits(Tables.validEmbeddings(spark, sfDir).count().toInt)
    def bucket(e: Array[Float]): Long = signBucketOf(e, bits)
    def cos(a: Array[Float], b: Array[Float]): Double = cosOf(a, b)
    val byBucket = rows.groupBy(r => bucket(r._2))
    val labels = rows.map(r => r._1 -> r._3).toMap
    var checkedPos = 0
    rows.foreach { case (id, emb, label) =>
      val r = out(id)
      val peers = byBucket(bucket(emb)).filter(_._1 != id)
      // brute-force election: max cosine, ties to the smaller b_id
      def best(pred: Int => Boolean): Option[(Long, Double)] =
        peers.filter(p => pred(p._3))
          .map(p => (p._1, cos(emb, p._2)))
          .sortBy { case (bid, c) => (-c, bid) }.headOption
      (best(_ == label), Option(r.getAs[Long]("pos_id"))
          .filter(_ => !r.isNullAt(r.fieldIndex("pos_id")))) match {
        case (Some((bid, c)), Some(gotId)) =>
          assert(gotId == bid && r.getAs[Double]("pos_cos") == c,
            s"$id: positive election")
          assert(labels(gotId) == label, s"$id: positive polarity")
          checkedPos += 1
        case (None, None) => ()
        case (e, g) => fail(s"$id: positive presence mismatch $e vs $g")
      }
      (best(_ != label), Option(r.getAs[Long]("neg_id"))
          .filter(_ => !r.isNullAt(r.fieldIndex("neg_id")))) match {
        case (Some((bid, c)), Some(gotId)) =>
          assert(gotId == bid && r.getAs[Double]("neg_cos") == c,
            s"$id: negative election")
          assert(labels(gotId) != label, s"$id: negative polarity")
        case (None, None) => ()
        case (e, g) => fail(s"$id: negative presence mismatch $e vs $g")
      }
      if (!r.isNullAt(r.fieldIndex("margin")))
        assert(r.getAs[Double]("margin") ==
          r.getAs[Double]("pos_cos") - r.getAs[Double]("neg_cos"),
          s"$id: margin identity")
    }
    assert(checkedPos > 0, "fixture must exercise elected positives")
  }

  test("d102 strategy ordering laws: packing never needs more sequences " +
      "or padding than chunking, truncation never keeps more than all") {
    val out = graft.queries.GraftQuery.all
      .find(_.name == "d102_context_budget_curve").get
      .run(spark, sfDir).collect()
    assert(out.map(_.getAs[Long]("context_len")).toSet ==
      Set(128L, 512L, 2048L))
    out.foreach { r =>
      val l = r.getAs[Long]("context_len")
      val total = r.getAs[Long]("total_tokens")
      val chunk = r.getAs[Long]("chunk_seqs")
      val pack = r.getAs[Long]("pack_seqs")
      // concat-pack dominates doc-aligned chunking: merging the per-doc
      // ceilings into one ceiling can only shed padding.
      assert(pack <= chunk, s"L=$l: pack_seqs > chunk_seqs")
      assert(r.getAs[Double]("pack_pad_frac") <=
        r.getAs[Double]("chunk_pad_frac"), s"L=$l: pad ordering")
      // both lossless strategies cover every token; truncation never
      // keeps more than the corpus holds.
      assert(pack * l >= total && chunk * l >= total, s"L=$l: coverage")
      assert(r.getAs[Long]("trunc_kept_tokens") <= total, s"L=$l: kept")
      // sequence-count sanity: ≥ the zero-padding lower bound.
      assert(pack >= (total + l - 1) / l, s"L=$l: pack lower bound")
    }
    // monotonicity across the sweep: larger L never needs more packed
    // sequences (the curve a budget chooser reads is non-increasing).
    val byL = out.map(r => r.getAs[Long]("context_len") ->
      r.getAs[Long]("pack_seqs")).toMap
    assert(byL(128L) >= byL(512L) && byL(512L) >= byL(2048L))
  }

  test("e42 semantic-dedup laws: drops recompute from an in-bucket " +
      "brute force, tighter τ never drops more, totals cover the corpus") {
    val out = graft.queries.GraftQuery.all
      .find(_.name == "e42_semantic_dedup_sweep").get
      .run(spark, sfDir).collect()
    val rows = Tables.validEmbeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), col("label"))
      .collect().map { r =>
        (r.getAs[Long]("vec_id"),
          r.getAs[scala.collection.Seq[Float]]("embedding").toArray,
          r.getAs[Int]("label"))
      }
    // the shared law-test recompute kit (e42 keeps NULL-label rows:
    // the drop decision is label-free and labels only key the readout)
    val bits = lshBits(rows.length)
    def bucket(e: Array[Float]): Long = signBucketOf(e, bits)
    def cos(a: Array[Float], b: Array[Float]): Double = cosOf(a, b)
    val byBucket = rows.groupBy(r => bucket(r._2))
    // brute-force keep-first drops per τ, folded to (τ, label) counts
    val expected = Seq(0.4, 0.45, 0.5).flatMap { tau =>
      rows.map { case (id, emb, label) =>
        val dropped = byBucket(bucket(emb))
          .exists(p => p._1 < id && cos(emb, p._2) >= tau)
        ((tau, label), if (dropped) 1L else 0L)
      }
    }.groupBy(_._1).view
      .mapValues(v => (v.size.toLong, v.map(_._2).sum)).toMap
    assert(out.length == expected.size, "one row per (τ, label)")
    out.foreach { r =>
      val key = (r.getAs[Double]("tau"), r.getAs[Int]("label"))
      val (n, nd) = expected(key)
      assert(r.getAs[Long]("n_vectors") == n, s"$key: corpus coverage")
      assert(r.getAs[Long]("n_dropped") == nd, s"$key: drop recount")
    }
    // tightening τ can only shrink the dropped set (per label)
    val byKey = out.map(r => (r.getAs[Double]("tau"),
      r.getAs[Int]("label")) -> r.getAs[Long]("n_dropped")).toMap
    byKey.keys.map(_._2).toSet[Int].foreach { lb =>
      assert(byKey((0.5, lb)) <= byKey((0.45, lb)) &&
        byKey((0.45, lb)) <= byKey((0.4, lb)), s"label $lb: monotone drops")
    }
    // Vacuity guard at the CANDIDATE level: the bucket machinery must
    // have had pairs to consider or the whole test is a tautology (the
    // drop counts themselves may legitimately be sparse — the τ points
    // are calibrated to the corpus's e04 dup band).
    assert(rows.exists { case (id, emb, _) =>
      byBucket(bucket(emb)).exists(_._1 < id) },
      "fixture must offer at least one in-bucket candidate pair")
  }

  test("m20 aspect-bucket laws: population recounts from a decode-stub " +
      "brute force, shares cover the image set, waste stays in [0, 1)") {
    val out = graft.queries.GraftQuery.all
      .find(_.name == "m20_aspect_bucket_plan").get
      .run(spark, sfDir).collect()
    // independent election: md5 → stub geometry → nearest-aspect bucket,
    // in plain Scala (the query's lineage runs the mapPartitions seam +
    // a window election — none of that machinery is reused here)
    val bucketDefs = Seq((0L, 64, 64), (1L, 80, 56), (2L, 56, 80),
      (3L, 96, 48), (4L, 48, 96))
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .filter(r => !r.isNullAt(1) && r.getLong(0) % 3 == 0)
    val expected = docs.map { r =>
      // syntheticMedia's payload is unhex(md5(text)) — the raw digest
      val payload = java.security.MessageDigest.getInstance("MD5")
        .digest(r.getString(1)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val w = 64 + (payload(0) & 0x3f)
      val h = 64 + (payload(payload.length - 1) & 0x3f)
      bucketDefs.minBy { case (idx, bw, bh) =>
        (math.abs(w.toDouble / h.toDouble - bw.toDouble / bh.toDouble),
          idx)
      }._1
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(out.map(r => r.getAs[Long]("b_idx") ->
      r.getAs[Long]("n_images")).toMap == expected,
      s"bucket populations diverge from the stub brute force")
    assert(out.map(_.getAs[Long]("n_images")).sum == docs.length,
      "every image lands in exactly one bucket")
    assert(math.abs(out.map(_.getAs[Double]("share")).sum - 1.0) < 1e-4,
      "shares cover the image set")
    out.foreach { r =>
      val mean = r.getAs[Double]("mean_crop_waste")
      val mx = r.getAs[Double]("max_crop_waste")
      assert(mean >= 0.0 && mean <= mx && mx < 1.0,
        s"bucket ${r.getAs[Long]("b_idx")}: waste bounds")
    }
  }

  test("d103 cap laws on a constructed dup corpus: hash election keeps " +
      "exactly min(K, group size) per group, monotone in K, cross-source") {
    // The sf fixtures are exact-dup-free (d05 keeps every doc), so the
    // cap's semantics are pinned on a corpus BUILT to exercise them:
    // one text duplicated 6× across two sources (3+3), one duplicated
    // 2× in one source, two uniques. The elected survivors are the K
    // smallest md5(doc_id) keys GLOBALLY per group — which source they
    // land in is the election's, not the source's, choice.
    val dupA = "the same boilerplate page every mirror serves"
    val dupB = "a smaller duplicate pair"
    val docs = Seq(
      (1L, dupA, "srcA"), (2L, dupA, "srcA"), (3L, dupA, "srcA"),
      (4L, dupA, "srcB"), (5L, dupA, "srcB"), (6L, dupA, "srcB"),
      (7L, dupB, "srcA"), (8L, dupB, "srcA"),
      (9L, "unique nine", "srcA"), (10L, "unique ten", "srcB"))
    val dir = java.nio.file.Files.createTempDirectory("graft-cap").toString
    val schema = Tables.documents(spark, sfDir).schema
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(docs.map { case (id, t, src) =>
      org.apache.spark.sql.Row(id, t, "en", src, t.length.toLong)
    }.asJava, schema).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

    val out = graft.queries.GraftQuery.all
      .find(_.name == "d103_dup_cap_retention").get
      .run(spark, dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("source")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("kept_docs"))).toMap

    // replicate the election: per group, survivors = K smallest
    // (md5(id), id) keys, counted back into their sources
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    def expected(k: Int): Map[String, Long] =
      docs.groupBy(_._2).values.flatMap { g =>
        g.sortBy(d => (md5hex(d._1.toString), d._1)).take(k)
      }.toSeq.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    Seq(1, 2, 4).foreach { k =>
      val exp = expected(k)
      Seq("srcA", "srcB").foreach { src =>
        val (n, kept) = out((k.toLong, src))
        assert(n == docs.count(_._3 == src).toLong, s"k=$k $src: totals")
        assert(kept == exp.getOrElse(src, 0L),
          s"k=$k $src: kept $kept, election says ${exp.getOrElse(src, 0L)}")
      }
      // group-level law: Σ kept = Σ min(K, |group|)
      assert(exp.values.sum ==
        docs.groupBy(_._2).values.map(g => math.min(k, g.size).toLong).sum)
    }
    // monotone in K, and K=1 is full dedup (one survivor per group)
    Seq("srcA", "srcB").foreach { src =>
      assert(out((1L, src))._2 <= out((2L, src))._2 &&
        out((2L, src))._2 <= out((4L, src))._2, s"$src: monotone in K")
    }
    assert(out((1L, "srcA"))._2 + out((1L, "srcB"))._2 == 4L,
      "K=1 keeps exactly one survivor per distinct text")
    // the 6-dup group must split its survivors across sources at K=4
    // (global election, not per-source) — guaranteed here because each
    // source holds only 3 copies of dupA yet 4 survive somewhere
    assert(out((4L, "srcA"))._2 + out((4L, "srcB"))._2 == 8L,
      "K=4 keeps 4 of 6 dupA + both dupB + both uniques")
  }

  test("d103 null-source docs join null-safely into the kept counts") {
    // round-20 ADVICE #1: the (k, source) equality join never matched the
    // NULL-source group, reporting kept_docs = 0 / kept_tokens NULL while
    // the oracle (one inline GROUP BY) reported the true elected counts.
    // Null sources are the exact axis DegenerateCorpusSpec declares
    // load-bearing; this corpus is all-null-source with one dup pair.
    val docs = Seq(
      (1L, "unique one text here"), (2L, "another unique text"),
      (3L, "unique one text here"))
    val dir = java.nio.file.Files.createTempDirectory("graft-capn").toString
    val schema = Tables.documents(spark, sfDir).schema
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(docs.map { case (id, t) =>
      org.apache.spark.sql.Row(id, t, "en", null, t.length.toLong)
    }.asJava, schema).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = graft.queries.GraftQuery.all
      .find(_.name == "d103_dup_cap_retention").get
      .run(spark, dir).collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("kept_docs"),
          r.getAs[java.lang.Long]("kept_tokens"))).toMap
    assert(out.keySet == Set(1L, 2L, 4L), "one row per K, source NULL")
    assert(out(1L) == ((3L, 2L, java.lang.Long.valueOf(7L))),
      s"K=1 keeps one per distinct text (4 + 3 tokens): ${out(1L)}")
    assert(out(2L)._2 == 3L && out(4L)._2 == 3L,
      "K>=2 keeps everything in a max-2-dup corpus")
  }

  test("d104 contamination laws on a constructed leak: verbatim copies " +
      "flag at every n, short overlaps only at small n, clean docs never") {
    // doc 27 is the bench doc (md5('27') starts with '0' — the d21
    // split); ids 1-3 are train docs: 1 copies an 8-token bench passage
    // verbatim (contaminated at n = 3, 5, 8), 2 shares only a 4-token
    // phrase (contaminated at 3, clean at 5 and 8 — the overcount the
    // sweep exists to expose), 3 shares nothing.
    val passage = "the quick brown fox jumps over the lazy dog tonight"
    val docs = Seq(
      (27L, s"benchmark question text $passage and its answer", "eval"),
      (1L, s"a crawled page that pasted $passage word for word", "web"),
      (2L, "the quick brown fox went elsewhere entirely today friends",
        "web"),
      (3L, "completely unrelated content about parquet row groups here",
        "web"))
    val dir = java.nio.file.Files.createTempDirectory("graft-leak").toString
    val schema = Tables.documents(spark, sfDir).schema
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(docs.map { case (id, t, src) =>
      org.apache.spark.sql.Row(id, t, "en", src, t.length.toLong)
    }.asJava, schema).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    // split sanity: exactly doc 27 is the bench side
    assert(java.security.MessageDigest.getInstance("MD5")
      .digest("27".getBytes).map("%02x".format(_)).mkString.head == '0')
    assert(docs.map(_._1).filterNot(_ == 27L).forall { id =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes).map("%02x".format(_))
        .mkString.head != '0' })

    val out = graft.queries.GraftQuery.all
      .find(_.name == "d104_decontam_sweep").get
      .run(spark, dir).collect()
      .map(r => r.getAs[Long]("n") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_contaminated"))).toMap
    // 3 train docs in one source; doc 1 leaks at every n, doc 2's
    // 4-token overlap ('the quick brown fox') only yields 3-grams
    assert(out(3L) == (3L, 2L), s"n=3: ${out(3L)}")
    assert(out(5L) == (3L, 1L), s"n=5: ${out(5L)}")
    assert(out(8L) == (3L, 1L), s"n=8: ${out(8L)}")
  }
}
