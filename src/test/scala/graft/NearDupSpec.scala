package graft

import org.apache.spark.sql.functions._

import graft.operators.{NearDup, VectorSearch}
import graft.sources.Tables

class NearDupSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Tables.documents(spark, sfDir).cache()

  /** Both band families of the representative election. */
  private val bandFamilies = Seq(NearDup.Bands.Xxhash64, NearDup.Bands.Md5Grams)

  test("minMd5Shingle matches the array_min(transform(md5)) SQL formulation") {
    // The native expression replaced the interpreted HOF chain in
    // TextQueries.minhashed (d08/d09/d27's oracle-pinned bucket key); the
    // two must stay byte-identical — including the <3-token null case —
    // across the whole corpus plus hand-picked edges.
    import graft.functions.MinHashExprs
    val edges = Seq((9001L, ""), (9002L, "one"), (9003L, "one two"),
      (9004L, "one two three"), (9005L, "a b c d e f g"))
      .toDF("doc_id", "text")
    val df = docs.select(col("doc_id"), col("text")).unionByName(edges)
      .withColumn("toks", graft.functions.TextFunctions.tokens(col("text")))
      .withColumn("shingles",
        when(size(col("toks")) >= 3,
          expr("transform(sequence(0, size(toks)-3), i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))"))
          .otherwise(expr("cast(array() as array<string>)")))
      .withColumn("ref", array_min(transform(col("shingles"), x => md5(x))))
      .withColumn("native", MinHashExprs.minMd5Shingle(col("toks")))
    assert(df.filter(col("ref").isNull =!= col("native").isNull ||
      col("ref") =!= col("native")).count() == 0)
  }

  test("kMinMd5Sigs matches the nested-transform SQL formulation") {
    // d38's native k-signature pass vs the interpreted reference form —
    // byte-identical per seed, including the <3-token null case.
    import graft.functions.MinHashExprs
    val edges = Seq((9001L, ""), (9002L, "one"), (9003L, "one two"),
      (9004L, "one two three"), (9005L, "a b c d e f g"))
      .toDF("doc_id", "text")
    val df = docs.select(col("doc_id"), col("text")).unionByName(edges)
      .withColumn("toks", graft.functions.TextFunctions.tokens(col("text")))
      .withColumn("grams",
        when(size(col("toks")) >= 3,
          expr("transform(sequence(0, size(toks)-3), i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))"))
          .otherwise(expr("cast(array() as array<string>)")))
      .withColumn("ref",
        when(size(col("grams")) > 0, expr(
          """transform(sequence(0, 15), i ->
             array_min(transform(grams, g ->
               md5(concat(cast(i as string), '|', g)))))""")))
      .withColumn("native", MinHashExprs.kMinMd5Sigs(col("toks"), 16))
    assert(df.filter(col("ref").isNull =!= col("native").isNull ||
      col("ref") =!= col("native")).count() == 0)
  }

  test("bandMd5Sigs matches the transform(array_min(transform(md5))) " +
      "band formulation") {
    // The round-21 native band-signature pass (d47/d52/d53/d66/d72/d77/
    // d91) vs the historical interpreted form — byte-identical per
    // table, including the no-gram null case (null array ⇒ posexplode
    // emits no band rows, exactly the old CASE + isNotNull filter).
    import graft.functions.MinHashExprs
    val edges = Seq((9001L, ""), (9002L, "one"), (9003L, "one two"),
      (9004L, "one two three"), (9005L, "a b c d e f g"))
      .toDF("doc_id", "text")
    val df = docs.select(col("doc_id"), col("text")).unionByName(edges)
      .withColumn("toks", graft.functions.TextFunctions.tokens(col("text")))
      .withColumn("sh",
        when(size(col("toks")) >= 3,
          expr("transform(sequence(0, size(toks)-3), i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))"))
          .otherwise(expr("cast(array() as array<string>)")))
      .withColumn("ref",
        when(size(col("sh")) > 0, expr(
          """transform(sequence(0, 3), t ->
             array_min(transform(sh, x -> md5(concat(t, ':', x)))))""")))
      .withColumn("native", MinHashExprs.bandMd5Sigs(col("sh"), 4))
    assert(df.filter(col("ref").isNull =!= col("native").isNull ||
      col("ref") =!= col("native")).count() == 0)
  }

  test("jaccardSorted matches the array_intersect/array_union formulation") {
    import graft.functions.MinHashExprs
    // corpus-wide: every doc's shingle hashes against a shifted copy of
    // itself (guaranteed sorted-distinct inputs with partial overlap)
    val hs = docs
      .withColumn("toks", graft.functions.TextFunctions.tokens(col("text")))
      .select(col("doc_id"), MinHashExprs.shingleHashes(col("toks")).as("a"))
      .filter(size(col("a")) > 0)
      .withColumn("b", expr("slice(a, 1, greatest(size(a) - 2, 1))"))
      .withColumn("ref",
        size(array_intersect(col("a"), col("b"))).cast("double") /
          size(array_union(col("a"), col("b"))).cast("double"))
      .withColumn("native", MinHashExprs.jaccardSorted(col("a"), col("b")))
    assert(hs.filter(col("ref") =!= col("native")).count() == 0)
    // edges: disjoint, identical, empty-vs-nonempty, both-empty → null
    val edges = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L), 0.0),
      (Seq(1L, 2L), Seq(1L, 2L), 1.0),
      (Seq(1L, 2L, 3L, 4L), Seq(2L, 4L), 0.5),
      (Seq.empty[Long], Seq(7L), 0.0),
    ).toDF("a", "b", "want")
      .withColumn("got", MinHashExprs.jaccardSorted(col("a"), col("b")))
    assert(edges.filter(col("got") =!= col("want")).count() == 0)
    val bothEmpty = Seq((Seq.empty[Long], Seq.empty[Long])).toDF("a", "b")
      .select(MinHashExprs.jaccardSorted(col("a"), col("b"))).head()
    assert(bothEmpty.isNullAt(0))
  }

  test("simhash: identical text → identical signature; disjoint text differs") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely elsewhere tonight"),
    ).toDF("doc_id", "text").withColumn("sig", NearDup.simhashOf("text"))
    val sigs = df.select("doc_id", "sig").as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("simhash: near-identical text has small hamming distance") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    ).toDF("doc_id", "text").withColumn("sig", NearDup.simhashOf("text"))
    val Array(a, b) = df.select("sig").as[Long].collect()
    assert(java.lang.Long.bitCount(a ^ b) <= 16)
  }

  test("pairsWithinBuckets equals the nested-lambda expansion: exact " +
      "(key, a, b) multiset, a before b in array order") {
    // The historical form the two-generator expansion replaced; kept
    // here as the reference (sequence(0, -1) descends, hence its guard).
    def lambdaPairs(grouped: org.apache.spark.sql.DataFrame) =
      grouped.filter(size(col("docs")) > 1)
        .select(col("k"), explode(expr(
          """flatten(transform(sequence(0, size(docs)-2),
            |  i -> transform(sequence(i+1, size(docs)-1),
            |    j -> struct(docs[i] AS a, docs[j] AS b))))""".stripMargin))
          .as("p"))
        .select(col("k"), col("p.a").as("a"), col("p.b").as("b"))
    // distinct elements in scrambled (unsorted) order, so "a before b"
    // tests array order, not value order; plus a NULL array
    val sizes = Seq(0, 1, 2, 3, 64, 65)
    val longs = (sizes.zipWithIndex.map { case (n, k) =>
      (k.toLong, Option((0 until n).map(i => ((i * 37 + k) % 101).toLong)))
    } :+ ((sizes.size.toLong, Option.empty[Seq[Long]]))).toDF("k", "docs")
    val structs = longs.withColumn("docs", expr(
      "transform(docs, x -> named_struct('id', x, 'tag', concat('t', x)))"))
    val expected = sizes.map(n => n * (n - 1) / 2).sum.toLong
    for ((payload, grouped) <- Seq("long" -> longs, "struct" -> structs)) {
      val got = NearDup.pairsWithinBuckets(grouped, "k")
      assert(got.columns.toSeq == Seq("k", "a", "b"), payload)
      val ref = lambdaPairs(grouped)
      assert(ref.count() == expected && got.count() == expected, payload)
      assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
        s"$payload pair multisets differ")
      val misordered = got.join(grouped, "k").filter(
        array_position(col("docs"), col("a")) >=
          array_position(col("docs"), col("b")))
      assert(misordered.isEmpty, s"$payload: b precedes a")
    }
  }

  test("simhashPairs finds the exact-dup pair, a_id < b_id, deduped bands") {
    val df = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "unrelated totally separate vocabulary nothing shared here at all"),
    ).toDF("doc_id", "text")
    val pairs = NearDup.simhashPairs(df).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(pairs.head.getLong(2) == 0L) // identical → hamming 0
  }

  test("simhashPairs band key ignores the sign bit (unsigned banding)") {
    // Signatures differing ONLY in bit 63: bands 0-2 are bit-identical, so
    // the pair MUST bucket together (hamming 1). The signed form
    // shiftright % 65536 gave band values of opposite sign and missed it.
    val sigs = Seq(
      (1L, (1L << 63) | 5L), // negative long, low bits 5
      (2L, 5L),              // positive, same low bits
      (3L, 0x1234567890abcdL),
    ).toDF("doc_id", "simhash")
    val pairs = NearDup.simhashPairsFromSigs(sigs)
      .select("a_id", "b_id", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.toSet == Set((1L, 2L, 1L)))
  }

  test("minhashLshPairs candidates contain every truly-similar pair (sf0.001 docs)") {
    // ground truth: exact 3-gram jaccard ≥ 0.6 on all pairs (small sf only)
    val sh = NearDup.shingled(docs).select($"doc_id", $"shingle_set")
    val a = sh.select($"doc_id".as("a_id"), $"shingle_set".as("a_sh"))
    val b = sh.select($"doc_id".as("b_id"), $"shingle_set".as("b_sh"))
    val truth = a.join(b, $"a_id" < $"b_id")
      .select($"a_id", $"b_id",
        (size(array_intersect($"a_sh", $"b_sh")).cast("double") /
          size(array_union($"a_sh", $"b_sh")).cast("double")).as("j"))
      .filter($"j" >= 0.6)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "fixture should contain near-dups")
    val lsh = NearDup.minhashLshPairs(docs, maxDistance = 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(truth.subsetOf(lsh),
      s"LSH missed ${truth -- lsh} (recall failure at jaccard ≥ 0.6)")
  }

  test("minhashLshPairs caps boilerplate buckets; representatives still collapse them") {
    // A 200-doc exact-dup cluster (the dup-heavy 100 TB case): every table
    // puts all 200 in ONE bucket — uncapped that is 19,900 struct pairs per
    // generator row. With maxBucket=64 the cluster's pairs are dropped
    // entirely (documented policy), a below-cap 10-doc cluster still yields
    // all C(10,2) pairs, and the run stays in bounded time/memory.
    val boiler = (0L until 200L).map(i =>
      (i, "shared boilerplate header repeated verbatim across the whole corpus"))
    val small = (1000L until 1010L).map(i =>
      (i, "a modest duplicate cluster below the bucket cap threshold"))
    val df = (boiler ++ small).toDF("doc_id", "text")
    val pairs = NearDup.minhashLshPairs(df, maxDistance = 0.1)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    assert(pairs.length == 45, s"expected C(10,2)=45 pairs, got ${pairs.length}")
    assert(pairs.forall { case (a, b) => a >= 1000L && b >= 1000L && a < b })
    // the linear-output clustering form handles the giant cluster instead,
    // under either band family (the md5 one is d53/d66/d77/d91's)
    bandFamilies.foreach { bands => withClue(s"$bands: ") {
      val reps = NearDup.minhashLshRepresentatives(df, bands)
        .as[(Long, Long)].collect().toMap
      assert((0L until 200L).forall(reps(_) == 0L))
    } }
  }

  test("minhashLshRepresentatives: replicas collapse, one row per doc, short docs self-rep") {
    val df = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "alpha beta gamma delta epsilon zeta"), // exact dup of 10
      (12L, "alpha beta gamma delta epsilon zeta"), // exact dup of 10
      (20L, "totally different content nothing shared whatsoever here"),
      (30L, "too short") // < 3 tokens: unsignable
    ).toDF("doc_id", "text")
    bandFamilies.foreach { bands => withClue(s"$bands: ") {
      val reps = NearDup.minhashLshRepresentatives(df, bands)
        .as[(Long, Long)].collect().toMap
      assert(reps.size == 5) // one row per input row — linear, never pairs
      assert(reps(10L) == 10L && reps(11L) == 10L && reps(12L) == 10L)
      assert(reps(20L) == 20L)
      assert(reps(30L) == 30L)
      // dedup = keep rep rows only
      assert(reps.count { case (id, rep) => id == rep } == 3)
    } }
  }

  test("minhashLshRepresentatives is partitioning-invariant") {
    val base = docs.limit(50)
    bandFamilies.foreach { bands => withClue(s"$bands: ") {
      def run(parts: Int) = NearDup
        .minhashLshRepresentatives(base.repartition(parts), bands)
        .as[(Long, Long)].collect().toSet
      assert(run(1) == run(7))
    } }
  }

  test("nearestCentroidCos / pqEncodeCodes match the literal " +
      "struct/array_max|min tree formulations") {
    // The round-21 native quantizer expressions vs the historical
    // inline-literal trees (cellOf's k cosine structs, pqEncode's m × k
    // dot structs) — value-identical over the fixture corpus plus a
    // zero vector (null cosine everywhere → cell 0) and a ragged short
    // vector (invalid PQ slice → code 0). Uses a real trained quantizer
    // so ties/ordering paths are the production ones.
    import graft.operators.VectorSearch
    val emb = Tables.validEmbeddings(spark, sfDir)
    val base = emb.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("emb"))
    val (cents, _) = VectorSearch.ivfIndex(emb, "vec_id", "embedding", 8)
    val books = VectorSearch.pqTrain(emb, "vec_id", "embedding", 8, 16)
    val sub = books.head.head.length
    val legacyCell = {
      val scored = cents.zipWithIndex.map { case (c, i) =>
        struct(graft.functions.VectorExprs.cosine(col("emb"), typedlit(c))
          .as("s"), lit(i).as("cell"))
      }
      val best = array_max(array(scored.map(s =>
        struct(s.getField("s").as("s"), (-s.getField("cell")).as("negCell"))): _*))
      (-best.getField("negCell")).cast("int")
    }
    val legacyCodes = array(books.zipWithIndex.map { case (cws, j) =>
      val sl = slice(col("emb"), j * sub + 1, sub)
      val scored = cws.zipWithIndex.map { case (cw, ci) =>
        val c2 = cw.map(x => x * x).sum
        struct((lit(c2) - lit(2.0) *
          graft.functions.VectorExprs.dot(sl, typedlit(cw))).as("d"),
          lit(ci).as("c"))
      }
      array_min(array(scored: _*)).getField("c")
    }: _*)
    val edges = Seq(
      (9001L, Seq.fill(64)(0.0)),          // zero vector: all cosines null
      (9002L, Seq.fill(3)(1.0)))           // ragged: mismatch/invalid slice
      .toDF("vec_id", "emb")
    val df = base.unionByName(edges)
      .withColumn("cell_ref", legacyCell)
      .withColumn("cell_nat", VectorSearch.cellOf(col("emb"), cents))
      .withColumn("codes_ref", legacyCodes)
      .withColumn("codes_nat", VectorSearch.pqEncode(col("emb"), books))
    assert(df.filter(col("cell_ref") =!= col("cell_nat")).count() == 0,
      "cell assignment diverged from the literal tree")
    assert(df.filter(col("codes_ref") =!= col("codes_nat")).count() == 0,
      "PQ codes diverged from the literal tree")
    // SubCentroid (the IVF-PQ residual) vs the zip_with literal form —
    // elementwise-identical doubles, same padding semantics.
    val res = df.filter(size(col("emb")) === 64)
      .withColumn("res_ref", zip_with(col("emb"),
        element_at(typedlit(cents), col("cell_nat") + 1), (x, c) => x - c))
      .withColumn("res_nat", org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.SubCentroid(
          org.apache.spark.sql.GraftSqlBridge.expression(col("emb")),
          org.apache.spark.sql.GraftSqlBridge.expression(col("cell_nat")),
          cents)))
    assert(res.filter(col("res_ref") =!= col("res_nat")).count() == 0,
      "residual diverged from the zip_with form")
    // PqReconstruct vs the concat-of-literal-lookups tree, and AddCentroid
    // (the IVF-PQ approximate vector, recon + centroid[cell]) vs the
    // zip_with literal form — value-identical over the same corpus+edges
    // (codes are always valid length-m arrays, including for the zero and
    // ragged vectors, so every row exercises the lookup path).
    val sub2 = books.head.head.length
    val legacyRecon = concat(books.zipWithIndex.map { case (cws, j) =>
      element_at(typedlit(cws), element_at(col("codes_nat"), j + 1) + 1)
    }: _*)
    val rec = df
      .withColumn("recon_ref", legacyRecon)
      .withColumn("recon_nat", VectorSearch.pqReconstruct(col("codes_nat"), books))
      .withColumn("apx_ref", zip_with(
        element_at(typedlit(cents), col("cell_nat") + 1),
        VectorSearch.pqReconstruct(col("codes_nat"), books), (c, r) => c + r))
      .withColumn("apx_nat", VectorSearch.pqReconstructInCell(
        col("codes_nat"), col("cell_nat"), cents, books))
    assert(sub2 > 0 &&
      rec.filter(col("recon_ref") =!= col("recon_nat")).count() == 0,
      "reconstruction diverged from the concat/element_at tree")
    assert(rec.filter(col("apx_ref") =!= col("apx_nat")).count() == 0,
      "centroid+recon diverged from the zip_with form")
  }

  test("SignProject matches the array-of-dots literal tree (e16's JL projection)") {
    // The round-21 native sign projection vs the historical
    // array(dot(e, typedlit(row)), ...) tree — value-identical over the
    // fixture corpus plus a zero vector (dot = 0.0, not null), a ragged
    // short vector (length mismatch → all elements null), and a vector
    // with a null element (→ all elements null). The sign matrix is a
    // deterministic ±1 test matrix exercising both signs.
    val signs: Seq[Seq[Double]] = (0 until 16).map { k =>
      (0 until 64).map(j => if ((k + j) % 2 == 0) 1.0 else -1.0): Seq[Double]
    }
    val base = Tables.validEmbeddings(spark, sfDir).select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("emb"))
    val edges = Seq(
      (9001L, Seq.fill(64)(Option(0.0))),                 // zero vector
      (9002L, Seq.fill(3)(Option(1.0))),                  // ragged length
      (9003L, Option(1.0) +: Seq.fill(63)(Option.empty[Double]))) // null elem
      .toDF("vec_id", "emb")
    val legacy = array(signs.map(row =>
      graft.functions.VectorExprs.dot(col("emb"), typedlit(row))): _*)
    val df = base.unionByName(edges)
      .withColumn("pe_ref", legacy)
      .withColumn("pe_nat",
        graft.functions.VectorExprs.signProject(col("emb"), signs))
    assert(df.filter(col("pe_ref") =!= col("pe_nat")).count() == 0,
      "sign projection diverged from the array-of-dots tree")
    assert(df.filter(col("pe_nat").isNull).count() == 0,
      "projection array itself must never be null (CreateArray parity)")
  }

  test("ArrayNorm matches the sqrt(aggregate(transform)) fold (norm())") {
    // The round-21 native L2 norm vs the historical interpreted fold —
    // value-identical over the fixture corpus plus a zero vector
    // (sqrt(0) = 0), an empty array (the fold's 0.0 init → 0.0), a
    // vector with a null element (fold goes null → null), and a null
    // array (null in, null out). Same strict left-to-right s += x·x
    // accumulation, so the doubles are bit-identical, not just close.
    val base = Tables.validEmbeddings(spark, sfDir).select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("emb"))
    val edges = Seq(
      (9001L, Option(Seq.fill(64)(Option(0.0)))),            // zero vector
      (9002L, Option(Seq.empty[Option[Double]])),            // empty array
      (9003L, Option(Option(1.0) +: Seq.fill(63)(Option.empty[Double]))),
      (9004L, Option.empty[Seq[Option[Double]]]))            // null array
      .toDF("vec_id", "emb")
    val legacy = sqrt(aggregate(transform(col("emb"), x => x * x),
      lit(0.0), (acc, x) => acc + x))
    val df = base.unionByName(edges)
      .withColumn("n_ref", legacy)
      .withColumn("n_nat", graft.functions.VectorExprs.norm(col("emb")))
    assert(df.filter(col("n_ref").isNull =!= col("n_nat").isNull ||
      col("n_ref") =!= col("n_nat")).count() == 0,
      "norm diverged from the interpreted fold form")
  }

  test("IVF: top-k contains the brute-force top-1; always k rows") {
    val emb = Tables.embeddings(spark, sfDir)
    val brute = VectorSearch.bruteTopK(emb, "vec_id", "embedding", 0L, 10)
      .select("vec_id").as[Long].collect()
    val (centroids, assigned) =
      VectorSearch.ivfIndex(emb, "vec_id", "embedding", k = 8, iters = 1)
    assert(centroids.size == 8 && centroids.forall(_.size == 64))
    val ann = VectorSearch.ivfTopK(assigned, centroids, "vec_id", 0L, 10, nprobe = 2)
      .select("vec_id").as[Long].collect()
    assert(ann.length == 10)
    // nprobe=2/8 cells: the true nearest neighbor is expected in-cell for
    // this data; weaker-than-exact by construction, so assert top-1 only
    assert(ann.contains(brute.head),
      s"IVF(probe 2/8) missed brute-force top-1 ${brute.head}")
  }

  test("PQ: codebook shape, code range, exact reconstruction identity, " +
      "and ADC recall floor") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions._
    val base = Tables.validEmbeddings(spark, sfDir)
      .select($"vec_id", asDouble($"embedding").as("emb"))
    val books = VectorSearch.pqTrain(base, "vec_id", "emb", m = 8, k = 16)
    assert(books.length == 8 && books.forall(_.nonEmpty) &&
      books.forall(_.forall(_.length == 8)),
      "8 subspaces of 8 dims, non-empty codebooks")
    val coded = base
      .withColumn("codes", VectorSearch.pqEncode($"emb", books))
      .withColumn("recon", VectorSearch.pqReconstruct($"codes", books))
    val rows = coded.select($"codes", size($"recon"))
      .as[(Seq[Int], Int)].collect()
    assert(rows.forall { case (c, rl) =>
      c.length == 8 && c.forall(ci => ci >= 0 && ci < 16) && rl == 64 })
    // a codeword IS its own nearest codeword: encoding a reconstruction
    // returns the same codes (Lloyd fixpoint sanity)
    val stable = coded
      .withColumn("codes2", VectorSearch.pqEncode($"recon", books))
      .filter($"codes" =!= $"codes2").count()
    assert(stable == 0L, "re-encoding a reconstruction must be stable")
    // recall floor on the structureless fixture: PQ-ADC measured ~0.17
    // mean at sf0.001, above the sibling evals (e07 ~0.08); pin a loose
    // floor so a broken encode/ADC (recall → ~0) fails loudly
    val recall = graft.queries.GraftQuery.all
      .find(_.name == "e13_pq_adc_recall").get
      .run(spark, sfDir).select($"recall_at_3").as[Double].collect()
    assert(recall.nonEmpty && recall.forall(r => r >= 0.0 && r <= 1.0))
    assert(recall.sum / recall.length >= 0.05,
      s"PQ ADC mean recall ${recall.sum / recall.length} below floor")
  }

  test("d39 prefix-filter join is exhaustive: equals brute-force all-pairs " +
      "jaccard >= 0.5 (the lossless-prefix theorem, sf0.001)") {
    import graft.queries.GraftQuery
    val got = GraftQuery.all.find(_.name == "d39_prefix_jaccard_join").get
      .run(spark, sfDir)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val sets = NearDup.shingled(docs)
      .select($"doc_id", $"shingle_set").as[(Long, Seq[String])].collect()
      .map { case (id, g) => (id, g.toSet) }
    val brute = (for {
      (a, ga) <- sets; (b, gb) <- sets
      if a < b
      uni = ga.union(gb).size
      if uni > 0 && ga.intersect(gb).size.toDouble / uni >= 0.5
    } yield (a, b)).toSet
    assert(got == brute,
      s"missed=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
  }
}
