package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def cleanOne(s: String): String =
    Seq(s).toDF("t").select(TextFunctions.cleanText($"t")).as[String].head()

  test("T1 lowercase") {
    assert(cleanOne("HOLA Mundo") == "hola mundo")
  }

  test("T2 URL strip (reference pattern main.R:99)") {
    assert(cleanOne("mira esto https://t.co/abc123 increible") == "mira increible")
    assert(cleanOne("ftp://files.example.com/x listo") == "listo")
  }

  test("T3 mention strip") {
    assert(cleanOne("hola @pinera chao") == "hola chao")
  }

  test("T4 accented Spanish stopwords removed ((?U) word boundaries)") {
    // él, más, también are in the Snowball list — the regex dialect trap
    assert(cleanOne("también él dijo vamos por más fuerza") == "dijo vamos fuerza")
  }

  test("T4 stopwords only match whole words") {
    // "la" is a stopword but "lado" / "chile" must survive
    assert(cleanOne("la lado chile") == "lado chile")
  }

  test("T5 squish: trim + collapse runs") {
    assert(cleanOne("  hola    mundo  ") == "hola mundo")
  }

  test("clean is idempotent") {
    val texts = Seq(
      "La marcha MÁS grande https://t.co/x @user también   aquí",
      "", "   ", "sin cambios")
    val once = texts.toDF("t").select(TextFunctions.cleanText($"t").as("c")).as[String].collect()
    val twice = once.toSeq.toDF("t").select(TextFunctions.cleanText($"t").as("c")).as[String].collect()
    assert(once.toSeq == twice.toSeq)
  }

  test("null propagates") {
    val r = Seq[Option[String]](None).toDF("t")
      .select(TextFunctions.cleanText($"t")).collect()(0)
    assert(r.isNullAt(0))
  }

  test("tokenCount: empty and blank strings are 0") {
    val df = Seq("", "   ", "one two  three").toDF("t")
      .select(TextFunctions.tokenCount($"t").as("n")).as[Int].collect()
    assert(df.toSeq == Seq(0, 0, 3))
  }

  test("bpeish token count splits words/digits/punct") {
    val n = Seq("hola, mundo 42!").toDF("t")
      .select(TextFunctions.bpeishTokenCount($"t")).as[Int].head()
    assert(n == 5) // hola , mundo 42 !
  }

  test("fingerprint is normalization-invariant") {
    val fps = Seq("Hola  Mundo", "hola mundo", "  HOLA MUNDO  ").toDF("t")
      .select(TextFunctions.fingerprint($"t")).as[String].collect()
    assert(fps.distinct.length == 1)
  }

  test("langId picks dominant marker language") {
    val df = Seq(
      "the cat is on the mat and it is happy",
      "la casa de la madre es grande y el perro",
      "zzzz qqqq xxxx").toDF("t")
      .select(TextFunctions.langId($"t").as("l")).as[String].collect()
    assert(df.toSeq == Seq("en", "es", "und"))
  }

  test("qualityScore in [0,1] and penalizes punctuation soup") {
    val rows = Seq(
      "A reasonable length sentence about data engineering and query plans.",
      "!!!###$$$%%%^^^&&&***((()))").toDF("t")
      .select(TextFunctions.qualityScore($"t").as("q")).as[Double].collect()
    assert(rows.forall(q => q >= 0.0 && q <= 1.0))
    assert(rows(0) > rows(1))
  }

  test("stopword list loads fully") {
    assert(TextFunctions.spanishStopwords.size > 300)
    assert(TextFunctions.spanishStopwords.contains("él"))
  }

  // ---- native Catalyst expressions (TextExprs) ---------------------------

  test("scrubWords matches the ASCII \\b-alternation regex on varied inputs") {
    import graft.functions.TextExprs
    val words = Seq("de", "la", "el", "los", "y", "que", "para")
    val regex = TextFunctions.plainWordPattern(words)
    val inputs = Seq(
      "la casa de los perros y el gato",
      "lado dela ellos parar", // substrings must survive (whole-word only)
      "de", "  de  ", "", "   ",
      "de,la;el:los", "x_de de_x de_ _de", // underscores join word runs
      "123 de 456 la789", "DE La eL", // scrub is case-sensitive like the regex
      "a!de!b", "de de de", "que?que!que.")
    val df = inputs.toDF("t").select(
      TextExprs.scrubWords($"t", words).as("scrub"),
      regexp_replace($"t", regex, "").as("re"))
    df.collect().zip(inputs).foreach { case (r, in) =>
      assert(r.getString(0) == r.getString(1),
        s"scrub='${r.getString(0)}' regex='${r.getString(1)}' for input '$in'")
    }
  }

  test("scrubWords matches the regex on random ASCII strings") {
    import graft.functions.TextExprs
    val words = TextFunctions.spanishStopwords.filter(_.forall(c =>
      (c >= 'a' && c <= 'z') || c == '_'))
    val regex = TextFunctions.plainWordPattern(words)
    val rnd = new scala.util.Random(7)
    val alphabet = "abcdefghij _.,!xyzqu" // short words → frequent stopword hits
    val inputs = (1 to 200).map(_ =>
      (1 to rnd.nextInt(80)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = inputs.toDF("t").select(
      TextExprs.scrubWords($"t", words).as("scrub"),
      regexp_replace($"t", regex, "").as("re"))
    df.collect().foreach { r =>
      assert(r.getString(0) == r.getString(1))
    }
  }

  test("cleanTextAscii (scrub path) equals the one-regex formulation") {
    val oneRegex = (c: org.apache.spark.sql.Column) =>
      TextFunctions.squish(regexp_replace(regexp_replace(regexp_replace(lower(c),
        TextFunctions.urlPattern, ""), TextFunctions.asciiMentionPattern, ""),
        TextFunctions.asciiSpanishStopwordPattern, ""))
    val inputs = Seq(
      "La marcha MAS grande https://t.co/x @user tambien   aqui",
      "el que quiera de los nuestros para la causa",
      "", "   ", "sin_cambios de_nada", "de la que el en y a los del se")
    val df = inputs.toDF("t").select(
      TextFunctions.cleanText($"t").as("fast"), oneRegex($"t").as("slow"))
    df.collect().foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("scrubWords with the Spanish list equals the (?U) alternation on " +
      "random Unicode strings") {
    import graft.functions.TextExprs
    val words = TextFunctions.spanishStopwords
    val regex = words.map(java.util.regex.Pattern.quote)
      .mkString("(?U)\\b(?:", "|", ")\\b")
    // Pieces glued with no separator, so word runs form across them:
    // stopwords (accented ones too), letters, a combining acute (U+0301),
    // ZWNJ/ZWJ, the connector U+203F, an Arabic-Indic digit, an astral
    // letter (U+1D400), an emoji, dotted I, sharp s, underscore,
    // punctuation and whitespace.
    val pieces = Seq("de", "la", "que", "el", "él", "más", "también", "estás",
      "sí", "a", "e", "x", "á", "ñ", "\u0301", "\u200C", "\u200D", "\u203F",
      "\u0663", "\uD835\uDC00", "\uD83D\uDE00", "İ", "ß", "_", ".", ",",
      "¿", "!", "-", "'", " ", " ", " ", "\t", "\n")
    val rnd = new scala.util.Random(14)
    val inputs = (1 to 2000).map(_ =>
      (1 to rnd.nextInt(24)).map(_ => pieces(rnd.nextInt(pieces.length))).mkString)
    val df = inputs.toDF("t").select($"t",
      TextExprs.scrubWords($"t", words).as("scrub"),
      regexp_replace($"t", regex, "").as("re"))
    df.collect().foreach { r =>
      assert(r.getString(1) == r.getString(2), s"input '${r.getString(0)}'")
    }
  }

  test("simhash64 expression matches a reference implementation") {
    import graft.functions.TextExprs
    // independent reference: tokenize on \s+, xxhash64(seed 42) per token,
    // sign-of-counter per bit
    def ref(s: String): Long = {
      val toks = s.trim.split("\\s+").filter(_.nonEmpty)
      val counters = new Array[Int](64)
      toks.foreach { t =>
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(t.getBytes("UTF-8"),
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
            t.getBytes("UTF-8").length, 42L)
        (0 until 64).foreach { k =>
          if (((h >>> k) & 1L) == 1L) counters(k) += 1 else counters(k) -= 1
        }
      }
      (0 until 64).foldLeft(0L)((acc, k) =>
        if (counters(k) > 0) acc | (1L << k) else acc)
    }
    val inputs = Seq("one two three", "  spaced   out\ttabs\n", "", "solo",
      "repeat repeat repeat other")
    val got = inputs.toDF("t").select(TextExprs.simhash64($"t")).as[Long].collect()
    assert(got.toSeq == inputs.map(ref))
  }

  test("wordNgrams matches the interpreted transform/concat tree") {
    import graft.functions.TextExprs
    // The historical sparkGrams tree, verbatim (the round-21 native
    // expression replaced it across the gram family) — including its
    // null rule: NULL token array → EMPTY gram list.
    val legacy = expr(
      """CASE WHEN size(toks) >= 3 THEN
           transform(sequence(0, size(toks)-3),
             i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))
         ELSE cast(array() as array<string>) END""")
    val texts = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "uno dos tres"),           // exactly n tokens → one gram
      (3L, "too short"),              // < n tokens → empty
      (4L, ""),                       // no tokens → empty
      (5L, null.asInstanceOf[String]) // null text → null toks → empty
    ).toDF("doc_id", "text")
      .withColumn("toks", graft.functions.TextFunctions.tokens(col("text")))
    val df = texts
      .withColumn("ref", legacy)
      .withColumn("nat", TextExprs.wordNgrams(col("toks"), 3))
    assert(df.filter(not(col("ref") <=> col("nat"))).count() == 0,
      "native word n-grams diverged from the transform/concat tree")
    // fixture corpus too (real tokenizer output at volume)
    val corpus = graft.sources.Tables.documents(spark, sfDir)
      .withColumn("toks", graft.functions.TextFunctions.tokens(col("text")))
      .withColumn("ref", legacy)
      .withColumn("nat", TextExprs.wordNgrams(col("toks"), 3))
    assert(corpus.filter(not(col("ref") <=> col("nat"))).count() == 0)
  }

  test("taggedNgrams matches the concat-of-CASE-transform tree (d104's)") {
    import graft.functions.TextExprs
    val ns = Seq(3, 5, 8)
    def gramsN(n: Int): String =
      s"""CASE WHEN size(toks) >= $n THEN
           transform(sequence(0, size(toks) - $n),
             i -> named_struct('n', cast($n as bigint),
               'gram', array_join(slice(toks, i + 1, $n), ' ')))
         ELSE cast(array() as array<struct<n: bigint, gram: string>>)
         END"""
    val legacy = expr(ns.map(gramsN).mkString("concat(", ", ", ")"))
    val texts = Seq(
      (1L, "a b c d e f g h i j"),    // all three widths populated
      (2L, "uno dos tres quatro"),    // 3-grams + nothing at 5/8
      (3L, "x y"), (4L, ""), (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
      .withColumn("toks", graft.functions.TextFunctions.tokens(col("text")))
    val df = texts
      .withColumn("ref", legacy)
      .withColumn("nat", TextExprs.taggedNgrams(col("toks"), ns))
    assert(df.filter(not(col("ref") <=> col("nat"))).count() == 0,
      "native tagged n-grams diverged from the CASE/transform tree")
    val corpus = graft.sources.Tables.documents(spark, sfDir)
      .withColumn("toks", graft.functions.TextFunctions.tokens(col("text")))
      .withColumn("ref", legacy)
      .withColumn("nat", TextExprs.taggedNgrams(col("toks"), ns))
    assert(corpus.filter(not(col("ref") <=> col("nat"))).count() == 0)
  }
}
