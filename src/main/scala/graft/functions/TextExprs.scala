package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression, XXH64}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native, codegen'd Catalyst expressions for the two text operators
  * whose `functions._` formulations dominate the bench profile:
  *
  *   - [[ScrubWords]] — whole-word stopword removal. The regex form
  *     (`regexp_replace(c, "(?U)\\b(?:w1|…|w308)\\b", "")`) retries a 308-way
  *     alternation at every character position; this expression does one
  *     linear pass with an O(1) hash-set probe per word.
  *   - [[SimHash64]] — 64-bit SimHash over whitespace tokens. The SQL
  *     `aggregate`/`zip_with` form allocates a 64-element array per token and
  *     re-evaluates `xxhash64(token)` once per bit; this expression hashes
  *     each token once and keeps 64 scalar counters.
  *
  * Both are null-safe unary string expressions that stay inside whole-stage
  * codegen (the generated code calls the static helpers in [[TextOps]]
  * through [[KernelCall]]), so they fuse with the surrounding scan/project
  * stage — no UDF boundary, no serialization. Semantics notes live on each
  * class.
  */
object TextExprs {

  /** A word list as the word-set kernels take it. */
  private[functions] def wordSet(words: Seq[String]): Literal = {
    val s = new java.util.HashSet[String](words.size * 2)
    words.foreach(s.add)
    KernelCall.const(s)
  }

  /** Remove every maximal word run (`(?U)\w+`) of `c` that is in `words`,
    * keeping all other characters. Equivalent to
    * `regexp_replace(c, "(?U)\\b(?:" + words.mkString("|") + ")\\b", "")`
    * for word lists whose entries are made of word characters only, and so
    * to the ASCII `\b` form on ASCII text — verified by TextFunctionsSpec
    * against both regex forms. */
  def scrubWords(c: Column, words: Seq[String]): Column =
    GraftSqlBridge.column(ScrubWords(GraftSqlBridge.expression(c), words))

  /** One-pass SimHash-64 of the whitespace tokens of `c` (xxhash64, seed 42,
    * same hash family as `functions.xxhash64`). */
  def simhash64(c: Column): Column =
    GraftSqlBridge.column(SimHash64(GraftSqlBridge.expression(c)))

  /** Count of maximal word runs (`(?U)\w+`) of `c` contained in `words` —
    * equivalent to `size(regexp_extract_all(c, "(?U)\\b(?:w1|…)\\b", 0))`
    * for word-character entries (same equivalence argument as
    * [[ScrubWords]]), in one linear pass. */
  def countWordsIn(c: Column, words: Seq[String]): Column =
    GraftSqlBridge.column(CountWordsIn(GraftSqlBridge.expression(c), words))

  /** Greedy BPE ENCODE of a word column under an ORDERED merge list —
    * the corpus-scale APPLY of the tokenizer [[graft.operators.Bpe]]
    * trains: code-point symbols, each merge applied left-to-right
    * non-overlapping in training order (Bpe.mergePair's fold semantics),
    * as ONE codegen'd per-row pass over the whole merge table. The
    * aggregate-lambda form would nest k folds (k=256 blows past JIT
    * limits and re-materializes the symbol array per step); here the
    * merge table is a plan-literal reference object and the row cost is
    * O(len × k) with zero per-step allocation churn. */
  def bpeEncode(c: Column, merges: Seq[(String, String)]): Column =
    GraftSqlBridge.column(BpeEncode(GraftSqlBridge.expression(c), merges))

  /** One-pass char-bigram statistics of `c` (d86's measurement computed
    * without the bigram explode/shuffle): struct(n_bigrams, n_distinct,
    * entropy, eff_alphabet), bit-identical to d86's oracle-pinned values
    * — the per-bigram ln rounds through the SAME shortest-repr
    * BigDecimal HALF_UP as Spark's round(), weights sum as exact
    * decimals, and the final divide/exp run in the same op order. NULL
    * for inputs with fewer than 2 chars (d86 leaves those rows'
    * entropy NULL). */
  def charBigramStats(c: Column): Column =
    GraftSqlBridge.column(CharBigramStats(GraftSqlBridge.expression(c)))

  /** Space-joined word n-grams of a token-array column — the native form
    * of the `sparkGrams` tree `CASE WHEN size(toks) >= n THEN
    * transform(sequence(0, size-n), i -> concat(toks[i],' ',…))
    * ELSE [] END`, which dispatched an interpreted lambda per gram with
    * n element lookups and a varargs concat. The coalesce replicates the
    * CASE's null rule (NULL token array → EMPTY gram list, never null);
    * size < n → empty inside the expression. */
  def wordNgrams(c: Column, n: Int): Column =
    org.apache.spark.sql.functions.coalesce(
      GraftSqlBridge.column(WordNgrams(GraftSqlBridge.expression(c), n)),
      org.apache.spark.sql.functions.typedlit(Seq.empty[String]))

  /** Width-tagged word n-grams: one array of struct(n, gram) rows covering
    * every width in `ns`, in width order — the native form of d104's
    * `concat(CASE … transform(sequence(0, size-n), i -> named_struct('n',
    * n, 'gram', array_join(slice(toks, i+1, n), ' '))) …)` tree (three
    * interpreted lambdas per token with a slice + array_join each). The
    * coalesce replicates the CASE null rule (NULL token array → EMPTY
    * list); size < n contributes nothing for that width, and a null token
    * element is SKIPPED inside its gram (array_join's rule — unlike the
    * concat-form [[wordNgrams]]). */
  def taggedNgrams(c: Column, ns: Seq[Int]): Column =
    org.apache.spark.sql.functions.coalesce(
      GraftSqlBridge.column(TaggedNgrams(GraftSqlBridge.expression(c), ns)),
      org.apache.spark.sql.functions.expr(
        "cast(array() as array<struct<n: bigint, gram: string>>)"))
}

/** Whole-word stopword scrub: removes the maximal word runs contained in
  * the word set. A word character is Java's `(?U)\w` (letters, marks,
  * decimal digits, connector punctuation, ZWNJ/ZWJ), taken by code point.
  *
  * Equivalence with the regex form `(?U)\b(?:w1|…)\b` for entries made of
  * word characters only (all 308 Snowball Spanish stopwords are): `(?U)\b`
  * is a transition of the same predicate, so it bounds a match by non-word
  * characters (or string edges) on both sides, and a match is exactly a
  * maximal word run equal to some entry. On ASCII text the predicate is
  * `[A-Za-z0-9_]`, so the scrub also equals the ASCII `\b` form the
  * DuckDB oracle writes.
  */
case class ScrubWords(child: Expression, words: Seq[String])
    extends UnaryExpression with KernelCall {

  override def dataType: DataType = StringType
  override def prettyName: String = "scrub_words"

  override protected def kernels: AnyRef = TextOps
  override protected def kernel: String = "scrub"
  override protected def constants: Seq[Expression] = Seq(TextExprs.wordSet(words))

  override protected def withNewChildInternal(newChild: Expression): ScrubWords =
    copy(child = newChild)
}

/** SimHash-64 over whitespace tokens: each token's xxhash64 (seed 42) votes
  * +1/−1 per bit position; the signature takes the sign of each counter.
  * Tokens are maximal runs of non-`\s` bytes (`\s` = ASCII
  * space/tab/LF/VT/FF/CR, the Java regex default) — identical token
  * boundaries to `filter(split(trim(c), "\\s+"), t -> length(t) > 0)`.
  * Empty/whitespace-only input hashes to signature 0. */
case class SimHash64(child: Expression)
    extends UnaryExpression with KernelCall {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def kernels: AnyRef = TextOps
  override protected def kernel: String = "simhash64"

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Whole-word hit counter: counts the maximal word runs (`(?U)\w+`)
  * contained in the word set (see [[ScrubWords]] for the word predicate
  * and the regex-equivalence argument). */
case class CountWordsIn(child: Expression, words: Seq[String])
    extends UnaryExpression with KernelCall {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "count_words_in"

  override protected def kernels: AnyRef = TextOps
  override protected def kernel: String = "countWordsIn"
  override protected def constants: Seq[Expression] = Seq(TextExprs.wordSet(words))

  override protected def withNewChildInternal(newChild: Expression): CountWordsIn =
    copy(child = newChild)
}

/** Greedy ordered-merge BPE encoder (see [[TextExprs.bpeEncode]]).
  * Segmentation is Unicode code points (an astral char is one symbol) —
  * identical to Bpe.train's `substring` split and Bpe.codePointSyms.
  * Each merge (l, r) rewrites the symbol sequence left-to-right
  * non-overlapping, exactly [[graft.operators.Bpe.mergePair]]'s
  * append-or-replace-last fold — so encode(train(k)) reproduces the
  * training table's final symbols word for word (spec-pinned), and for
  * single-char merge chains the token count equals the placeholder
  * replace-chain form (d94's oracle-checkable geometry). Output
  * array<string> is never null for non-null input ("" → empty array). */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with KernelCall {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"

  override protected def kernels: AnyRef = TextOps
  override protected def kernel: String = "bpeEncode"
  override protected def constants: Seq[Expression] =
    Seq(KernelCall.const(merges.map { case (l, r) => Array(l, r) }.toArray))

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

/** One-pass char-bigram stats: struct(n_bigrams L, n_distinct L,
  * entropy D, eff_alphabet D) over consecutive Unicode CODE POINTS —
  * the same segmentation as `split(text, '')` (Java's split("") never
  * splits a surrogate pair, so an astral char is one element), so
  * counts agree with d86's explode form on any input, astral chars
  * included, and bit-for-bit on the ASCII corpus. Entropy replicates d86's exact
  * arithmetic: H = −(Σ_b c_b · round6(ln(c_b/n)) as DECIMAL(…,6))/n
  * with round6 = Spark's shortest-repr BigDecimal HALF_UP — so the
  * native path and the oracle-pinned d86 emit IDENTICAL doubles
  * (spec-asserted frame equality). Returns null when n_bigrams = 0. */
case class CharBigramStats(child: Expression)
    extends UnaryExpression with KernelCall {

  override def dataType: DataType = CharBigramStats.schema
  override def nullable: Boolean = true
  override def prettyName: String = "char_bigram_stats"

  override protected def kernels: AnyRef = TextOps
  override protected def kernel: String = "charBigramStats"
  override protected def kernelNullable: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): CharBigramStats =
    copy(child = newChild)
}

object CharBigramStats {
  import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
  val schema: StructType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("entropy", DoubleType, nullable = false),
    StructField("eff_alphabet", DoubleType, nullable = false)))
}

/** Space-joined word n-grams over a token array — one pass, one
  * UTF8String.concatWs per gram, no lambda dispatch. Replicates the
  * interpreted transform tree exactly (see TextExprs.wordNgrams):
  * size < n → empty array; a null token element nulls every gram whose
  * window contains it (concat's null rule — concatWs alone would SKIP
  * nulls, hence the explicit window check). Parity with the tree is
  * pinned by TextFunctionsSpec. */
case class WordNgrams(child: Expression, n: Int)
    extends UnaryExpression with KernelCall {

  require(n >= 1, s"n-gram width must be positive, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "word_ngrams"

  override protected def kernels: AnyRef = TextOps
  override protected def kernel: String = "wordNgrams"
  override protected def constants: Seq[Expression] = Seq(Literal(n))

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

/** Width-tagged word n-grams (see TextExprs.taggedNgrams): all widths in
  * one pass, array_join null-skip semantics per gram. Parity with the
  * concat-of-CASE-transform tree pinned by TextFunctionsSpec. */
case class TaggedNgrams(child: Expression, ns: Seq[Int])
    extends UnaryExpression with KernelCall {
  import org.apache.spark.sql.types.{StructField, StructType}

  require(ns.nonEmpty && ns.forall(_ >= 1), s"bad n-gram widths: $ns")

  // field/element nullability matches the historical tree's cast literal
  // so the coalesce wrapper's branches carry one type
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", LongType, nullable = true),
    StructField("gram", StringType, nullable = true))), containsNull = true)
  override def prettyName: String = "tagged_ngrams"

  override protected def kernels: AnyRef = TextOps
  override protected def kernel: String = "taggedNgrams"
  override protected def constants: Seq[Expression] =
    Seq(KernelCall.const(ns.toArray))

  override protected def withNewChildInternal(newChild: Expression): TaggedNgrams =
    copy(child = newChild)
}

/** The text expressions' static kernels, bound by [[KernelCall]]. */
object TextOps {

  /** See [[TaggedNgrams]]. */
  def taggedNgrams(toks: org.apache.spark.sql.catalyst.util.ArrayData,
      widths: Array[Int]): org.apache.spark.sql.catalyst.util.ArrayData = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val sz = toks.numElements()
    val sep = UTF8String.fromString(" ")
    var total = 0
    var w = 0
    while (w < widths.length) {
      if (sz >= widths(w)) total += sz - widths(w) + 1
      w += 1
    }
    val out = new Array[Any](total)
    var o = 0
    w = 0
    while (w < widths.length) {
      val n = widths(w)
      if (sz >= n) {
        var i = 0
        while (i <= sz - n) {
          // array_join skips null elements
          var cnt = 0
          var j = 0
          while (j < n) { if (!toks.isNullAt(i + j)) cnt += 1; j += 1 }
          val parts = new Array[UTF8String](cnt)
          var k = 0
          j = 0
          while (j < n) {
            if (!toks.isNullAt(i + j)) {
              parts(k) = toks.getUTF8String(i + j); k += 1
            }
            j += 1
          }
          val row = new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(2)
          row.update(0, n.toLong)
          row.update(1, UTF8String.concatWs(sep, parts: _*))
          out(o) = row
          o += 1
          i += 1
        }
      }
      w += 1
    }
    new GenericArrayData(out)
  }

  /** See [[WordNgrams]]. */
  def wordNgrams(toks: org.apache.spark.sql.catalyst.util.ArrayData,
      n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val sz = toks.numElements()
    if (sz < n) return new GenericArrayData(Array.empty[Any])
    val sep = UTF8String.fromString(" ")
    val out = new Array[Any](sz - n + 1)
    var i = 0
    while (i <= sz - n) {
      var ok = true
      var j = 0
      while (j < n && ok) { if (toks.isNullAt(i + j)) ok = false; j += 1 }
      if (ok) {
        val parts = new Array[UTF8String](n)
        var k = 0
        while (k < n) { parts(k) = toks.getUTF8String(i + k); k += 1 }
        out(i) = UTF8String.concatWs(sep, parts: _*)
      } // else: null gram (concat-of-null rule)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Character types of Java's `(?U)\w` besides the alphabetic ones. */
  private val WordTypes =
    (1 << Character.NON_SPACING_MARK) | (1 << Character.ENCLOSING_MARK) |
      (1 << Character.COMBINING_SPACING_MARK) |
      (1 << Character.DECIMAL_DIGIT_NUMBER) |
      (1 << Character.CONNECTOR_PUNCTUATION)

  /** Java's `(?U)\w` (`java.util.regex.CharPredicates.WORD`): alphabetic,
    * a Mn/Me/Mc mark, a decimal digit, connector punctuation, or the
    * ZWNJ/ZWJ join controls. `(?U)\b` is a transition of this predicate,
    * so on ASCII text it is `[A-Za-z0-9_]`, the ASCII `\w`. */
  private def isWordChar(cp: Int): Boolean =
    Character.isAlphabetic(cp) || ((WordTypes >> Character.getType(cp)) & 1) != 0 ||
      cp == 0x200C || cp == 0x200D

  /** The end of the maximal word run of `s` starting at `i`. */
  private def runEnd(s: String, i: Int): Int = {
    var j = i
    while (j < s.length && isWordChar(s.codePointAt(j)))
      j += Character.charCount(s.codePointAt(j))
    j
  }

  /** Count maximal word runs of `input` found in `words`. */
  def countWordsIn(input: UTF8String, words: java.util.HashSet[String]): Int = {
    val s = input.toString
    var count = 0
    var i = 0
    while (i < s.length) {
      val j = runEnd(s, i)
      if (j > i) {
        if (words.contains(s.substring(i, j))) count += 1
        i = j
      } else i += Character.charCount(s.codePointAt(i))
    }
    count
  }

  /** Single pass over the string: copy through everything except maximal
    * word runs found in `stop`. */
  def scrub(input: UTF8String, stop: java.util.HashSet[String]): UTF8String = {
    val s = input.toString
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val j = runEnd(s, i)
      if (j > i) {
        if (!stop.contains(s.substring(i, j))) sb.append(s, i, j)
        i = j
      } else {
        val next = i + Character.charCount(s.codePointAt(i))
        sb.append(s, i, next)
        i = next
      }
    }
    UTF8String.fromString(sb.toString)
  }

  // ASCII whitespace bytes of Java regex \s; multi-byte UTF-8 chars all have
  // the high bit set, so byte-level scanning is UTF-8 safe.
  @inline private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0d)

  /** One-pass SimHash-64 over the UTF-8 bytes (no tokens array, one
    * xxhash64 per token). */
  def simhash64(input: UTF8String): Long = {
    val base = input.getBaseObject
    val off = input.getBaseOffset
    val n = input.numBytes
    val counters = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (isWs(Platform.getByte(base, off + i))) i += 1
      else {
        var j = i + 1
        while (j < n && !isWs(Platform.getByte(base, off + j))) j += 1
        val h = XXH64.hashUnsafeBytes(base, off + i, j - i, 42L)
        var k = 0
        while (k < 64) {
          if (((h >>> k) & 1L) == 1L) counters(k) += 1 else counters(k) -= 1
          k += 1
        }
        i = j
      }
    }
    var sig = 0L
    var k = 0
    while (k < 64) {
      if (counters(k) > 0) sig |= 1L << k
      k += 1
    }
    sig
  }

  /** Greedy ordered-merge BPE encode (see [[BpeEncode]]): code-point
    * split, then each merge applied left-to-right non-overlapping with
    * an in-place two-pointer rewrite (the write head never passes the
    * read head, so no per-merge array copy). */
  def bpeEncode(input: UTF8String,
      merges: Array[Array[String]]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = input.toString
    var n = s.codePointCount(0, s.length)
    val syms = new Array[String](n)
    var i = 0
    var j = 0
    while (i < s.length) {
      val e = s.offsetByCodePoints(i, 1)
      syms(j) = s.substring(i, e)
      j += 1
      i = e
    }
    var m = 0
    while (m < merges.length && n > 1) {
      val l = merges(m)(0)
      val r = merges(m)(1)
      var w = 0
      var k = 0
      while (k < n) {
        val x = syms(k)
        if (w > 0 && x == r && syms(w - 1) == l) syms(w - 1) = l + r
        else {
          syms(w) = x
          w += 1
        }
        k += 1
      }
      n = w
      m += 1
    }
    val out = new Array[Any](n)
    var t = 0
    while (t < n) {
      out(t) = UTF8String.fromString(syms(t))
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** One-pass char-bigram stats (see [[CharBigramStats]]): a single
    * per-row hash map replaces d86's explode → shuffle → two-level
    * aggregation. Entropy arithmetic replicates Spark's exact pipeline
    * verbatim: BigDecimal.valueOf (shortest-repr) HALF_UP rounding for
    * round(·, 6), exact decimal weight sums, doubleValue casts — so the
    * result is bit-identical to the oracle-pinned d86 frame. */
  def charBigramStats(input: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = input.toString
    // CODE POINTS, not UTF-16 units: Java's split("") (d86's
    // segmentation) never splits a surrogate pair, so an astral char is
    // ONE element — iterating chars here would cut pairs in half and
    // silently diverge from the oracle-pinned frame on non-BMP text.
    val cps = s.codePointCount(0, s.length)
    val n = cps - 1
    if (n < 1) return null
    val counts = new java.util.HashMap[String, Array[Long]](64)
    var i = 0
    var mid = if (s.isEmpty) 0 else s.offsetByCodePoints(0, 1)
    var k = 0
    while (k < n) {
      val end = s.offsetByCodePoints(mid, 1)
      val bg = s.substring(i, end)
      val slot = counts.get(bg)
      if (slot == null) counts.put(bg, Array(1L)) else slot(0) += 1L
      i = mid; mid = end; k += 1
    }
    val nD = n.toDouble
    var sum = java.math.BigDecimal.ZERO
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0)
      val r6 = java.math.BigDecimal.valueOf(math.log(c.toDouble / nD))
        .setScale(6, java.math.RoundingMode.HALF_UP)
      sum = sum.add(r6.multiply(java.math.BigDecimal.valueOf(c)))
    }
    val h = -sum.doubleValue() / nD
    val entropy = java.math.BigDecimal.valueOf(h)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val eff = java.math.BigDecimal.valueOf(math.exp(h))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, counts.size.toLong, entropy, eff))
  }
}
