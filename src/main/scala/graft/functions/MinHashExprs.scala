package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen expressions for hashed word-3-gram shingling and banded
  * MinHash signatures — the candidate-generation primitives of
  * [[graft.operators.NearDup.minhashLshPairs]].
  *
  * The `functions._` formulation (`transform(shingle_set, s -> xxhash64(s, t))`
  * per table) pays an interpreted lambda + a string re-hash per (shingle,
  * table) — ~8× the string hashing and thousands of closure dispatches per
  * row — and shuffles the string shingle sets to the verify step. These
  * expressions hash each token once, derive shingle hashes by chaining
  * (`hashLong`), and emit compact long arrays: per-row work drops to one
  * string hash per token + one `hashLong` per (shingle, table), and the
  * verify payload shrinks ~4× (8-byte hashes vs ~30-byte shingle strings).
  *
  * Shingle hash definition (both expressions share it): with
  * h(tok) = xxhash64(tokenBytes, seed 42),
  * sh_i = hashLong(h(tok_{i+2}), hashLong(h(tok_{i+1}), h(tok_i))).
  * Per-table minhash: sig_t = min_i hashLong(t, sh_i). 64-bit Jaccard on
  * the hashed shingle sets equals string-shingle Jaccard up to hash
  * collisions (~2^-64 per pair).
  */
object MinHashExprs {

  /** Sorted distinct hashed 3-gram shingles of a token array (array<long>);
    * null if the input is null or holds a NULL token, empty if < 3 tokens. */
  def shingleHashes(toks: Column): Column =
    GraftSqlBridge.column(ShingleHashes(GraftSqlBridge.expression(toks)))

  /** `numTables` banded minhash values of a token array (array<long>);
    * null if the input is null, holds a NULL token or has < 3 tokens. */
  def minhashSigs(toks: Column, numTables: Int): Column =
    GraftSqlBridge.column(MinHashSigs(GraftSqlBridge.expression(toks), numTables))

  /** Min md5 (lowercase 32-hex) over the word-3-gram shingles of a token
    * array — byte-identical to
    * `array_min(transform(shingles, s -> md5(s)))` over
    * `concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])` shingles, but one
    * codegen'd pass; null if the input is null, holds a NULL token or has
    * < 3 tokens. */
  def minMd5Shingle(toks: Column): Column =
    GraftSqlBridge.column(MinMd5Shingle(GraftSqlBridge.expression(toks)))

  /** Jaccard similarity |a∩b| / |a∪b| of two SORTED-DISTINCT long arrays
    * (the [[shingleHashes]] contract) — one merge scan, no per-pair hash
    * sets. Null if either input is null or both are empty. */
  def jaccardSorted(a: Column, b: Column): Column =
    GraftSqlBridge.column(JaccardSorted(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** `k` md5-keyed minhash signatures (lowercase 32-hex each) over the
    * word-3-gram shingles of a token array — byte-identical to
    * `transform(sequence(0, k-1), i -> array_min(transform(grams, g ->
    * md5(concat(cast(i as string), '|', g)))))` but one codegen'd pass;
    * null if the input is null, holds a NULL token or has < 3 tokens. The
    * DuckDB-mirrorable analog of [[minhashSigs]] (d38's estimate-vs-exact
    * eval needs an oracle; production candidate generation keeps the
    * xxhash64 form). */
  def kMinMd5Sigs(toks: Column, k: Int): Column =
    GraftSqlBridge.column(KMinMd5Sigs(GraftSqlBridge.expression(toks), k))

  /** md5-derived SimHash bit string of a token array (64 chars of
    * '0'/'1') — value-identical to the SQL fold
    * `aggregate(transform(toks, t -> struct(conv(substr(md5(t),1,8),16,10),
    * conv(substr(md5(t),9,8),16,10))), zeros, zip_with ±1 votes)` +
    * sign-join (parity pinned by PropertySpec), but one codegen'd pass:
    * one digest per token, integer shifts for the 64 votes, no hex-string
    * or lambda dispatch. The DuckDB-mirrorable analog of
    * [[graft.functions.TextExprs]]' SimHash64 (d50/d51; production
    * SimHash stays on the xxhash64 expression). Null input or a NULL
    * token → null; empty → all-'0' (the fold's zero accumulator). */
  def simhashMd5Bits(toks: Column): Column =
    GraftSqlBridge.column(SimHashMd5Bits(GraftSqlBridge.expression(toks)))

  /** `numTables` md5-keyed BAND signatures over a word-3-gram array `sh`
    * (the d47/d52/d53/d66/d72/d77/d91 banding): sig_t = min over grams of
    * md5(concat(t, ':', gram)), lowercase 32-hex — byte-identical to the
    * historical `transform(sequence(0, T-1), t -> array_min(transform(sh,
    * x -> md5(concat(t, ':', x)))))` formulation (digest-space unsigned
    * order ≡ hex-string order; parity pinned by NearDupSpec) but ONE
    * codegen'd pass: the interpreted form paid T lambda sweeps with a
    * UTF8 concat + hex encode per (gram, table); this hashes raw bytes
    * and hex-encodes T digests per ROW. Null when the input is null or
    * empty — so `posexplode` emits exactly the band rows the old
    * explode + mh-isNotNull filter kept. */
  def bandMd5Sigs(sh: Column, numTables: Int): Column =
    GraftSqlBridge.column(
      BandMd5Sigs(GraftSqlBridge.expression(sh), numTables))
}

/** See [[MinHashExprs.bandMd5Sigs]]. */
case class BandMd5Sigs(child: Expression, numTables: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "band_md5_sigs"

  override protected def kernels: AnyRef = MinHashOps
  override protected def kernel: String = "bandMd5Sigs"
  override protected def kernelNullable: Boolean = true
  override protected def constants: Seq[Expression] = Seq(Literal(numTables))

  override protected def withNewChildInternal(newChild: Expression): BandMd5Sigs =
    copy(child = newChild)
}

case class SimHashMd5Bits(child: Expression)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash_md5_bits"

  override protected def kernels: AnyRef = MinHashOps
  override protected def kernel: String = "simhashMd5Bits"
  override protected def kernelNullable: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): SimHashMd5Bits =
    copy(child = newChild)
}

case class ShingleHashes(child: Expression)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "shingle_hashes"

  override protected def kernels: AnyRef = MinHashOps
  override protected def kernel: String = "shingleHashes"
  override protected def kernelNullable: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

case class MinHashSigs(child: Expression, numTables: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sigs"

  override protected def kernels: AnyRef = MinHashOps
  override protected def kernel: String = "minhashSigs"
  override protected def kernelNullable: Boolean = true
  override protected def constants: Seq[Expression] = Seq(Literal(numTables))

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

/** The oracle-pinned md5 minhash (TextQueries d08/d09/d27), natively: the
  * `functions._` form pays an interpreted `transform` lambda dispatch per
  * shingle plus a full hex-string materialization per md5 just to take the
  * minimum; this expression digests each shingle's bytes directly, keeps
  * the running 16-byte minimum, and hex-encodes once at the end. Lowercase
  * hex is order-monotonic with the digest bytes, so min-of-hex-strings ==
  * hex-of-min-digest — parity with the SQL formulation is pinned by
  * NearDupSpec. */
case class MinMd5Shingle(child: Expression)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "min_md5_shingle"

  override protected def kernels: AnyRef = MinHashOps
  override protected def kernel: String = "minMd5Shingle"
  override protected def kernelNullable: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): MinMd5Shingle =
    copy(child = newChild)
}

/** The k-signature generalization of [[MinMd5Shingle]]: per seed i in
  * [0, k), the minimum md5 over `"i|" + shingle` — the interpreted form
  * pays a nested transform (k × shingles lambda dispatches, k hex arrays
  * materialized per row, judge-grade 5× slowdown at sf0.1); this
  * expression walks the shingles once, streams each (seed, shingle) pair
  * through one reused digest, keeps k running 16-byte minimums, and
  * hex-encodes once at the end. Duplicate shingles are harmless (min over
  * a multiset equals min over its set — the oracle's list_distinct
  * mirror). Parity with the SQL-expr formulation pinned by NearDupSpec. */
case class KMinMd5Sigs(child: Expression, k: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "k_min_md5_sigs"

  override protected def kernels: AnyRef = MinHashOps
  override protected def kernel: String = "kMinMd5Sigs"
  override protected def kernelNullable: Boolean = true
  override protected def constants: Seq[Expression] = Seq(Literal(k))

  override protected def withNewChildInternal(newChild: Expression): KMinMd5Sigs =
    copy(child = newChild)
}

/** Exact Jaccard over sorted-distinct long arrays, the verify step of
  * every hashed-shingle near-dup query (d09/d12/d27). The `functions._`
  * form (`size(array_intersect(a,b)) / size(array_union(a,b))`) builds
  * two hash structures and materializes a union array PER PAIR; a bucket
  * of g docs pays that g²/2 times. Because [[ShingleHashes]] emits sorted
  * distinct arrays, one linear merge scan yields |a∩b| directly and
  * |a∪b| = |a| + |b| − |a∩b| — zero allocation per pair.
  *
  * PRECONDITION: both inputs sorted ascending, no duplicates (the
  * shingleHashes contract). Unsorted input silently undercounts the
  * intersection — do not feed arbitrary arrays. Null if either side is
  * null; null (not NaN) if both are empty, mirroring the SQL form's
  * 0-element guard. */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "jaccard_sorted"

  override protected def kernels: AnyRef = MinHashOps
  override protected def kernel: String = "jaccardSorted"
  override protected def kernelNullable: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSorted =
    copy(left = newLeft, right = newRight)
}

object MinHashOps {

  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  private val HexDigits = "0123456789abcdef".getBytes

  /** a < b over equal-length byte arrays, unsigned lexicographic — the
    * digest-space order matching UTF8String order on the hex encodings. */
  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** Whether a token array holds a NULL element. The token kernels answer
    * NULL for it, the rule VectorOps applies to a NULL vector element. */
  private def anyNull(toks: ArrayData): Boolean = {
    var i = 0
    while (i < toks.numElements()) {
      if (toks.isNullAt(i)) return true
      i += 1
    }
    false
  }

  def minMd5Shingle(toks: ArrayData): UTF8String = {
    val n = toks.numElements()
    if (n < 3 || anyNull(toks)) return null
    val md = md5Local.get()
    val tokBytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      tokBytes(i) = toks.getUTF8String(i).getBytes
      i += 1
    }
    var best: Array[Byte] = null
    i = 0
    while (i < n - 2) {
      md.reset()
      md.update(tokBytes(i))
      md.update(' '.toByte)
      md.update(tokBytes(i + 1))
      md.update(' '.toByte)
      md.update(tokBytes(i + 2))
      val d = md.digest()
      if (best == null || unsignedLess(d, best)) best = d
      i += 1
    }
    val hex = new Array[Byte](32)
    i = 0
    while (i < 16) {
      hex(2 * i) = HexDigits((best(i) >> 4) & 0xf)
      hex(2 * i + 1) = HexDigits(best(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(hex)
  }

  /** md5-derived SimHash bit string (d50/d51): per token, w1/w2 = the
    * digest's first/second 4 bytes as big-endian unsigned 32-bit words
    * (== `conv(substr(md5_hex, 1|9, 8), 16, 10)` — hex is big-endian in
    * the digest bytes with the high nibble first); bit j of the vote
    * vector is bit (j % 32) of w1 for j < 32 else of w2; the 64 counters
    * sum ±1 votes over the token MULTISET; output char j is '1' iff
    * counter j ends positive (ties to '0'). Empty input → all-'0'. */
  def simhashMd5Bits(toks: ArrayData): UTF8String = {
    if (anyNull(toks)) return null
    val n = toks.numElements()
    val counters = new Array[Int](64)
    val md = md5Local.get()
    var i = 0
    while (i < n) {
      md.reset()
      md.update(toks.getUTF8String(i).getBytes)
      val d = md.digest()
      val w1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val w2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      var j = 0
      while (j < 32) {
        counters(j) += (((w1 >> j) & 1L) * 2L - 1L).toInt
        counters(32 + j) += (((w2 >> j) & 1L) * 2L - 1L).toInt
        j += 1
      }
      i += 1
    }
    val out = new Array[Byte](64)
    var j = 0
    while (j < 64) {
      out(j) = if (counters(j) > 0) '1'.toByte else '0'.toByte
      j += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Chained 3-gram shingle hashes of a token array; length max(n-2, 0). */
  private def rawShingleHashes(toks: ArrayData): Array[Long] = {
    val n = toks.numElements()
    if (n < 3) return Array.emptyLongArray
    val tokHashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      tokHashes(i) = XXH64.hashUnsafeBytes(
        t.getBaseObject, t.getBaseOffset, t.numBytes(), 42L)
      i += 1
    }
    val out = new Array[Long](n - 2)
    i = 0
    while (i < n - 2) {
      out(i) = XXH64.hashLong(tokHashes(i + 2),
        XXH64.hashLong(tokHashes(i + 1), tokHashes(i)))
      i += 1
    }
    out
  }

  def shingleHashes(toks: ArrayData): ArrayData = {
    if (anyNull(toks)) return null
    val raw = rawShingleHashes(toks)
    java.util.Arrays.sort(raw)
    // distinct on the sorted array, in place
    var w = 0
    var i = 0
    while (i < raw.length) {
      if (w == 0 || raw(i) != raw(w - 1)) { raw(w) = raw(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(raw, w))
  }

  /** Plain-array form of [[jaccardSorted]] for driver/state-side use
    * (streaming near-dup verify); same sorted-distinct precondition.
    * Returns 0.0 when both sides are empty (no evidence of overlap). */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    if (a.length == 0 && b.length == 0) return 0.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter).toDouble
  }

  def jaccardSorted(a: ArrayData, b: ArrayData): java.lang.Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return null
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    java.lang.Double.valueOf(inter.toDouble / (na + nb - inter).toDouble)
  }

  def kMinMd5Sigs(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n < 3 || anyNull(toks)) return null
    val md = md5Local.get()
    val tokBytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      tokBytes(i) = toks.getUTF8String(i).getBytes
      i += 1
    }
    // "i|" seed prefixes, ASCII — matches concat(cast(i as string), '|')
    val seeds = Array.tabulate(k)(s => (s.toString + "|").getBytes)
    val best = new Array[Array[Byte]](k)
    i = 0
    while (i < n - 2) {
      var s = 0
      while (s < k) {
        md.reset()
        md.update(seeds(s))
        md.update(tokBytes(i))
        md.update(' '.toByte)
        md.update(tokBytes(i + 1))
        md.update(' '.toByte)
        md.update(tokBytes(i + 2))
        val d = md.digest()
        if (best(s) == null || unsignedLess(d, best(s))) best(s) = d
        s += 1
      }
      i += 1
    }
    val out = new Array[Any](k)
    var s = 0
    while (s < k) {
      val hex = new Array[Byte](32)
      i = 0
      while (i < 16) {
        hex(2 * i) = HexDigits((best(s)(i) >> 4) & 0xf)
        hex(2 * i + 1) = HexDigits(best(s)(i) & 0xf)
        i += 1
      }
      out(s) = UTF8String.fromBytes(hex)
      s += 1
    }
    new GenericArrayData(out)
  }

  /** See [[MinHashExprs.bandMd5Sigs]]: per table t, the unsigned-min md5
    * digest of "t:" ++ gram over all non-null grams, hex-encoded at the
    * end. Null on an empty gram list (or if every gram is null — the
    * old array_min-over-nulls semantics: no band row). */
  def bandMd5Sigs(grams: ArrayData, numTables: Int): ArrayData = {
    val n = grams.numElements()
    if (n == 0) return null
    val md = md5Local.get()
    val seeds = Array.tabulate(numTables)(t => (t.toString + ":").getBytes)
    val best = new Array[Array[Byte]](numTables)
    var any = false
    var i = 0
    while (i < n) {
      if (!grams.isNullAt(i)) {
        any = true
        val g = grams.getUTF8String(i).getBytes
        var t = 0
        while (t < numTables) {
          md.reset()
          md.update(seeds(t))
          md.update(g)
          val d = md.digest()
          if (best(t) == null || unsignedLess(d, best(t))) best(t) = d
          t += 1
        }
      }
      i += 1
    }
    if (!any) return null
    val out = new Array[Any](numTables)
    var t = 0
    while (t < numTables) {
      val hex = new Array[Byte](32)
      i = 0
      while (i < 16) {
        hex(2 * i) = HexDigits((best(t)(i) >> 4) & 0xf)
        hex(2 * i + 1) = HexDigits(best(t)(i) & 0xf)
        i += 1
      }
      out(t) = UTF8String.fromBytes(hex)
      t += 1
    }
    new GenericArrayData(out)
  }

  def minhashSigs(toks: ArrayData, numTables: Int): ArrayData = {
    if (anyNull(toks)) return null
    val raw = rawShingleHashes(toks)
    if (raw.isEmpty) return null
    val sigs = Array.fill(numTables)(Long.MaxValue)
    var i = 0
    while (i < raw.length) {
      var t = 0
      while (t < numTables) {
        val h = XXH64.hashLong(t.toLong, raw(i))
        if (h < sigs(t)) sigs(t) = h
        t += 1
      }
      i += 1
    }
    new GenericArrayData(sigs)
  }
}
