package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{CosineSim, CountWordsIn, DotProduct, JaccardSorted, MinHashSigs, MinMd5Shingle, ScrubWords, ShingleHashes, SimHash64, WinnowFingerprints}

/** SparkSessionExtensions entry point: exposes graft's native Catalyst
  * expressions as SQL functions and installs the algebraic simplification
  * rule, so a pure-SQL user (spark.sql / thrift) gets the same operator
  * surface as the Scala API. Installed by `GraftSession.builder` via
  * `withExtensions`; also usable standalone through
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * SQL surface (word lists are comma-separated string literals — they must
  * be foldable, the sets are baked into the expression at plan time; a
  * word is a maximal `(?U)\w` run, as Java's Unicode `\b` bounds it):
  *
  *   scrub_words(s, 'w1,w2,…')      → s minus the listed whole words
  *   count_words_in(s, 'w1,w2,…')   → int count of the listed whole words
  *   simhash64(s)                   → 64-bit SimHash of the tokens
  *   cosine_sim(a, b)               → cosine of two array<double>
  *   dot_product(a, b)              → dot product of two array<double>
  *   shingle_hashes(toks)           → sorted distinct hashed 3-gram shingles
  *   minhash_sigs(toks, T)          → T banded minhash values
  *   min_md5_shingle(toks)          → min md5 hex over 3-gram shingles
  *   jaccard_sorted(a, b)           → Jaccard of sorted-distinct long arrays
  *   winnow_fingerprints(s, k, w)   → winnowing fingerprint array (k-gram
  *                                    rolling hashes, window w minima)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def wordList(e: Expression, fn: String): Seq[String] = e match {
    case Literal(s: UTF8String, _) =>
      s.toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    case other => throw new IllegalArgumentException(
      s"$fn expects a foldable comma-separated string literal word list, got $other")
  }

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(i: Int, _) => i
    case other => throw new IllegalArgumentException(
      s"$fn expects an integer literal, got $other")
  }

  private def fn(name: String, usage: String)(
      builder: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in"),
      builder)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn("scrub_words",
      "scrub_words(str, 'w1,w2') - removes whole-word occurrences of the listed words") {
      case Seq(c, words) => ScrubWords(c, wordList(words, "scrub_words"))
    })
    ext.injectFunction(fn("count_words_in",
      "count_words_in(str, 'w1,w2') - counts whole-word occurrences of the listed words") {
      case Seq(c, words) => CountWordsIn(c, wordList(words, "count_words_in"))
    })
    ext.injectFunction(fn("simhash64",
      "simhash64(str) - 64-bit SimHash over whitespace tokens") {
      case Seq(c) => SimHash64(c)
    })
    ext.injectFunction(fn("cosine_sim",
      "cosine_sim(a, b) - cosine similarity of two array<double>") {
      case Seq(a, b) => CosineSim(a, b)
    })
    ext.injectFunction(fn("dot_product",
      "dot_product(a, b) - dot product of two array<double>") {
      case Seq(a, b) => DotProduct(a, b)
    })
    ext.injectFunction(fn("shingle_hashes",
      "shingle_hashes(toks) - sorted distinct hashed word-3-gram shingles") {
      case Seq(c) => ShingleHashes(c)
    })
    ext.injectFunction(fn("minhash_sigs",
      "minhash_sigs(toks, numTables) - banded minhash signature values") {
      case Seq(c, n) => MinHashSigs(c, intLit(n, "minhash_sigs"))
    })
    ext.injectFunction(fn("min_md5_shingle",
      "min_md5_shingle(toks) - min md5 hex over word-3-gram shingles") {
      case Seq(c) => MinMd5Shingle(c)
    })
    ext.injectFunction(fn("jaccard_sorted",
      "jaccard_sorted(a, b) - Jaccard of two sorted-distinct array<long>") {
      case Seq(a, b) => JaccardSorted(a, b)
    })
    ext.injectFunction(fn("winnow_fingerprints",
      "winnow_fingerprints(str, k, w) - winnowing fingerprints (k-gram " +
        "rolling hashes, per-window minima)") {
      case Seq(c, k, w) => WinnowFingerprints(c,
        intLit(k, "winnow_fingerprints"), intLit(w, "winnow_fingerprints"))
    })
    ext.injectOptimizerRule(_ => CombineScrubWords)
  }
}

/** Algebraic simplification: scrubbing with set A then set B equals one
  * scrub with A ∪ B — a whole-word removal never creates a new word-run
  * adjacency (runs are bounded by non-word characters), so removals
  * commute and fuse. Halves the passes when cleaning pipelines compose,
  * e.g. a user layering a custom blocklist over the built-in one. */
object CombineScrubWords extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ScrubWords(ScrubWords(inner, a), b) =>
        ScrubWords(inner, (a ++ b).distinct)
    }
}
