package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import scala.io.Source

/** Scalar text operators, all composed from `org.apache.spark.sql.functions`
  * so whole-stage codegen fuses them into a single generated pass per row.
  *
  * Semantics mirror the reference's text-cleaning closure
  * (/root/reference/main.R:96-103, operators T1-T5 in SURVEY.md §2.4):
  * lower → strip URLs → strip @mentions → remove stopwords → squish.
  * Order matters: lowering precedes the (lowercased) stopword match and the
  * final squish collapses the holes left by the removals.
  *
  * Scale note: these are pure narrow per-row expressions — no shuffle, no
  * state. At 100 TB they pipeline inside the scan stage and cost one pass.
  */
object TextFunctions {

  /** Snowball Spanish stopword list, pinned as a resource (SURVEY.md §7:
    * do not trust runtime library defaults to be byte-identical). */
  lazy val spanishStopwords: Seq[String] = {
    val in = getClass.getResourceAsStream("/graft/stopwords_es.txt")
    try Source.fromInputStream(in, "UTF-8").getLines().map(_.trim).filter(_.nonEmpty).toVector
    finally in.close()
  }

  /** T2 — URL strip. Pattern from /root/reference/main.R:99; valid Java regex
    * as-is ([\.|/] is a portable character class). */
  val urlPattern = "\\s?(f|ht)(tp)(s?)(://)([^\\.]*)[\\.|/](\\S*)"

  /** T3 — @mention strip. (?U) so \w is Unicode-aware like ICU's. */
  val mentionPattern = "(?U)@\\w+"

  /** ASCII-dialect word alternations for the DuckDB oracle SQL: RE2 has no
    * (?U) flag (there `U` means ungreedy!) and uses ASCII \w/\b. The Spark
    * side matches whole words with the word-run kernels (`ScrubWords`,
    * `CountWordsIn`), whose `(?U)\w` runs are `[A-Za-z0-9_]+` on ASCII
    * text — so on ASCII corpora (documents.parquet is verified pure-ASCII)
    * both engines match the same words. */
  def plainWordPattern(words: Seq[String]): String =
    words.mkString("\\b(?:", "|", ")\\b")

  lazy val asciiSpanishStopwordPattern: String = plainWordPattern(spanishStopwords)

  val asciiMentionPattern = "@\\w+"

  /** English function-word list (same words the langId 'en' marker uses);
    * small by design so oracle SQL stays readable. */
  val englishStopwords: Seq[String] = Seq(
    "the", "of", "and", "to", "in", "is", "that", "it", "was", "for",
    "on", "are", "as", "with")

  lazy val englishStopwordPattern: String = plainWordPattern(englishStopwords)

  /** T1-T5 composed: the full reference cleaning pipeline as one Column
    * expression (reference applies the same closure to content and
    * quoted_content via mutate_at, main.R:93-104). T4 is tm::removeWords'
    * `(*UCP)\b(w1|…)\b` alternation, run as one ScrubWords pass: its
    * `(?U)\w` word runs make it equal to that regex on any text, and to
    * the ASCII oracle regex on ASCII text. */
  def cleanText(c: Column): Column =
    squish(TextExprs.scrubWords(
      regexp_replace(regexp_replace(lower(c), urlPattern, ""), mentionPattern, ""),
      spanishStopwords))

  /** Stopword density: whole-word hits of `words` in the lower-cased text
    * over its whitespace tokens. Pure narrow expression, zero state. */
  def stopwordHitRatio(c: Column, words: Seq[String]): Column = {
    val nTok = size(tokens(c))
    when(nTok === 0, lit(0.0)).otherwise(
      TextExprs.countWordsIn(lower(c), words).cast("double") / nTok.cast("double"))
  }

  /** T5 — str_squish: collapse whitespace runs to single spaces, then trim.
    * Order matters: Spark's `trim` strips only the space character, so
    * trimming FIRST leaves a non-space edge run (tab/newline) to be
    * collapsed into a leading/trailing space — collapsing first turns any
    * edge whitespace into plain spaces that trim then removes (caught by
    * PropertySpec's idempotence property; str_squish strips all edge
    * whitespace). */
  def squish(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  // ---------------------------------------------------------------- analysis

  /** Whitespace tokenization; empty string → zero tokens (split of "" yields
    * one empty element, so filter it out). */
  def tokens(c: Column): Column =
    filter(split(trim(c), "\\s+"), t => length(t) > 0)

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count: alpha runs, digit runs, single punctuation marks
    * each count as one token — a cheap deterministic proxy for a BPE
    * tokenizer's token count. */
  val bpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(bpeishPattern), lit(0)))

  /** Quality-score features (ratios over the raw string). All codegen'd. */
  def punctRatio(c: Column): Column = {
    val n = length(c)
    when(n === 0, 0.0).otherwise(
      size(regexp_extract_all(c, lit("[^A-Za-z0-9\\s]"), lit(0))).cast("double") / n.cast("double"))
  }

  def upperRatio(c: Column): Column = {
    val n = length(c)
    when(n === 0, 0.0).otherwise(
      size(regexp_extract_all(c, lit("[A-Z]"), lit(0))).cast("double") / n.cast("double"))
  }

  /** Composite heuristic quality score in [0,1]: favors moderate length,
    * low punctuation density, few ALL-CAPS characters. Deterministic and
    * SQL-expressible (oracle-checkable). */
  def qualityScore(c: Column): Column = {
    val lenScore = least(length(c).cast("double") / lit(200.0), lit(1.0))
    val punct = punctRatio(c)
    val upper = upperRatio(c)
    greatest(lit(0.0), lenScore * (lit(1.0) - punct) * (lit(1.0) - upper))
  }

  /** Document fingerprint: MD5 of the normalized (lowercased, squished)
    * text. Stable across engines (MD5 is everywhere), usable as an exact
    * dedup key at any scale. */
  def fingerprint(c: Column): Column = md5(squish(lower(c)))

  // -------------------------------------------------------------------- PII

  /** PII masking (email / IPv4 / phone) — the standard pre-training scrub
    * stage (C4/Dolma-style pipelines). Patterns are deliberately RE2-safe
    * and byte-identical to the DuckDB oracle's (no \d, no lookaround, no
    * backrefs, explicit ASCII classes) so both engines match the same
    * spans. Counts are taken on the RAW text per category — categories can
    * overlap in principle; the scrub chain resolves overlaps by masking
    * emails first, then IPv4s, then phones. One narrow codegen'd pass, no
    * shuffle: the scrub cost is O(chars) per row at any corpus size. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
  val ipv4Pattern = "([0-9]{1,3}[.]){3}[0-9]{1,3}"
  val phonePattern = "[+][0-9]{7,15}|[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{3,4}"

  def piiCount(c: Column, pat: String): Column =
    size(regexp_extract_all(c, lit(pat), lit(0)))

  def scrubPii(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      lit(emailPattern), lit("<EMAIL>")),
      lit(ipv4Pattern), lit("<IP>")),
      lit(phonePattern), lit("<PHONE>"))

  // ---------------------------------------------------------------- lang id

  /** Tiny per-language marker lexicons for the n-gram/stopword heuristic
    * language ID. Deliberately small and ASCII-safe so the same heuristic is
    * expressible as oracle SQL. */
  val langMarkerWords: Seq[(String, Seq[String])] = Seq(
    "es" -> Seq("de", "la", "que", "el", "en", "los", "del", "las", "por",
      "una", "para", "con", "es", "un"),
    "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it", "was",
      "for", "on", "are", "as", "with"),
    "fr" -> Seq("le", "les", "des", "une", "est", "dans", "que", "pour",
      "qui", "sur", "pas", "au", "ce"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine",
      "mit", "auf", "den", "von"),
  )

  /** Regex form of the marker lexicons (oracle SQL generation). */
  val langMarkers: Seq[(String, String)] =
    langMarkerWords.map { case (code, ws) => code -> plainWordPattern(ws) }

  /** Heuristic language ID: count marker-word hits per language; argmax wins
    * (ties broken by language code order); no hits → "und" (undetermined).
    * Hit counting is the native CountWordsIn expression (one linear pass
    * per language vs an NFA alternation regex per language — same counts,
    * see the regex-equivalence argument on ScrubWords). */
  def langId(c: Column): Column = {
    val lowered = lower(c)
    val scored = langMarkerWords.map { case (code, ws) =>
      (code, TextExprs.countWordsIn(lowered, ws))
    }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldRight(lit("und"): Column) { case ((code, score), acc) =>
      when(score === best && score > 0, lit(code)).otherwise(acc)
    }
  }

  /** Appends the four training-data quality signals to a frame carrying
    * `text` — THE single definition of the gate's signals, shared by the
    * batch path (d14/d25 via TextQueries.qualityGated) and the streaming
    * path (CorpusIngest); a drifted copy would admit different corpora
    * per path. All four are narrow scan-fusable expressions. */
  def withQualitySignals(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.withColumn("n_tokens", tokenCount(col("text")).cast("bigint"))
      .withColumn("quality_score", qualityScore(col("text")))
      .withColumn("stopword_ratio",
        stopwordHitRatio(col("text"), englishStopwords))
      .withColumn("lang_pred", langId(col("text")))

  /** The admission predicate over [[withQualitySignals]] columns. */
  val qualityAdmit: Column =
    col("n_tokens") >= 30 && col("quality_score") >= 0.5 &&
      col("stopword_ratio") >= 0.05 && col("lang_pred") === "en"

  /** Signal + filter in one step: the corpus quality gate. */
  def qualityGate(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    withQualitySignals(df).filter(qualityAdmit)
}
