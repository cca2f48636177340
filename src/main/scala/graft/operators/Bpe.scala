package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training (Sennrich et al. 2016) — the
  * iterative flagship of the tokenizer pipeline; d68 pins its step 0
  * (the first pair-count table) under the oracle hash.
  *
  * Runs at the WORD-FREQUENCY-TABLE grain, which is both the paper's
  * formulation and the scale-correct shape: the corpus collapses ONCE to
  * (word, count) — a map-side-combinable domain fold, vocabulary-sized
  * regardless of corpus rows — and every merge step then scans only that
  * bounded table. k steps = k bounded scans, each one job: the one-row
  * argmax action that picks a step's merge also stores the words it
  * scanned; the corpus itself is never rescanned.
  *
  * Each step is greedy BPE exactly: count symbol pairs weighted by word
  * frequency, take the most frequent pair (ties broken lexicographically
  * — a fixed, engine-independent rule), and rewrite every word's symbol
  * sequence by merging that pair left-to-right non-overlapping. The
  * rewrite is a native `aggregate` lambda (append-or-replace-last fold),
  * so greedy overlap semantics ("aaaa" + (a,a) → [aa, aa]) hold by
  * construction and the whole step stays inside codegen'd column ops.
  *
  * The per-step argmax is a driver-side `.head()` on a 1-row frame — a
  * contractually bounded action of the same class as the IVF centroid
  * seeds (VectorSearch.scala): the merge RULE is driver-resident by
  * algorithm design (it must be broadcast into the next step's fold),
  * never per-row data.
  */
object Bpe {

  /** One merge step's outcome. */
  final case class Merge(step: Int, left: String, right: String,
      pairCount: Long)

  /** Greedy left-to-right merge of adjacent (l, r) symbol pairs in a
    * symbol array — the BPE rewrite. Append-or-replace-last fold: a
    * just-merged symbol is `l || r` (strictly longer than `l`), so it
    * can never immediately re-match as the left side of the same rule —
    * greedy non-overlap comes free of extra state. */
  def mergePair(syms: Column, l: String, r: String): Column =
    aggregate(syms,
      expr("cast(array() as array<string>)"),
      (out, x) => when(
        size(out) > 0 &&
          element_at(out, -1) === lit(l) && x === lit(r),
        concat(slice(out, lit(1), size(out) - 1),
          array(lit(l + r))))
        .otherwise(concat(out, array(x))))

  /** Weighted adjacent-pair counts over (syms, cnt) rows — d68's shape
    * generalized to arbitrary symbol sequences. */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      .filter(size(col("syms")) >= 2)
      .select(col("cnt"), explode(expr(
        """transform(sequence(0, size(syms) - 2),
             i -> struct(syms[i] AS l, syms[i+1] AS r))""")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("n"))

  /** The most frequent (l, r, count) pair of (syms, cnt) rows — ties
    * broken by (l asc, r asc) — or None when no word has two symbols. */
  private def topPair(words: DataFrame): Option[(String, String, Long)] =
    pairCounts(words)
      .orderBy(col("n").desc, col("l").asc, col("r").asc)
      .limit(1).collect().headOption
      .map(row => (row.getString(0), row.getString(1), row.getLong(2)))

  /** Train `k` merges over a (word, cnt) frequency table. Returns the
    * merge table in step order. Each step's top pair count is
    * non-increasing (a new pair (x, lr) only occurs where (x, l) did, so
    * no count can exceed the maximum just consumed) — spec-asserted.
    * Stops early when no adjacent pair is left (a tiny or fully merged
    * vocabulary): every later step would be the same empty argmax. */
  def train(wordCounts: DataFrame, k: Int): Seq[Merge] = {
    // Each step's words are held by the job that finds the step's merge,
    // which keeps the fold lineage flat (the table is vocabulary-sized,
    // so the checkpoint is one tiny write); the previous step's words
    // are released once the next step's are held.
    var words = Checkpoints.materialize(wordCounts.select(
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms"),
      col("cnt")))(topPair)
    val merges = Seq.newBuilder[Merge]
    var step = 1
    try while (step <= k && words.result.isDefined) {
      val (l, r, n) = words.result.get
      merges += Merge(step, l, r, n)
      if (step < k) {
        val next = Checkpoints.materialize(
          words.df.select(mergePair(col("syms"), l, r).as("syms"), col("cnt")))(topPair)
        words.release()
        words = next
      }
      step += 1
    } finally words.release()
    merges.result()
  }

  // ------------------------------------------------------------ driver side

  /** Split a word into code-point symbol strings — the same segmentation
    * as [[train]]'s `transform(sequence(1, length(word)), substring)`
    * (Spark `length`/`substring` count code points) and the native
    * encoder's (TextOps.bpeEncode): an astral char is ONE symbol. */
  private[graft] def codePointSyms(w: String): Array[String] = {
    val out = new Array[String](w.codePointCount(0, w.length))
    var i = 0
    var j = 0
    while (i < w.length) {
      val e = w.offsetByCodePoints(i, 1)
      out(j) = w.substring(i, e)
      j += 1
      i = e
    }
    out
  }

  /** [[mergePair]]'s greedy append-or-replace-last fold, driver-side:
    * merge adjacent (l, r) left-to-right non-overlapping. Shared by
    * [[trainLocal]] and the spec laws (idempotence: applying a merge a
    * second time is a no-op because every (l, r) adjacency was consumed
    * — the merged symbol `l+r` differs from `l`). */
  private[graft] def applyMergeLocal(syms: Array[String], l: String,
      r: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      val x = syms(i)
      if (out.nonEmpty && out.last == l && x == r)
        out(out.length - 1) = l + r
      else out += x
      i += 1
    }
    out.toArray
  }

  /** Bounded vocabulary collect off a (word, cnt) frame: the top `cap`
    * words by (cnt desc, word asc) — deterministic, and the ONLY driver
    * materialization in the tokenizer path (the VectorSearch
    * sample-collect class: a TakeOrderedAndProject of a contractually
    * bounded row count). Frequency-truncating the TRAINING vocabulary is
    * standard BPE practice (the tail contributes ~nothing to pair
    * counts); at 100 TB this truncation is exactly the bound that keeps
    * training a driver-side one-off while ENCODING stays a distributed
    * pass over the full, uncapped word domain (the merge rules are plan
    * literals — out-of-sample words still encode). */
  def collectVocab(wordCounts: DataFrame, cap: Int): Seq[(String, Long)] =
    wordCounts
      .select(col("word").cast("string").as("word"),
        col("cnt").cast("bigint").as("cnt"))
      .filter(col("word").isNotNull)
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(cap)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq

  /** [[train]]'s exact algorithm — same pair statistic, same
    * (count desc, l asc, r asc) argmax, same greedy rewrite, same
    * exhaustion stop — over a COLLECTED (word, cnt) vocabulary, without
    * k × 2 Spark jobs. Spec-pinned equal to [[train]] step for step.
    * Past small k the per-step job overhead dominates the distributed
    * loop (each step scans only a vocabulary-sized table), so for real
    * merge counts (hundreds+) train-local-over-a-bounded-vocab is the
    * production shape; [[train]] remains the uncapped form and the
    * equality witness. */
  def trainLocal(wordCounts: Seq[(String, Long)], k: Int): Seq[Merge] = {
    var words: Array[(Array[String], Long)] = wordCounts
      .map { case (w, c) => (codePointSyms(w), c) }.toArray
    val merges = Seq.newBuilder[Merge]
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val counts =
        new java.util.HashMap[(String, String), Array[Long]](1024)
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          val slot = counts.get(p)
          if (slot == null) counts.put(p, Array(c)) else slot(0) += c
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: (String, String) = null
        var bestN = Long.MinValue
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val p = e.getKey
          val n = e.getValue()(0)
          if (n > bestN || (n == bestN &&
              (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
            best = p
            bestN = n
          }
        }
        merges += Merge(step, best._1, best._2, bestN)
        words = words.map { case (syms, c) =>
          (applyMergeLocal(syms, best._1, best._2), c)
        }
      }
      step += 1
    }
    merges.result()
  }
}
