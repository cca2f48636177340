package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

/** Distributed connected components by iterative min-label propagation —
  * the exact-transitive upgrade of [[NearDup.minhashLshRepresentatives]]'s
  * one-pass approximation: chains A~B~C where A and C never share a bucket
  * still collapse into one cluster.
  *
  * Algorithm: every vertex starts labeled with its own id; each round every
  * vertex takes the min of its label and its neighbors' labels; stop when no
  * label changed. Labels are monotonically non-increasing and bounded below
  * by the component minimum, so the sum of labels strictly decreases until
  * the fixpoint — convergence is detected by one cheap aggregate per round
  * (an exact decimal sum: a bigint sum of 10^12 ids over 10^12 rows would
  * overflow, and under Spark 4's default ANSI mode overflow THROWS). The
  * witness aggregate IS the action that materializes the round's
  * checkpoint (lazy checkpoint + one aggregate job), so a round costs one
  * job submission, not two.
  *
  * Scale contract (100 TB): each round is one shuffle of (edge ∪ label)
  * rows hash-partitioned on vertex id — map-side `min` partial-aggregation
  * collapses duplicate messages before the exchange. Rounds needed =
  * graph diameter; near-dup graphs are unions of small dense clusters
  * (diameter ≲ 3), so 3-4 rounds in practice, `maxIter` bounds the worst
  * case. Checkpointing cuts each round's lineage — without it the plan
  * doubles per iteration and the job dies re-executing round 1 at round 10.
  * Each round is held by [[Checkpoints.materialize]], so the loop follows
  * the session's checkpoint flavor (reliable files when a checkpoint
  * directory is configured, executor-local blocks otherwise), and each
  * round's frame is released as soon as the next round is materialized —
  * only the RETURNED frame's blocks/files survive the call (the caller
  * consumes them). The returned frame's own storage is freed by the
  * ContextCleaner once the caller drops the frame: local-checkpoint
  * blocks are tracked cached RDD blocks (cleaned on GC by default), and
  * reliable checkpoint files are deleted on GC only when
  * `spark.cleaner.referenceTracking.cleanCheckpoints` is true —
  * GraftSession sets it; a session built elsewhere must set it or accept
  * one surviving rdd-* dir per call until application teardown.
  * For billion-edge general graphs with long chains, pass
  * `pointerJumping = true`: each round additionally applies
  * comp(u) := comp(comp(u)) (one label-table self-join), cutting rounds
  * from O(diameter) to O(log diameter) — the contraction idea of
  * Kiveris et al., "Connected Components in MapReduce and Beyond".
  * Near-dup graphs (diameter ≲ 3) never need it.
  */
object ConnectedComponents {

  private val log = LoggerFactory.getLogger(getClass)

  /** Component label (= min vertex id in the component) for every vertex.
    *
    * @param vertices one column `id`; every vertex, including isolated ones
    * @param edges    columns `src`, `dst`; undirected (one orientation per
    *                 edge suffices — both are generated internally), ids
    *                 must appear in `vertices`
    * @return (id, comp) — comp is the minimum id reachable from `id`
    */
  def labelPropagate(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 20, pointerJumping: Boolean = false): DataFrame = {
    // Materialize the caller's edge frame BEFORE flipping it: `edges` is
    // typically an expensive lazy pipeline (d27's is minhash → bucket →
    // pair-expand → Jaccard-verify), and a lazy union evaluates that
    // pipeline once per branch inside the distinct's single
    // materialization — the self-join recompute trap in union form
    // (Catalyst does not reuse a subtree across union branches).
    val e = Checkpoints.materialize(edges.select(col("src"), col("dst")))(_.count())
    // Both orientations, deduped, materialized once — the loop re-reads
    // this frame every round. (Pre-partitioning it on `src` to spare the
    // per-round join shuffle does NOT work: a checkpointed frame's scan
    // reports unknown partitioning — measured on Spark 4.1, the Exchange
    // comes back — so the join's und-side shuffle is paid per round and
    // the broadcast path picks it up instead when labels are small.)
    val und = Checkpoints.materialize(
      e.df.union(e.df.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())(_.count())
    e.release() // und is materialized; the one-orientation copy is dead
    var labels = Checkpoints.materialize(
      vertices.select(col("id"), col("id").as("comp")))(checksum)
    var prev = labels.result
    var iter = 0
    var converged = und.result == 0L // edgeless graph: all self-labeled
    while (!converged && iter < maxIter) {
      // neighbor labels flow along edges; keep the per-vertex min of
      // (own label ∪ incoming labels)
      val msgs = und.df.join(labels.df.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("comp"))
      val prop = labels.df.union(msgs)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
      // Pointer jumping (optional): comp(u) := comp(comp(u)). Every comp
      // value IS a vertex id in u's component with comp(u) <= u (both
      // invariants hold from init and are preserved by min-propagation),
      // so the lookup is an inner self-join on the label table — row
      // count is preserved — and the looked-up value replaces the old one
      // outright. Min-propagation alone moves a component's min ONE hop
      // per round (rounds = diameter); with the jump the reach roughly
      // doubles per round (O(log d) rounds) at the cost of one extra
      // label-table self-join — the Kiveris-style contraction for
      // long-chain general graphs. Near-dup graphs (diameter <= ~3)
      // never need it, hence the default. `prop` is materialized BEFORE
      // the self-join: joining the lazy frame against itself would
      // recompute the union+groupBy aggregation on BOTH sides — the same
      // union-branch recompute trap documented at the top of this loop.
      val next = if (!pointerJumping) Checkpoints.materialize(prop)(checksum) else {
        val p = Checkpoints.materialize(prop)(_.count())
        val byId = p.df.select(col("id").as("jid"), col("comp").as("jcomp"))
        val jumped = p.df.join(byId, col("comp") === col("jid"))
          .select(col("id"), col("jcomp").as("comp"))
        val n = Checkpoints.materialize(jumped)(checksum)
        p.release() // jumped is materialized; the pre-jump table is dead
        n
      }
      // `next` is fully materialized (the checksum aggregate computed
      // every partition and the checkpoint is written), so the previous
      // round's blocks/files are dead — release them now, or maxIter+1
      // copies of the label table pile up in executor storage / on the
      // checkpoint filesystem.
      labels.release()
      converged = next.result == prev
      prev = next.result
      labels = next
      iter += 1
    }
    und.release()
    if (!converged && iter >= maxIter)
      log.warn(s"labelPropagate stopped at maxIter=$maxIter without " +
        "reaching the fixpoint — labels are only partially propagated " +
        "(graph diameter exceeds maxIter); raise maxIter or pass " +
        "pointerJumping=true (O(log diameter) rounds) for long-chain graphs")
    labels.df
  }

  /** Exact (overflow-proof) sum of labels — the convergence witness. */
  private def checksum(labels: DataFrame): java.math.BigDecimal = {
    val v = labels.agg(sum(col("comp").cast("decimal(38,0)"))).head().get(0)
    if (v == null) java.math.BigDecimal.ZERO
    else v.asInstanceOf[java.math.BigDecimal]
  }
}
