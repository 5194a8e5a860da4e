package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Min-label propagation connected components over an undirected pair
  * list — the step a dedup pipeline runs AFTER near-dup pair mining:
  * pairs → duplicate clusters → keep one representative per cluster.
  *
  * Same driver-loop discipline as [[BFS]]: the labels stay distributed
  * (each round is one eager local checkpoint), the driver carries only
  * the label sum observed on that same action, and each round is one
  * shuffle-join on vertex id plus a min-aggregate — one Spark job per
  * round, rounds needed = graph diameter (dup clusters are shallow; the
  * cap is a safety net, not a tuning knob).
  */
object ConnectedComponents {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** one hooking round — l(v) ← min over in-neighbors u of l(u): a
    * single equi-join on vertex id plus a min-aggregate, nothing else
    * (no window, no sort, no cartesian; PlanSpec pins this shape).
    */
  private[graft] def propagateRound(edges: DataFrame, rep: DataFrame): DataFrame =
    edges.join(rep.select(col("v").as("u"), col("rep")), "u")
      .groupBy("v").agg(min("rep").as("rep"))

  /** @param pairs DataFrame with two long columns `a`, `b` (one row per
    *              undirected edge)
    * @return DataFrame (v, rep): every vertex of the pair graph mapped
    *         to the minimum vertex id reachable from it
    */
  def labels(pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    // both directions PLUS self-loops in one explode: the (possibly
    // expensive) pair-mining lineage is consumed exactly once — a
    // union of two selects re-ran it per branch (measured: the
    // Jaccard pipeline executed twice inside the first job). With
    // self-loops in the edge list, "min over in-neighbors" already
    // includes the vertex's own label, so init and rounds are each a
    // single join/aggregate. The edge list is edge-sized: a
    // lineage-keeping persist (lost blocks recompute), filled by the
    // init action and dropped before return.
    val edges = pairs.select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")),
        struct(col("a").as("u"), col("a").as("v")),
        struct(col("b").as("u"), col("b").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Convergence check: labels only DECREASE, so Σlabels is strictly
    // decreasing until the fixpoint — one aggregate per round, no join
    // against the previous labels, observed on the round's own
    // checkpointing action (no separate job). The label table is
    // vertex-sized: each round is an eager local checkpoint, so lineage
    // stops there and a lost block fails loudly with Spark's
    // "Checkpoint block ... not found". SUM over zero rows is NULL —
    // coalesce so an edgeless pair graph returns its (empty) label
    // table instead of throwing.
    def materialize(df: DataFrame) =
      BFS.checkpointObserving(df, coalesce(sum("rep"), lit(0L)))
    try {
      // round 0 folded into init: rep(v) = min(v, neighbors(v)). A
      // clique-shaped graph (the common dup-cluster topology) is solved
      // by init and finishes after ONE confirming round. Per-round cost
      // here is fixed job overhead, not data (measured): keep rounds to
      // plain hooking; worst-case rounds = component diameter, with
      // maxRounds as the safety net.
      var (rep, prevSum) = materialize(edges.groupBy(col("u")).agg(min(col("v")).as("rep"))
        .select(col("u").as("v"), col("rep")))
      var round = 0
      var converged = false
      while (!converged && round < maxRounds) {
        round += 1
        val (next, s) = materialize(propagateRound(edges, rep))
        rep = next
        converged = s == prevSum
        prevSum = s
      }
      if (!converged)
        log.warn(s"ConnectedComponents: maxRounds=$maxRounds reached without " +
          "convergence — labels are a partial closure (component diameter " +
          "exceeds the round cap); raise maxRounds for deep chain graphs")
      // local-checkpoint blocks, not a CacheManager entry: they are
      // released by the ContextCleaner once the frame is unreferenced
      rep
    } finally edges.unpersist()
  }
}
