package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted PageRank over an edge list — the iterative-analytics shape
  * of Mimir's application family ([IPDPS17] §V: BFS, octree), applied
  * to the link-graph ranking a crawl-curation pipeline runs to weight
  * domains. Like [[BFS]] and [[ConnectedComponents]], the driver loop
  * carries NO data — every iteration is one equi-join plus one hash
  * aggregate, shuffled on the node key, and the rank vector stays
  * distributed (localCheckpoint pins each round so lineage doesn't
  * compound across iterations).
  *
  * Semantics (fixed, engine-independent): damped weighted PageRank,
  * pr₀ = 1/N, prₜ₊₁(v) = (1−d)/N + d·Σ_{(u,v)∈E} prₜ(u)·w(u,v)/outw(u).
  * Dangling-node mass is deliberately NOT redistributed (the "leaky"
  * formulation): redistribution needs a global scalar per round, and
  * the oracle runs the identical formula, so parity is exact either
  * way. N rides as a 1-row broadcast — no driver collect.
  */
object PageRank {

  /** @param edges  DataFrame with `src`, `dst` (any equatable type) and
    *               a positive `w` weight column
    * @param damping the damping factor d (0.85 classically)
    * @param iters   fixed iteration count (the oracle unrolls the same)
    * @return DataFrame of (node, pr) after `iters` rounds
    */
  def run(edges: DataFrame, damping: Double, iters: Int): DataFrame = {
    val nodes = edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(true) // reused every round (and by the 1-row N agg)
    val n1 = nodes.agg(count(lit(1)).cast("double").as("nn"))
    // out-weight folded into the edge once: each round's join then
    // carries only (src, dst, w/outw)
    val norm = edges
      .join(edges.groupBy("src").agg(sum("w").as("outw")), "src")
      .select(col("src"), col("dst"), (col("w") / col("outw")).as("wn"))
      .localCheckpoint(true)
    // pr₀ is a cheap projection over the checkpointed node set — no
    // checkpoint of its own (r17: each eager localCheckpoint is a full
    // Spark job; at PrIters=3 the per-round pins made the key ~33 jobs
    // of mostly scheduling floor). Rounds checkpoint every CkptEvery
    // iterations instead of every one: within a window the recurrence
    // is ONE linear plan executed once (each round's pr feeds exactly
    // one consumer — no recompute; `nodes`/`norm` stay pinned scans),
    // while the periodic pin still bounds lineage depth for large
    // iteration counts. Every declared key runs 3 rounds = one window.
    // r18 adjudication (r17 verdict #1): the windowed plan vs the r16
    // per-round materialization was A/B'd calm (a per-key timer, min across 3
    // JVMs, steal printed per run) WITH the tagged-long node ids:
    // graph_pagerank_raw 3.87 s windowed vs 4.01 s per-round,
    // graph_pagerank 1.97 s windowed vs 2.31 s per-round — the window
    // wins on both keys, kept.
    var pr = nodes.crossJoin(broadcast(n1))
      .select(col("node"), (lit(1.0) / col("nn")).as("pr"))
    for (i <- 1 to iters) {
      pr = rankRound(norm, pr, nodes, n1, damping)
      if (i % CkptEvery == 0 && i < iters) pr = pr.localCheckpoint(true)
    }
    pr
  }

  /** lineage window for the iteration loop in [[run]] — small enough
    * that a window plans/AQE-executes comfortably, large enough that a
    * 3-round key is a single un-pinned plan. */
  private val CkptEvery = 4

  /** one un-materialized rank round — exposed so PlanSpec can pin the
    * per-round shape (one equi-join + one partial-aggregated sum + the
    * left join back onto the node set), which the localCheckpoint in
    * [[run]] otherwise hides. */
  private[graft] def rankRound(norm: DataFrame, pr: DataFrame,
      nodes: DataFrame, n1: DataFrame, damping: Double): DataFrame = {
    val contrib = norm
      .join(pr.withColumnRenamed("node", "src"), "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(col("pr") * col("wn")).as("cin"))
    nodes
      .join(contrib, Seq("node"), "left")
      .crossJoin(broadcast(n1))
      .select(col("node"),
        (lit(1.0 - damping) / col("nn")
          + lit(damping) * coalesce(col("cin"), lit(0.0))).as("pr"))
  }
}
