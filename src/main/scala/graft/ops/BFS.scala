package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Level-synchronous BFS over an edge list — the general form of
  * Mimir's BFS application ([IPDPS17] §V): iterate (frontier ⋈ edges) →
  * new frontier minus visited, until the frontier is empty.
  *
  * One `(node, level)` state table carries both the visited set and the
  * frontier (the rows at the newest level). Each level is one
  * [[expandRound]] — the frontier's out-edges unioned into the state and
  * a min-level aggregate on `node` — materialized by a single eager
  * local checkpoint. The frontier size rides on that same action as an
  * observed metric, so the driver loop launches exactly one Spark job
  * per level (plus one for the roots) and never a separate count.
  */
object BFS {

  /** one level: every out-neighbour of the frontier (`level - 1` rows)
    * becomes a level-`level` candidate, and the min-level aggregate
    * keeps each node's first-visit level. A single equi-join plus one
    * aggregate, nothing else (PlanSpec pins this shape).
    */
  private[graft] def expandRound(adj: DataFrame, state: DataFrame, level: Int): DataFrame = {
    val frontier = state.filter(col("level") === level - 1).select(col("node").as("src"))
    state.unionByName(adj.join(frontier, "src")
        .select(col("dst").as("node"), lit(level).as("level")))
      .groupBy("node").agg(min("level").as("level"))
  }

  /** eagerly local-checkpoint `df`, returning the long aggregate
    * `metric` over its rows as observed on that same action
    */
  private[ops] def checkpointObserving(df: DataFrame, metric: Column): (DataFrame, Long) = {
    val obs = new Observation()
    val cp = df.observe(obs, metric.as("m")).localCheckpoint(true)
    (cp, obs.get("m").asInstanceOf[Long])
  }

  /** @param edges DataFrame with `src`, `dst` string columns
    * @param roots DataFrame with a `node` string column (level 0)
    * @return DataFrame of (node, level) — first-visit level per node;
    *         local-checkpointed, so no cache entry outlives the call
    */
  def levels(edges: DataFrame, roots: DataFrame, maxLevels: Int = 30): DataFrame = {
    // the state is vertex-sized. Each level's state is an eager local
    // checkpoint: lineage stops there, so the loop's plans stay one
    // round deep, and a lost block fails loudly with Spark's
    // "Checkpoint block ... not found" rather than recomputing.
    def materialize(df: DataFrame, level: Int) =
      checkpointObserving(df, count_if(col("level") === level))
    // the edge list is edge-sized: a lineage-keeping persist (lost
    // blocks recompute), filled by level 1 and dropped before return
    val adj = edges.select(col("src"), col("dst")).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var (state, frontierSize) =
        materialize(roots.select(col("node")).distinct().withColumn("level", lit(0)), 0)
      var level = 0
      while (frontierSize > 0 && level < maxLevels) {
        level += 1
        val (next, n) = materialize(expandRound(adj, state, level), level)
        state = next
        frontierSize = n
      }
      state
    } finally adj.unpersist()
  }
}
