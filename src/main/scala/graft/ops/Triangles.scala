package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting — the canonical MapReduce graph
  * benchmark alongside BFS in Mimir's application family ([IPDPS17]
  * §V), and the clustering-coefficient signal a link-graph audit
  * reads. Implements the degree-oriented "compact-forward" scheme:
  * orient every undirected edge from its lower-(degree, id) endpoint
  * to the higher one, generate wedges only from out-neighbors, and
  * close them against the canonical edge set. Orientation bounds every
  * node's out-degree by O(√m) on skew-free graphs and — decisively —
  * caps the wedge blow-up of hub nodes: a degree-D hub generates ZERO
  * wedges from its in-edges, so the shuffled wedge volume is
  * Σ outdeg² ≪ Σ deg², which is what makes the plan survive a
  * power-law graph at 100× scale. Every step is an equi-join or a
  * hash aggregate; the degree table is dimension-sized and broadcasts.
  */
object Triangles {

  /** @param edges DataFrame with `src`, `dst` long columns (directed
    *              multigraph in; self-loops and duplicates dropped)
    * @return (node, n_tri) — per-node triangle participation counts
    *         (each triangle counts once for each of its 3 corners)
    */
  /** @param bloomPrune Bloom-filter the open wedges against the edge
    *        set before the closing shuffle (see [[prune]]). OFF by
    *        default: A/B-measured at sf0.1 local[32] (BASELINE.md
    *        §graph-scale), the plain shape wins — the shuffle is
    *        RAM-backed, so shipping the 5–9% closing survivors plus
    *        the dead 91–95% costs less than building the 2 MB filter.
    *        Turn it on when the closing exchange is NETWORK-bound
    *        (multi-rack clusters): the pruned shuffle is 3.7× / 20.8×
    *        smaller (quotient / raw co-purchase, measured row counts)
    *        for one 2 MB broadcast. Result-identical either way —
    *        both paths run against the same brute-force reference in
    *        OpsSpec. */
  def perNode(edges: DataFrame, bloomPrune: Boolean = false): DataFrame = {
    val st = build(edges)
    close(st, bloomPrune)
  }

  /** Wedge volume above which [[perNodeAuto]] flips the Bloom prune ON
    * (r15): the r8 A/B that mothballed the prune was measured in the
    * RAM-backed-shuffle regime (41 M wedges ≈ 1 GB — shipping dead
    * wedges through memory beats building the filter). The sf10
    * envelope found the other regime: 4.1 B wedges ≈ 66 GB of closing
    * sort spill FILLED THE DISK (SPILL_OUT_OF_MEMORY: no space left on
    * device) — at that volume the 95% dead wedges aren't a RAM tax,
    * they're the storage budget. 2^29 ≈ 537 M sits between the two
    * measured points: sf1's 410 M (ran fine in RAM, stays plain) and
    * sf10's 4.1 B (needs the prune). On a real cluster the same
    * budget-per-executor logic applies — the threshold is overridable
    * (GRAFT_WEDGE_BUDGET) because the right value is a function of
    * aggregate spill capacity, not of the algorithm. */
  val WedgeBudget: Long = sys.env.get("GRAFT_WEDGE_BUDGET").flatMap(v =>
    scala.util.Try(v.toLong).toOption).getOrElse(1L << 29)

  /** [[perNode]] with the Bloom prune decided by the data: the exact
    * wedge volume Σ C(outdeg, 2) is one cheap aggregate over the
    * (checkpointed) oriented DAG's out-degrees, priced BEFORE any
    * wedge is generated. Below [[WedgeBudget]] the plan is
    * byte-identical to the plain form; above it the closing shuffle
    * shrinks by the measured 3.7–20.8× for one edge-count-sized
    * broadcast. Result-identical either way (OpsSpec pins both paths
    * against brute force). */
  def perNodeAuto(edges: DataFrame, budget: Long = WedgeBudget): DataFrame = {
    val st = build(edges)
    val w = st.dag.groupBy("x").agg(count(lit(1)).as("d"))
      .agg(coalesce(sum(col("d") * (col("d") - 1) / 2), lit(0.0)))
      .head.getDouble(0)
    close(st, bloomPrune = w > budget)
  }

  /** The algorithm's intermediates plus the one measured regime bit both
    * join strategies key off: `small` = the canonical edge set fits the
    * session broadcast threshold (counted on the materialized
    * checkpoint, ≈24 B/row UnsafeRow — never an optimizer estimate,
    * which is exactly what the r16 salted-join incident showed lying). */
  private final case class Built(und: DataFrame, dag: DataFrame,
      wedges: DataFrame, small: Boolean)

  private def close(st: Built, bloomPrune: Boolean): DataFrame = {
    val probe = if (bloomPrune) prune(st.und, st.wedges) else st.wedges
    // r17 (guide §3.1): the closing probe carries the FULL wedge volume
    // (Σ C(outdeg,2) ≥ |E|), so when the edge set outgrows the broadcast
    // threshold the planner's default SMJ SORTS the wedge stream — at
    // sf0.1 raw co-purchase that sort+merge stage burned 382 s of CPU
    // (uniform across tasks, med≈max ≈ 12.7 s). Hash-build the EDGE set
    // instead (SHUFFLE_HASH): wedges stream unsorted past a per-partition
    // hash of und. Scale-safe because AQE sizes the coalesced partitions
    // on the UNION of both sides, which the wedge side dominates, so the
    // und build per partition stays a small fraction of the advisory
    // size at any graph scale. Below the threshold the edge set
    // broadcasts (explicitly — a hint overrides size estimates, so the
    // small path must say broadcast, not stay silent) and the wedge
    // stream never exchanges at all.
    val tris = probe
      .join(if (st.small) broadcast(st.und) else st.und.hint("SHUFFLE_HASH"),
        col("y") === col("a") && col("z") === col("b"))
    tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** Bloom-prune open wedges against the canonical edge set BEFORE the
    * closing shuffle: wedge→triangle selectivity is low — measured
    * 26.7% quotient / 4.8% raw co-purchase (BASELINE.md §graph-scale)
    * — so the closing join's shuffle input is mostly rows the probe
    * will discard. A ~2 MB Bloom of xxhash64(a,b) over the edge set
    * drops the dead wedges map-side between the wedge join and the
    * closing exchange. The hash is Spark-internal — no cross-engine
    * contract to honor — false positives die in the closing equi-join
    * (measured fpp 0.22% on the raw graph), and false negatives are
    * impossible, so the RESULT is unchanged. Sizing (r15): scaled to
    * the MEASURED edge count — the original fixed 2 M-item/16 M-bit
    * filter would saturate on a 12 M-edge graph and degrade to a
    * no-op exactly where the prune matters. 8 bits/item (fpp ≈ 2%),
    * capped at 2^30 bits = 134 MB: the first sf10 validation ran with
    * a 2^28 cap and the 120 M-edge raw graph got 2.2 bits/item →
    * fpp ≈ 65% → the "pruned" closing sort STILL filled the disk; the
    * filter must stay ≥ ~6 bits/item to do its job, and a ~120 MB
    * payload is safe because the task binary ships via ONE broadcast
    * per stage, never per task. Degradation beyond the cap is still
    * graceful: toward no-op pruning, never wrong answers. */
  private[graft] def prune(und: DataFrame, wedges: DataFrame): DataFrame = {
    graft.GraftFunctions.register(und.sparkSession)
    // und is localCheckpoint'ed in build(): the count is a block scan
    val edgeCount = math.max(2000000L, und.count())
    val bits = math.min(8L * edgeCount, 1L << 30)
    // BloomFilterAggregate SILENTLY clamps both sizing args to the
    // runtime-filter confs (maxNumItems 4 M / maxNumBits 2^26 ≈ 8 MB
    // by default) — sized-for-120 M-edges arguments came back as a
    // 0.56-bit/item filter with fpp ≈ 1.0 and the sf10 validation
    // still filled the disk while every literal LOOKED right. Raise
    // the ceilings to this build's actual size before the aggregate
    // runs (the clamp is applied lazily at execution).
    val sess = und.sparkSession
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    // the raise is scoped to THIS aggregate: restore the session's
    // prior ceilings afterwards, or every later query in the shared
    // bench/serving session could build Spark-injected runtime blooms
    // up to a 2^30-bit ceiling a triangle key happened to leave behind
    // (r15 ADVICE) — plans and byte telemetry of unrelated keys must
    // not depend on whether a big-graph prune ran first.
    // might_contain demands a CONSTANT (or scalar subquery) filter, so
    // the bloom rides as a literal: the aggregation itself is
    // distributed (partial blooms OR-merged), only the finished filter
    // crosses the driver — a bounded scalar sized by edge count with a
    // hard 32 MB cap, not by wedge volume (the snapshot-diff base
    // exception) — and ships to executors once per stage in the
    // broadcast task binary.
    // coalesce(8): each partial-aggregate task allocates a full
    // bits/8-byte filter — at the 2^30 cap that is a ~134 MB humongous
    // G1 allocation PER TASK, and 32 concurrent builders GCLocker-
    // thrashed a 48 GB heap to death on the sf10 validation. Eight
    // builders bound the transient filter memory at ~1 GB while the
    // 120 M-row scan stays far from the bottleneck.
    val bf = graft.Session.withConfs(sess,
        itemsKey -> math.max(4000000L, edgeCount).toString,
        bitsKey -> math.max(67108864L, bits).toString) {
      und.coalesce(8).agg(expr(
        s"graft_bloom_agg(xxhash64(a, b), CAST($edgeCount AS LONG), CAST($bits AS LONG))").as("bf"))
        .head.getAs[Array[Byte]](0)
    }
    wedges
      .filter(call_function("graft_might_contain", lit(bf),
        xxhash64(col("y"), col("z"))))
      .select("x", "y", "z")
  }

  private def build(edges: DataFrame): Built = {
    // simple undirected edge set, canonical a < b; read three times
    // below (degrees, orientation, closing probe) — pin it
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint(true)
    // one cheap count over the materialized checkpoint decides BOTH join
    // strategies below; ≤0 threshold (auto-broadcast disabled) means
    // never-small, matching the planner's own contract
    val bcastThreshold =
      und.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    // per-row width from the schema (r18 ADVICE: the old literal 24 was
    // only valid for two 8-byte ids — a caller passing string node ids
    // would under-estimate and broadcast an edge set several times the
    // session threshold): UnsafeRow 8-byte header + null bitset word +
    // each field's defaultSize (longs 8; strings estimate 20).
    val small = bcastThreshold > 0 &&
      und.count() * (16L + und.schema.map(_.dataType.defaultSize).sum) <=
        bcastThreshold
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient by (deg, node) — a total order, so exactly one direction
    // survives per edge and every triangle has exactly one "apex" x
    // with out-edges to both of its other corners
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val dag = und
      .join(broadcast(deg.toDF("a", "da")), "a")
      .join(broadcast(deg.toDF("b", "db")), "b")
      .select(when(lowFirst, col("a")).otherwise(col("b")).as("x"),
        when(lowFirst, col("b")).otherwise(col("a")).as("y"))
      .localCheckpoint(true) // the wedge self-join reads it twice
    // wedges from each apex's out-neighborhood, emitted in canonical
    // id order (y < z) so the closing probe is an equi-join against
    // the canonical edge set itself.
    // r17 (guide §2.5 explode-after-coalesce + §3.1): the wedge join
    // MULTIPLIES each probe row by outdeg(x), but the probe's own size
    // is all AQE and the planner can see. Two regimes, decided by the
    // measured edge count above:
    //  - small (edge set under the broadcast threshold, the 1000-node
    //    quotient graphs): broadcast the neighbor side and spread the
    //    probe ROUND-ROBIN to defaultParallelism when its checkpoint
    //    materialized narrower — AQE had coalesced the tiny distinct
    //    to ONE partition and the whole Σ C(outdeg,2) fan + closing
    //    probe + partial aggregate ran single-threaded (measured:
    //    a 14.6 s 1-task job that was graph_triangles' entire cost).
    //    Round-robin, not hash-by-x, so a hub apex's fan splits across
    //    tasks. Explicit broadcast: a bare join would re-derive the
    //    same answer from stats today, but the strategy is now a
    //    measured decision, so say it.
    //  - large (raw graphs): hash-build the neighbor side
    //    (SHUFFLE_HASH). The default SMJ sorted BOTH copies of the DAG
    //    before fanning wedges; the hash build streams the fan with no
    //    sort. The build side is the DAG itself, whose per-partition
    //    slice AQE keeps near advisory size at any scale.
    // Reading getNumPartitions off the checkpointed RDD is metadata,
    // not a job; nothing here is pinned to the local core count.
    val p = edges.sparkSession.sparkContext.defaultParallelism
    val zSide = dag.select(col("x"), col("y").as("z"))
    val wedges =
      if (small) {
        val probe =
          if (dag.rdd.getNumPartitions < p) dag.repartition(p) else dag
        probe.join(broadcast(zSide), Seq("x")).filter(col("y") < col("z"))
      } else
        dag.join(zSide.hint("SHUFFLE_HASH"), Seq("x"))
          .filter(col("y") < col("z"))
    Built(und, dag, wedges, small)
  }
}
