package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.SparkPlan

/** All-inventory plan lint (r13 verdict #3).
  *
  * PlanSpec pins plan shapes for the families that earned a pin; this
  * lints EVERY SparkEntry key against the global scale invariants, so a
  * regression in an un-pinned key's plan surfaces as a red flag instead
  * of bench noise. Structural invariants (SF-independent — an O(n²)
  * node or a lost partitioning is wrong at any size):
  *
  *  F1 `cartesian`: CartesianProductExec anywhere. The declared
  *     exception is join_cross (the cross join IS its semantics, over a
  *     broadcast-small side).
  *  F2 `expand`: ExpandExec outside the grouping-set family
  *     (rollup/cube/grouping_sets compile to Expand BY DESIGN; an
  *     Expand anywhere else is the multi-countDistinct trap that
  *     measured 25.6× at ×16 data before the quality_profile rewrite).
  *  F3 `global_window`: a logical Window with empty partitionSpec whose
  *     input is NOT bounded by construction — "bounded" = an Aggregate /
  *     GlobalLimit under it (dimension-sized groupBys, top-k slices) or
  *     a scan of a constant dimension table only (region/nation).
  *     Unbounded global windows single-thread the corpus at any scale.
  *  F4 `hinted_fact_broadcast`: an explicit broadcast() hint whose
  *     subtree scans a table that GROWS with the corpus (anything but
  *     region/nation) without an Aggregate or Limit in between — the
  *     hint that OOMs the driver at 100 TB. (Auto-broadcasts are fine:
  *     Catalyst re-estimates them at real sizes.)
  *
  * Per key it also RECORDS (informational, judged by diffing rounds,
  * not asserted): shuffle-exchange count, broadcast-exchange count,
  * BroadcastNestedLoopJoin count, InMemoryTableScan count (memoized
  * minings hide their subtree behind one), and scan count.
  *
  * `runMain graft.PlanLint [outJson] [sfDir] [aqeSfDir...]` (defaults
  * PLANS_r16.json, /root/testdata/sf0.01, no AQE pass; multiple AQE
  * dirs each get an "aqe_runs" entry, GRAFT_AQE_ONLY subsets the
  * executed keys) writes the full report and exits nonzero on any
  * flag. PlanLintSpec runs the same lint in the suite at sf0.001, so
  * the invariants gate every `sbt test`.
  *
  * AQE is disabled while planning so the full static exchange tree is
  * visible (PlanSpec's convention: AQE only removes exchanges at
  * runtime, so the static plan is the conservative side). When
  * aqeSfDir is given, a second OBSERVATION pass (r14 verdict #5)
  * executes every key there with AQE ON and records what the adaptive
  * layer actually chose — final join strategies, skew splits, read
  * coalescing — as the "aqe" section: recorded evidence for the
  * "AQE handles it at real sizes" notes, diffable across rounds,
  * never asserted. Streaming keys execute their micro-batch pipeline
  * during DataFrame construction and return a batch result frame —
  * the lint sees that final frame's plan, which is the right surface
  * here (the streaming internals are pinned by their own specs).
  */
object PlanLint {

  /** keys whose Expand IS the declared plan: the grouping-set family
    * (rollup/cube/grouping_sets/unpivot — pipeline_content_hash's
    * rollup total row included) and sliding windows (window(1h, 30min)
    * assigns each event to duration/slide = 2 windows; the constant
    * ×2 Expand is the sliding-window semantics, not the
    * multi-countDistinct trap). */
  private[graft] val ExpandOk: Set[String] =
    Set("agg_rollup", "agg_cube", "agg_grouping_sets", "fn_unpivot",
      "pipeline_content_hash", "stream_sliding")

  /** cross join as declared semantics (bounded side asserted in spec) */
  private[graft] val CartesianOk: Set[String] = Set("join_cross")

  /** constant dimension tables — never grow with the corpus */
  private val ConstantTables = Set("region", "nation")

  /** persisted index artifacts sized by training constants (k coarse
    * centroids, PqM×PqK codebook rows), not by the corpus — a scan of
    * these is bounded at any deployment size. members/codes are
    * deliberately absent: those ARE corpus-sized. */
  private val BoundedArtifacts = Set("centroids", "codebooks")

  /** dense unique-id columns (0..n-1 per FIXTURES.md): a literal
    * range/equality filter on one bounds the subtree's ROW COUNT by
    * the literal at any corpus scale — the repo's declared probe-cap
    * idiom (`vec_id < 100`). Deliberately NOT extended to value
    * columns (a `label < 100` filter bounds nothing). Note this makes
    * boundedBelow an approximation in the safe direction for a
    * broadcast-hint check only when the cap is on the broadcast side's
    * driving scan — which is how every probe cap in the repo is
    * written; a corpus-side join above the capped scan still yields
    * O(cap × matches), reviewed per key when the pattern appears. */
  private val UniqueIdCols = Set("vec_id", "doc_id", "event_id")

  final case class Report(
      key: String,
      flags: Seq[String],
      shuffles: Int,
      broadcasts: Int,
      bnlj: Int,
      inMemoryScans: Int,
      scans: Int)

  /** table names whose parquet paths appear in `plan`'s scan subtree */
  private def scannedTables(p: logical.LogicalPlan): Set[String] =
    p.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.map(_.getName.stripSuffix(".parquet")).toSet
          case _ => Set.empty[String]
        }
    }.flatten.toSet

  /** does this comparison cap a dense unique-id column by a literal? */
  private def idCap(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    def capped(a: Expression, l: Expression): Boolean = (a, l) match {
      case (ar: AttributeReference, _: Literal) => UniqueIdCols(ar.name)
      case _ => false
    }
    e.exists {
      case LessThan(a, l) => capped(a, l)
      case LessThanOrEqual(a, l) => capped(a, l)
      case EqualTo(a, l) => capped(a, l) || capped(l, a)
      case GreaterThan(l, a) => capped(a, l)
      case GreaterThanOrEqual(l, a) => capped(a, l)
      case _ => false
    }
  }

  private def boundedBelow(p: logical.LogicalPlan): Boolean = {
    val hasBound = p.collectFirst {
      case _: logical.Aggregate => ()
      case _: logical.GlobalLimit => ()
      case _: logical.Deduplicate => ()
      case f: logical.Filter if idCap(f.condition) => ()
    }.isDefined
    hasBound || scannedTables(p).forall(t =>
      ConstantTables(t) || BoundedArtifacts(t))
  }

  private[graft] def lintKey(spark: SparkSession, sf: String, key: String)(
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Report = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qe = fn(spark, sf).queryExecution
      val opt = qe.optimizedPlan
      val phys = qe.executedPlan
      def collectPhys[A](pf: PartialFunction[SparkPlan, A]): Seq[A] = {
        // include subquery plans — a cartesian inside a scalar subquery
        // is as much a scale defect as one in the main tree
        def all(p: SparkPlan): Seq[SparkPlan] =
          (p +: p.children.flatMap(all)) ++
            p.subqueries.flatMap(all)
        all(phys).collect(pf)
      }
      val cartesian = collectPhys {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c }
      val expands = collectPhys {
        case e: org.apache.spark.sql.execution.ExpandExec => e }
      val shuffles = collectPhys {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      val broadcasts = collectPhys {
        case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => e }
      val bnlj = collectPhys {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j }
      val imts = collectPhys {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s }
      val scans = collectPhys {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }

      val globalWindows = opt.collect {
        case w: logical.Window if w.partitionSpec.isEmpty && !boundedBelow(w.child) => w
      }
      val hintedFactBroadcast = opt.collect {
        case j: logical.Join =>
          def offending(hint: Option[org.apache.spark.sql.catalyst.plans.logical.HintInfo],
              side: logical.LogicalPlan): Boolean =
            hint.flatMap(_.strategy).contains(
              org.apache.spark.sql.catalyst.plans.logical.BROADCAST) &&
              !boundedBelow(side) &&
              !scannedTables(side).forall(ConstantTables.contains)
          (if (offending(j.hint.leftHint, j.left)) 1 else 0) +
            (if (offending(j.hint.rightHint, j.right)) 1 else 0)
      }.sum

      val flags = Seq.newBuilder[String]
      if (cartesian.nonEmpty && !CartesianOk(key))
        flags += s"cartesian:${cartesian.length}"
      if (expands.nonEmpty && !ExpandOk(key))
        flags += s"expand:${expands.length}"
      if (globalWindows.nonEmpty)
        flags += s"global_window:${globalWindows.length}"
      if (hintedFactBroadcast > 0)
        flags += s"hinted_fact_broadcast:$hintedFactBroadcast"
      Report(key, flags.result(), shuffles.length, broadcasts.length,
        bnlj.length, imts.length, scans.length)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** lint the whole inventory; returns reports in key order */
  private[graft] def lintAll(spark: SparkSession, sf: String): Seq[Report] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (k, fn) =>
      try lintKey(spark, sf, k)(fn)
      catch { case e: Throwable =>
        Report(k, Seq(s"lint_error:${e.getClass.getSimpleName}"), -1, -1, -1, -1, -1)
      }
    }

  // ---- deserialized-broadcast budget bar (r16 verdict #1) ------------
  // bcast_bytes_max was informational in r16 and immediately caught a
  // real scale-killer (join_skew_salted auto-broadcasting its
  // ×8-replicated build side: 1.51 GB deserialized at sf1). This
  // promotes the column to an ENFORCED bar: any key whose measured
  // deserialized broadcast (BroadcastExchangeExec dataSize, seeded from
  // the AQE observation pass — real materialized bytes, not static
  // estimates) exceeds the declared budget either carries an explicit
  // adjudication (recorded verbatim in the artifact) or flags
  // `bcast_deser_over_budget` and fails the lint run.

  /** 100 MB default: a broadcast is shipped to EVERY executor, so the
    * per-key ceiling is a deployment budget line (100 MB × 1000
    * executors = 100 GB of cluster RAM for one build side), not a
    * local-correctness bound. Env-tunable for bigger clusters. */
  private[graft] val BcastBudgetDefault: Long = 100L << 20
  private[graft] def bcastBudget: Long =
    sys.env.get("GRAFT_BCAST_BUDGET").map(_.trim.toLong)
      .getOrElse(BcastBudgetDefault)

  /** Keys whose measured over-budget broadcast is ADJUDICATED — the
    * exceedance is the key's declared semantics, measured and accepted,
    * not a silent trap. Reasons are recorded verbatim in the artifact
    * (keep them JSON-safe: no quotes/control chars).
    *
    * The two standing sf10 instances (PLANS_r16: customer broadcasts
    * 192 MB deserialized from 6.3 MB compressed parquet):
    *  - join_broadcast_inner: the key's declared semantics IS the
    *    broadcast-dim join; warm sf10 A/B measured BHJ 2.8 s vs forced
    *    SMJ 3.5 s, so Catalyst's choice is locally right. The 192 MB ×
    *    N-executors line is documented in BASELINE.md, and this entry
    *    makes the acceptance diffable instead of silent.
    *  - join_theta_range: a non-equi theta join has no SMJ/SHJ regime —
    *    the only alternatives to the broadcast NL side are a shuffled
    *    cartesian (strictly worse at every scale) or a rewrite to the
    *    interval-bucketed key (which exists: join_interval_bucketed IS
    *    that scale path). Accepted for the declared small-dim probe.
    */
  private[graft] val BcastAdjudicated: Map[String, String] = Map(
    "join_broadcast_inner" -> ("declared broadcast-dim semantics; warm sf10 A/B " +
      "BHJ 2.8s vs SMJ 3.5s - Catalyst right locally; 192MB deser x N executors " +
      "documented as the deployment budget line in BASELINE.md"),
    "join_theta_range" -> ("non-equi theta join: no SMJ regime exists; shuffled " +
      "cartesian is strictly worse; the scale path is the interval-bucketed " +
      "rewrite (join_interval_bucketed); small-dim probe accepted"))

  /** The bar, as a pure decision: None = under budget; Left(reason) =
    * over budget, adjudicated (recorded, not flagged); Right(flag) =
    * over budget, unadjudicated — fails the lint. Factored out so
    * PlanSpec can pin the decision table without an sf10 execution. */
  private[graft] def bcastVerdict(key: String, bytes: Long,
      budget: Long = bcastBudget): Option[Either[String, String]] =
    if (bytes <= budget) None
    else Some(BcastAdjudicated.get(key).toLeft("bcast_deser_over_budget"))

  // ---- AQE-on observation pass (r14 verdict #5) ----------------------
  // The static lint above deliberately plans with AQE OFF (the full
  // exchange tree is the conservative side); every "AQE will handle it
  // at real sizes" note in the repo was therefore an assumption with
  // no recorded evidence. This pass EXECUTES each key with AQE ON and
  // records — never asserts — what the adaptive layer actually chose:
  // final join strategies, skew-join activations, and shuffle-read
  // coalescing. Judged by diffing rounds, like the exchange counts.

  final case class AqeReport(
      key: String,
      bhj: Int,           // BroadcastHashJoin in the FINAL plan
      smj: Int,           // SortMergeJoin in the final plan
      shj: Int,           // ShuffledHashJoin in the final plan
      skewJoins: Int,     // joins AQE split for skew (isSkewJoin)
      aqeReads: Int,      // AQEShuffleReadExec nodes
      coalescedReads: Int, // ...of which coalesced partitions
      coalescedPartitions: Int, // partitions after coalescing, summed
      bcastBytesMax: Long, // largest DESERIALIZED broadcast relation
                           // (dataSize metric) — the r15 trap column:
                           // the 10 MB auto-broadcast threshold tests
                           // the COMPRESSED parquet stats, so a 6.3 MB
                           // file can broadcast a far larger in-memory
                           // relation; this records what was actually
                           // materialized, so the decade where a build
                           // side's entropy grows is caught by a diff,
                           // not an executor OOM (r15 verdict #8)
      error: Option[String])

  /** every node of the FINAL adaptive plan, unwrapping the two
    * containers that hide subtrees from a naive children walk:
    * AdaptiveSparkPlanExec (the executed plan replaces the input
    * tree) and QueryStageExec (a leaf wrapping its materialized
    * stage), plus subquery plans. */
  private def allFinal(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => allFinal(a.executedPlan)
      case q: QueryStageExec => q +: allFinal(q.plan)
      case other =>
        (other +: other.children.flatMap(allFinal)) ++
          other.subqueries.flatMap(allFinal)
    }
  }

  private[graft] def aqeKey(spark: SparkSession, sf: String, key: String)(
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): AqeReport = {
    import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
    import org.apache.spark.sql.execution.joins._
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val df = fn(spark, sf)
      // Execute THIS df's physical plan: df.count() would plan and run
      // a SEPARATE count-aggregate query, leaving this plan's
      // AdaptiveSparkPlanExec at its INITIAL state (the first cut of
      // this pass recorded zero AQEShuffleReads for exactly that
      // reason). toRdd.count() drives doExecute on the df's own tree,
      // which is what finalizes the adaptive plan.
      val qe = df.queryExecution
      qe.toRdd.count()
      val nodes = allFinal(qe.executedPlan)
      val smjs = nodes.collect { case j: SortMergeJoinExec => j }
      val shjs = nodes.collect { case j: ShuffledHashJoinExec => j }
      val reads = nodes.collect { case r: AQEShuffleReadExec => r }
      val coalesced = reads.filter(_.isCoalescedRead)
      // dataSize is the broadcast relation's deserialized byte size as
      // materialized on the driver — populated after execution
      val bcastSizes = nodes.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
          b.metrics.get("dataSize").map(_.value).getOrElse(-1L)
      }
      AqeReport(key,
        bhj = nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
        smj = smjs.length,
        shj = shjs.length,
        skewJoins = smjs.count(_.isSkewJoin) + shjs.count(_.isSkewJoin),
        aqeReads = reads.length,
        coalescedReads = coalesced.length,
        coalescedPartitions = coalesced.map(_.partitionSpecs.length).sum,
        bcastBytesMax = if (bcastSizes.nonEmpty) bcastSizes.max else 0L,
        error = None)
    } catch { case e: Throwable =>
      // class name + first line of the message: a bare "SparkException"
      // is unactionable in the artifact (r16: four sf1 text keys)
      // strip quotes/backslashes AND control chars (a tab inside the
      // first line would land raw in the JSON string — r16 ADVICE)
      val msg = (e.getClass.getSimpleName +: Option(e.getMessage).toSeq)
        .mkString(": ").linesIterator.take(1).mkString.take(200)
        .replaceAll("[\"\\\\]", "'").replaceAll("\\p{Cntrl}", " ")
      AqeReport(key, -1, -1, -1, -1, -1, -1, -1, -1L, Some(msg))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** GRAFT_AQE_ONLY: comma-separated key subset for the observation
    * pass — the sf10 join tail takes minutes per key, so "observe the
    * regime transitions at the SF where they happen" must not require
    * executing all 249 keys there (r15 verdict #5). */
  private def aqeOnly: Set[String] = sys.env.get("GRAFT_AQE_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    .getOrElse(Set.empty)

  private[graft] def aqeAll(spark: SparkSession, sf: String): Seq[AqeReport] = {
    val only = aqeOnly
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, fn) => aqeKey(spark, sf, k)(fn) }
  }

  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("PLANS_r16.json")
    val sf = args.drop(1).headOption.getOrElse("/root/testdata/sf0.01")
    // optional args 3..n: run the AQE-on observation pass against EACH
    // of these SF dirs (r15 verdict #5: the interesting broadcast
    // demotions happen at sf1/sf10, not sf0.1 — record the regime
    // transitions in both directions where they occur). The first dir
    // keeps the legacy "aqe"/"aqe_sf" field names so PLANS diffs
    // across rounds line up; every dir also lands in "aqe_runs".
    val aqeSfs = args.drop(2).toSeq
    val aqeSf = aqeSfs.headOption
    val spark = Session.local()
    val reports = lintAll(spark, sf)
    val flagged = reports.filter(_.flags.nonEmpty)
    val body = reports.map { r =>
      s""""${r.key}":{"flags":[${r.flags.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""shuffles":${r.shuffles},"broadcasts":${r.broadcasts},""" +
        s""""bnlj":${r.bnlj},"in_memory_scans":${r.inMemoryScans},"scans":${r.scans}}"""
    }.mkString(",")
    val bcastFlagged = Seq.newBuilder[String]
    def aqeRows(asf: String): String = {
      println(s"[planlint] AQE observation pass at $asf" +
        (if (sys.env.contains("GRAFT_AQE_ONLY")) " (GRAFT_AQE_ONLY subset)"
         else " (executes every key)") + "...")
      aqeAll(spark, asf).map { a =>
        // the enforced budget bar (r16 verdict #1): seeded from the
        // measured dataSize just recorded, adjudications inlined so the
        // artifact is self-contained
        val bar = bcastVerdict(a.key, a.bcastBytesMax) match {
          case None => ""
          case Some(Left(reason)) =>
            s""","bcast_over_budget":"adjudicated: $reason""""
          case Some(Right(flag)) =>
            bcastFlagged += s"$asf:${a.key}"
            s""","flags":["$flag"]"""
        }
        s""""${a.key}":{"bhj":${a.bhj},"smj":${a.smj},"shj":${a.shj},""" +
          s""""skew_joins":${a.skewJoins},"aqe_reads":${a.aqeReads},""" +
          s""""coalesced_reads":${a.coalescedReads},""" +
          s""""coalesced_partitions":${a.coalescedPartitions},""" +
          s""""bcast_bytes_max":${a.bcastBytesMax}$bar""" +
          a.error.map(e => s""","error":"$e"""").getOrElse("") + "}"
      }.mkString(",")
    }
    val aqeBySf = aqeSfs.map(asf => asf -> aqeRows(asf))
    val bcastFlags = bcastFlagged.result()
    val aqeJson = aqeSf.map { asf =>
      val first = aqeBySf.head._2
      val runs = aqeBySf.map { case (d, rows) =>
        s"""{"sf":"$d","keys":{$rows}}""" }.mkString(",")
      s""","aqe_sf":"$asf","aqe":{$first},"aqe_runs":[$runs],""" +
        s""""bcast_budget":$bcastBudget,""" +
        s""""bcast_flagged":[${bcastFlags.map("\"" + _ + "\"").mkString(",")}]"""
    }.getOrElse("")
    val json = s"""{"sf":"$sf","n_keys":${reports.length},""" +
      s""""n_flagged":${flagged.length},""" +
      s""""flagged":[${flagged.map("\"" + _.key + "\"").mkString(",")}],""" +
      s""""keys":{$body}$aqeJson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      json.getBytes("UTF-8"))
    println(s"[planlint] ${reports.length} keys, ${flagged.length} flagged -> $outJson")
    flagged.foreach(r => println(s"[planlint] FLAG ${r.key}: ${r.flags.mkString(", ")}"))
    bcastFlags.foreach(k => println(s"[planlint] FLAG $k: bcast_deser_over_budget " +
      s"(> $bcastBudget bytes deserialized, unadjudicated)"))
    spark.stop()
    if (flagged.nonEmpty || bcastFlags.nonEmpty) sys.exit(1)
  }
}
