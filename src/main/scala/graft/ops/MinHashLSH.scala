package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH banding for near-duplicate candidate generation at
  * scale (SURVEY.md §2B-I `dedup_jaccard_pairs` scale path).
  *
  * Pipeline (all DataFrame ops, no driver loops):
  *   1. distinct k-token shingles per doc,
  *   2. 60-bit portable hashes per shingle,
  *   3. minhash signature: numPerm permutations h_i(x) = (a_i·x + b_i)
  *      mod p via higher-order transform + array_min,
  *   4. LSH banding: signature chunks of `rowsPerBand`; docs sharing any
  *      band bucket become candidate pairs (one shuffle on band key),
  *   5. exact Jaccard verification on the candidate pairs only.
  *
  * The banding step is probabilistic (recall < 1 for borderline pairs),
  * which is why the ORACLED dedup query uses the exact inverted-index
  * path instead; this operator is property-tested (candidates ⊇ all
  * J≥0.9 pairs on the fixture corpus, exact verify removes false
  * positives). At 100 TB the banding join replaces the O(n²) pair space
  * with per-bucket blocks.
  */
object MinHashLSH {
  // Mersenne prime 2^31-1: inputs reduced mod P stay 31-bit, so the
  // permutation multiply never overflows a signed 64-bit long (ANSI mode
  // would reject it). Exposed to graft so the DuckDB oracle can emit
  // the SAME permutations (the minhash pipeline is deterministic — the
  // "probabilistic" part is recall vs true Jaccard, not the output).
  private[graft] val P = 2147483647L

  /** deterministic permutation coefficients (odd a, spread b). */
  private[graft] def coef(i: Int): (Long, Long) =
    (2L * i + 1L, 982451653L * (i + 1) % P)

  /** per-row minhash signature column over a distinct-shingle array.
    * Routed through the native one-pass [[graft.expr.MinHashSig]] (all
    * permutations per element — the declarative form below runs
    * numPerm interpreted higher-order passes and allocates numPerm
    * intermediate arrays per row, which dominated dedup_minhash_lsh at
    * sf1); bit-identical to the declarative form by MinHashSigSpec.
    * Resolution uses call_function, so the session must have
    * GraftFunctions.register'd (every harness session does).
    */
  def signature(shingleHashes: Column, numPerm: Int): Column =
    call_function("graft_minhash_sig", shingleHashes, lit(numPerm))

  /** per-row band rows (id, band, key) from a signature column — the
    * LSH index surface itself: persisted as a table, it is the thing
    * an ingest-time dedup joins new documents against (the
    * stream_ingest_dedup shape); self-joined, it yields [[candidates]].
    */
  def bandKeys(docs: DataFrame, idCol: String, sigCol: String,
      numPerm: Int, rowsPerBand: Int, carry: Seq[String] = Nil): DataFrame = {
    val bands = numPerm / rowsPerBand
    docs.select(col(idCol) +: carry.map(col) :+ posexplode(
      array((0 until bands).map(bnd =>
        struct(lit(bnd).as("band"),
          concat_ws("_", (0 until rowsPerBand).map(r =>
            element_at(col(sigCol), bnd * rowsPerBand + r + 1)): _*).as("key"))): _*)): _*)
      .select(col(idCol) +: carry.map(col) :+ col("col.band") :+ col("col.key"): _*)
  }

  /** candidate pairs (a < b) from banding a signature column. The band
    * table is MATERIALIZED (eager localCheckpoint to executor blocks)
    * before the self-join: both join branches would otherwise
    * recompute the full shingle→md5→signature pipeline — measured at
    * sf1 as ~2× the entire upstream cost against a few-thousand-row
    * join output. Same shape at 100 TB: stage the band table once
    * (there it's a persisted index — stream_ingest_dedup's build),
    * self-join the materialization, never the pipeline.
    */
  def candidates(docs: DataFrame, idCol: String, sigCol: String,
      numPerm: Int, rowsPerBand: Int): DataFrame = {
    val banded = bandKeys(docs, idCol, sigCol, numPerm, rowsPerBand)
      .localCheckpoint(true)
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      .distinct()
  }
}
