package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Times the native expressions (graft_dot, graft_minhash_sig,
  * graft_md5_prefix) beside the built-in expression each one replaces,
  * on the seed's own embeddings and documents. The built-in side runs
  * with the two rewrite rules removed from the session, so it is not
  * turned back into the native expression; both sides must agree.
  */
object ExprProbe {
  private val Reps = 3

  private def timed(df: DataFrame): (Double, Any) = {
    val t0 = System.nanoTime()
    val v = df.collect().head.get(0)
    ((System.nanoTime() - t0).toDouble, v)
  }

  /** median ns per row of `agg` over `rows`, and the aggregate's value */
  private def nsPerRow(base: DataFrame, rows: Long, agg: Column): (Double, Any) = {
    val df = base.agg(agg)
    val runs = (1 to Reps).map(_ => timed(df))
    val ns = runs.map(_._1).sorted
    (ns(ns.length / 2) / rows, runs.head._2)
  }

  private def withoutRewrites[T](spark: SparkSession)(f: => T): T = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = saved.filterNot(r =>
      r == graft.plans.RewriteHofDot || r == graft.plans.RewriteMd5Prefix)
    try f finally spark.experimental.extraOptimizations = saved
  }

  /** (metrics, mismatches) — a mismatch names an expression whose
    * native and built-in results differ. */
  def run(spark: SparkSession, input: String, cores: Int): (Map[String, Double], Seq[String]) = {
    def replicated(df: DataFrame, target: Long): (DataFrame, Long) = {
      val n = math.max(1L, df.count())
      val copies = math.max(1L, target / n)
      val out = df.crossJoin(spark.range(copies).toDF("copy_"))
        .drop("copy_").repartition(cores).cache()
      (out, out.count())
    }
    val (vecs, vecRows) = replicated(
      spark.read.parquet(s"$input/embeddings.parquet")
        .select(transform(col("embedding"), _.cast("double")).as("v")), 100000L)
    val docs = spark.read.parquet(s"$input/documents.parquet")
    val (texts, textRows) = replicated(docs.select(col("text")), 100000L)
    val (shingles, shingleRows) = replicated(docs.select(
      transform(array_distinct(split(lower(col("text")), "\\s+")), xxhash64(_)).as("h")),
      20000L)
    val numPerm = 16
    val P = graft.ops.MinHashLSH.P
    val builtinSig = array((0 until numPerm).map { i =>
      val (a, b) = graft.ops.MinHashLSH.coef(i)
      array_min(transform(col("h"), x => pmod(pmod(x, lit(P)) * a + b, lit(P))))
    }: _*)
    val dotBuiltin = aggregate(zip_with(col("v"), col("v"), _ * _), lit(0.0), _ + _)
    val md5Builtin = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("bigint")

    val probes = Seq(
      ("dot", vecs, vecRows,
        sum(call_function("graft_dot", col("v"), col("v"))), sum(dotBuiltin)),
      ("minhash", shingles, shingleRows,
        sum(hash(call_function("graft_minhash_sig", col("h"), lit(numPerm)))),
        sum(hash(builtinSig))),
      ("md5_prefix", texts, textRows,
        sum(hash(call_function("graft_md5_prefix", col("text"), lit(15)))),
        sum(hash(md5Builtin))))
    val mismatches = Seq.newBuilder[String]
    val metrics = probes.flatMap { case (name, base, rows, native, builtin) =>
      val (nNs, nV) = nsPerRow(base, rows, native)
      val (bNs, bV) = withoutRewrites(spark)(nsPerRow(base, rows, builtin))
      if (nV != bV) mismatches += s"$name: native=$nV builtin=$bV"
      Seq(s"expr.${name}_ns_per_row" -> nNs, s"expr.${name}_builtin_ns_per_row" -> bNs)
    }.toMap
    Seq(vecs, texts, shingles).foreach(_.unpersist())
    (metrics, mismatches.result())
  }
}
