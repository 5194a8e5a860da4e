package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expr.DotProduct

/** SparkSessionExtensions entry point: registers graft's native
  * expressions so SQL users get them too
  * (`--conf spark.sql.extensions=graft.GraftExtensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.dotDescriptor)
    ext.injectFunction(GraftFunctions.bloomAggDescriptor)
    ext.injectFunction(GraftFunctions.bloomContainsDescriptor)
    ext.injectFunction(GraftFunctions.md5PrefixDescriptor)
    ext.injectFunction(GraftFunctions.minHashSigDescriptor)
    ext.injectOptimizerRule(_ => graft.plans.RewriteHofDot)
    ext.injectOptimizerRule(_ => graft.plans.RewriteMd5Prefix)
  }
}

object GraftFunctions {
  private def build(args: Seq[Expression]): Expression = {
    require(args.length == 2, "graft_dot takes exactly 2 arguments")
    DotProduct(args.head, args(1))
  }

  /** constant-int argument extraction for the graft_* descriptors
    * (r14 ADVICE): accept any FOLDABLE int/long expression — a SQL
    * caller writing `graft_minhash_sig(h, 16L)` or an un-folded
    * `8 * 2` deserves the same treatment as the literal 16 — and
    * surface violations as standard AnalysisExceptions: a genuinely
    * non-constant argument raises NON_FOLDABLE_ARGUMENT (the class
    * Spark's own constant-argument functions raise), while a foldable
    * argument that folds to NULL or to a non-integral value raises the
    * matching DATATYPE_MISMATCH condition instead (r15 ADVICE —
    * calling a NULL literal "non-foldable" pointed users at the wrong
    * fix).
    */
  private def foldableInt(funcName: String, paramName: String,
      e: Expression): Int = {
    if (!e.foldable)
      throw new org.apache.spark.sql.AnalysisException(
        "NON_FOLDABLE_ARGUMENT", Map(
          "funcName" -> s"`$funcName`",
          "paramName" -> s"`$paramName`",
          "paramType" -> "\"INT\""))
    e.eval() match {
      case i: Int => i
      case l: Long if l >= Int.MinValue && l <= Int.MaxValue => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case null =>
        throw new org.apache.spark.sql.AnalysisException(
          "DATATYPE_MISMATCH.UNEXPECTED_NULL", Map(
            "sqlExpr" -> s"\"$funcName\"",
            "exprName" -> s"`$paramName`"))
      case other =>
        throw new org.apache.spark.sql.AnalysisException(
          "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", Map(
            "sqlExpr" -> s"\"$funcName\"",
            "paramIndex" -> s"`$paramName`",
            "requiredType" -> "\"INT\"",
            "inputSql" -> s"\"${e.sql}\"",
            "inputType" -> s"\"${e.dataType.sql}\""))
    }
  }

  /** Spark's Bloom-filter aggregate/probe pair exists in catalyst (it
    * powers runtime row-group filtering) but is NOT in the public
    * FunctionRegistry — surface it for the join-pruning pattern a
    * 100 TB build side wants (ship a ~100 KB filter, not a shuffle).
    */
  private def buildBloomAgg(args: Seq[Expression]): Expression = {
    require(args.length == 3, "graft_bloom_agg(col, estItems, numBits)")
    new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      args.head, args(1), args(2)).toAggregateExpression()
  }

  private def buildBloomContains(args: Seq[Expression]): Expression = {
    require(args.length == 2, "graft_might_contain(bloom, value)")
    org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      args.head, args(1))
  }

  /** the native 60-bit portable hash for SQL users: the DataFrame
    * layer reaches it through [[graft.plans.RewriteMd5Prefix]], but a
    * SQL caller should not have to spell the conv(substring(md5))
    * chain to get the codegen'd digest fold. nibbles must be a
    * literal int in [1, 15] (checked by the expression itself).
    */
  private def buildMd5Prefix(args: Seq[Expression]): Expression = {
    require(args.length == 2, "graft_md5_prefix(col, nibblesLiteral)")
    val n = foldableInt("graft_md5_prefix", "nibbles", args(1))
    graft.expr.Md5PrefixLong(
      org.apache.spark.sql.catalyst.expressions.Cast(
        args.head, org.apache.spark.sql.types.BinaryType), n)
  }

  val dotDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      build)

  val bloomAggDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        "org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate",
        "graft_bloom_agg"),
      buildBloomAgg)

  val bloomContainsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        "org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain",
        "graft_might_contain"),
      buildBloomContains)

  val md5PrefixDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_md5_prefix"),
      new ExpressionInfo(classOf[graft.expr.Md5PrefixLong].getName,
        "graft_md5_prefix"),
      buildMd5Prefix)

  /** the one-pass MinHash signature (all permutations per element, no
    * per-permutation intermediate arrays); numPerm must be a literal.
    */
  private def buildMinHashSig(args: Seq[Expression]): Expression = {
    require(args.length == 2, "graft_minhash_sig(hashes, numPermLiteral)")
    graft.expr.MinHashSig(args.head,
      foldableInt("graft_minhash_sig", "numPerm", args(1)))
  }

  val minHashSigDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[graft.expr.MinHashSig].getName,
        "graft_minhash_sig"),
      buildMinHashSig)

  /** Idempotent per-session registration, for sessions created without
    * the extensions conf (e.g. the driver's own harness session).
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_dot", build, "built-in")
    reg.createOrReplaceTempFunction("graft_bloom_agg", buildBloomAgg, "built-in")
    reg.createOrReplaceTempFunction("graft_might_contain", buildBloomContains, "built-in")
    reg.createOrReplaceTempFunction("graft_md5_prefix", buildMd5Prefix, "built-in")
    reg.createOrReplaceTempFunction("graft_minhash_sig", buildMinHashSig, "built-in")
    // the HOF-dot and md5-prefix rewrites ride along with function
    // registration so every harness session gets them (an A/B against
    // the built-in forms takes them out of extraOptimizations).
    // check-then-append is raced under concurrent query builders (dotCol
    // calls register per column), so serialize on the experimental
    // methods object — idempotent for real
    spark.experimental.synchronized {
      val have = spark.experimental.extraOptimizations
      val missing = Seq(graft.plans.RewriteHofDot, graft.plans.RewriteMd5Prefix)
        .filterNot(have.contains)
      if (missing.nonEmpty) spark.experimental.extraOptimizations = have ++ missing
    }
  }

  /** graft_dot as a Column for the DataFrame DSL (routes through the
    * registry so both DSL and SQL share one implementation).
    */
  def dotCol(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_dot", a, b)
  }
}
