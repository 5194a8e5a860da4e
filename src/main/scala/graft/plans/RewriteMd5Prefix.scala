package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Expression,
  Literal, Md5, Substring}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.expr.Md5PrefixLong

/** Optimizer rule (SURVEY.md §7.3 tier-c, the [[RewriteHofDot]]
  * pattern): rewrite the portable-hash chain
  * `CAST(conv(substring(md5(x), 1, n), 16, 10) AS BIGINT/INT)` into
  * the native [[Md5PrefixLong]].
  *
  * The chain is the repo's one cross-engine hash device
  * (TextOps.md5Long / md5Short and the SQL-text spellings that parse
  * to the same tree), so it sits under every dedup shingle hash,
  * all 16 minhash permutations, simhash's per-token hash and the
  * Bloom/HLL/KMV probe digests. Each application pays four string
  * allocations per hash to round-trip bytes the digest already holds;
  * the native expression folds the top 4·n bits out of the digest
  * inside whole-stage codegen. Values are identical by construction:
  * hex digit i of the digest IS bits [4i, 4i+4), and n ≤ 15 keeps the
  * result under 2^60, exactly the unsigned value conv parses (the
  * IntegerType arm re-casts the same long, matching the original
  * string-to-int cast for the ≤ 2^16 md5Short values).
  *
  * Match discipline: substring must start at position 1 with a
  * literal length in [1, 15], conv must be literal base 16 → 10, and
  * the enclosing cast must target BIGINT, or INT with n ≤ 7 (n ≥ 8
  * can exceed Int range, where the legacy string→int cast returns
  * NULL but a long→int cast would WRAP — that arm must keep the
  * string semantics). Anything else — other offsets, dynamic
  * lengths, other bases — keeps the string semantics. Installed alongside RewriteHofDot by
  * `GraftFunctions.register` and `GraftExtensions`; an A/B against the
  * string chain takes the rule out of the session's extraOptimizations.
  */
object RewriteMd5Prefix extends Rule[LogicalPlan] {

  private object HashChain {
    def unapply(e: Expression): Option[(Expression, Int)] = e match {
      case Conv(
          Substring(Md5(bin), Literal(1, IntegerType), Literal(n: Int, IntegerType)),
          Literal(16, IntegerType), Literal(10, IntegerType), _)
          if n >= 1 && n <= 15 =>
        Some((bin, n))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Cast(HashChain(bin, n), LongType, _, _) =>
        Md5PrefixLong(bin, n)
      case c @ Cast(HashChain(bin, n), IntegerType, _, _) if n <= 7 =>
        c.copy(child = Md5PrefixLong(bin, n))
    }
}
