package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Native Catalyst expression: the first `nibbles` hex digits of
  * `md5(child)` as an unsigned BIGINT — the repo's portable
  * cross-engine hash (TextOps.md5Long / md5Short), computed straight
  * from the digest bytes.
  *
  * The declarative spelling `conv(substring(md5(x), 1, n), 16, 10)
  * :: long` pays, per row: a 32-char hex ENCODE of the digest
  * (UTF8String alloc), a substring copy, conv's base-16 string PARSE
  * into an intermediate decimal STRING, and a final string-to-long
  * cast. All of that round-trips bytes the digest already holds:
  * `n` nibbles are just the top 4·n bits. This expression folds them
  * directly (value identical for n ≤ 15 — 60 bits never sets the sign
  * bit) and stays inside whole-stage codegen via a static helper, so
  * md5-bound scans (minhash's 16 permutations per shingle, simhash's
  * per-token hash, the Bloom/HLL/KMV probe digests) skip four string
  * allocations per hash. Installed by [[graft.plans.RewriteMd5Prefix]]
  * so every declarative call site upgrades with zero query edits.
  */
case class Md5PrefixLong(child: Expression, nibbles: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_md5_prefix expects a binary input, got ${child.dataType}")
    else if (nibbles < 1 || nibbles > 15)
      TypeCheckResult.TypeCheckFailure(
        s"graft_md5_prefix nibbles must be in [1, 15], got $nibbles")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_prefix"

  override protected def nullSafeEval(input: Any): Any =
    Md5PrefixLong.md5Prefix(input.asInstanceOf[Array[Byte]], nibbles)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expr.Md5PrefixLong.md5Prefix($c, $nibbles)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5PrefixLong {
  // per-thread digest instance: DigestUtils.md5 would pay a JCA
  // provider lookup + allocation PER ROW — the very cost this
  // expression exists to remove. digest(byte[]) resets the instance.
  private val md = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Value of the first `nibbles` hex digits of md5(in), i.e. the top
    * 4·nibbles bits of the digest. Called from generated code via the
    * companion's static forwarder.
    */
  def md5Prefix(in: Array[Byte], nibbles: Int): Long = {
    val d = md.get().digest(in)
    var v = 0L
    var i = 0
    while (i < nibbles) {
      val nib = if ((i & 1) == 0) (d(i >> 1) >> 4) & 0xf else d(i >> 1) & 0xf
      v = (v << 4) | nib
      i += 1
    }
    v
  }
}
