package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's md5-derived portable text
  * hashes (SURVEY.md §2.9 fingerprinting).
  *
  * Why Expressions and not the functions-API forms they replace:
  *  - `conv(substring(md5(t), 1, 15), 16, 10)` materializes a 32-char hex
  *    string, substrings it, and runs a string base-conversion — three
  *    string allocations per value to extract 60 bits that the digest
  *    already holds. [[TokenHash60]] reads them straight off the digest.
  *  - `aggregate(split(text), 0L, (acc, t) => pmod(...md5(t)...))` is a
  *    higher-order function: the lambda is interpreted per token (no
  *    whole-stage codegen, no common-subexpression elimination), which made
  *    the rolling-fingerprint and SimHash pipelines hash-bound at sf0.1.
  *    [[RollingTokenHash]] folds the whole document in one fused JVM loop
  *    and participates in codegen via `doGenCode`.
  *
  * Portability contract (what makes these oracle-checkable cross-engine):
  * the value is defined by the md5 hex digest — `TokenHash60(t)` equals
  * DuckDB's `('0x' || substr(md5(t),1,15))::BIGINT` for every UTF-8 string,
  * and the rolling fold equals `list_reduce(list_transform(...), ...)` over
  * the same tokens. Both are pure per-row compute: no shuffle, scales
  * linearly with partitions.
  */
object TextHash {

  private val P = 1000000007L
  private val B = 1000003L

  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Top 60 bits of md5(bytes[from, until)) — identical to interpreting the
    * first 15 hex chars of the digest as a base-16 number.
    */
  private[plans] def md5Top60(bytes: Array[Byte], from: Int, until: Int): Long = {
    val d = mdLocal.get()
    d.reset()
    d.update(bytes, from, until - from)
    val digest = d.digest()
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    v >>> 4 // drop the low nibble of byte 7: 15 hex chars = 60 bits
  }

  /** Static entry point used by both interpreted eval and generated code. */
  def hash60(s: UTF8String): Long = {
    val b = s.getBytes
    md5Top60(b, 0, b.length)
  }

  /** Polynomial rolling hash over single-space-split tokens:
    * fold(acc, t) = (acc·B + hash60(t)) mod P, acc₀ = 0.
    *
    * Tokenization matches Spark's `split(text, " ")` (Java regex semantics,
    * limit −1): empty tokens from leading/double/trailing spaces are kept,
    * and the empty string yields one empty token. Splitting on the raw
    * UTF-8 bytes is safe because 0x20 never occurs inside a multi-byte
    * UTF-8 sequence. No overflow: acc < P < 2³⁰, so acc·B + h < 2⁵⁰ + 2⁶⁰.
    */
  def roll(s: UTF8String): Long = {
    val bytes = s.getBytes
    val n = bytes.length
    var acc = 0L
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        acc = (acc * B + md5Top60(bytes, start, i)) % P
        start = i + 1
      }
      i += 1
    }
    acc
  }
}

/** 60-bit md5-derived token hash: `TokenHash60(t)` ==
  * `conv(substring(md5(t), 1, 15), 16, 10)` as a long, without the hex
  * round-trip. See [[TextHash]] for the portability contract.
  */
case class TokenHash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_hash60 expects string, got ${child.dataType.catalogString}")

  override def nullSafeEval(s: Any): Any =
    TextHash.hash60(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextHash.hash60($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenHash60 =
    copy(child = newChild)
}

/** Order-sensitive document fingerprint: the [[TextHash]] polynomial fold
  * over single-space tokens, as one codegen'd kernel per row.
  */
case class RollingTokenHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_token_hash expects string, got ${child.dataType.catalogString}")

  override def nullSafeEval(s: Any): Any =
    TextHash.roll(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextHash.roll($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingTokenHash =
    copy(child = newChild)
}

object TokenHash60 {
  import org.apache.spark.sql.graft.Bridge

  def tokenHash60(t: Column): Column =
    Bridge.column(TokenHash60(Bridge.expression(t)))

  def rollingTokenHash(text: Column): Column =
    Bridge.column(RollingTokenHash(Bridge.expression(text)))
}
