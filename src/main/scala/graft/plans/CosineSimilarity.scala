package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over two
  * `array<float>`/`array<double>` columns.
  *
  * Why an Expression and not `aggregate(zip_with(...))`: the functional
  * form allocates an intermediate product array per row and walks three
  * lambda closures; this kernel reads both arrays' primitive storage once,
  * with a fused dot/norm loop, and participates in whole-stage codegen via
  * `doGenCode` — the hot path of brute-force ANN is exactly this kernel
  * times |queries|·|corpus|. Semantics: dot/(sqrt(n_a)*sqrt(n_b)); null if
  * either side is null, or if any element of either array is null (matching
  * the `aggregate(zip_with(...))` functional form, where a null product
  * nulls the whole sum); error on length mismatch (mirrors zip_with's
  * strictness about intent, not silent truncation). The per-element null
  * check is compiled out entirely when both inputs declare
  * `containsNull=false`.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_similarity expects array<float|double>, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def mayHaveNullElems(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  override def nullable: Boolean =
    super.nullable || mayHaveNullElems(left) || mayHaveNullElems(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    require(y.numElements() == n,
      s"cosine_similarity: length mismatch $n vs ${y.numElements()}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    val lf = isFloat(left); val rf = isFloat(right)
    val checkNulls = mayHaveNullElems(left) || mayHaveNullElems(right)
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val getX = if (isFloat(left)) s"(double) $x.getFloat($i)" else s"$x.getDouble($i)"
      val getY = if (isFloat(right)) s"(double) $y.getFloat($i)" else s"$y.getDouble($i)"
      // Per-element null propagation (matches zip_with) — emitted only when
      // the input schema admits null elements, so clean data pays nothing.
      val nullCheck =
        if (mayHaveNullElems(left) || mayHaveNullElems(right))
          s"""if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }"""
        else ""
      s"""
         |final int $n = $x.numElements();
         |if ($y.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "cosine_similarity: length mismatch " + $n + " vs " + $y.numElements());
         |}
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  final double $xi = $getX;
         |  final double $yi = $getY;
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  import org.apache.spark.sql.graft.Bridge

  /** Column-level entry point (classic-mode Column↔Expression bridge). */
  def cosine(a: Column, b: Column): Column =
    Bridge.column(
      CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))
}
