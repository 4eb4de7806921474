package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, NumericType}

/** Native Catalyst dot product over two numeric arrays — the engine's one
  * custom `Expression`, used by every vector-similarity operator
  * (`graft.operators.VectorOps`), registered per session as `vec_dot`.
  *
  * Why an Expression and not a UDF or a higher-order function: a Scala
  * UDF boxes both arrays per row and is invisible to codegen; an
  * `aggregate`/`zip_with` lambda is evaluated INTERPRETED per element
  * (the round-4 bench's dominant cost); and the previous form — a
  * 64-term unrolled `element_at(a,j) * element_at(b,j)` sum — is
  * codegen'd but emits ~64 expressions per dot, which stacked into
  * megabytes of generated bytecode in multi-stage vector queries and
  * measurably degraded the JIT. This Expression emits ONE tight loop in
  * `doGenCode` (and runs the identical loop interpreted in `nullSafeEval`
  * as the fallback), so a plan can carry several dot stages with constant
  * generated-code size.
  *
  * Determinism contract (the property the DuckDB oracles rely on): the
  * loop accumulates strictly left-to-right in ascending element order —
  * exactly the evaluation order of the old left-associated unrolled sum
  * and of the generated `(a[1]*b[1] + a[2]*b[2] + …)` oracle SQL — so
  * results are bit-identical to both, element casts to double included.
  *
  * Nulls: a null ARRAY yields null (BinaryExpression's null-intolerant
  * default). Null ELEMENTS are not expected in embedding data and are
  * rejected loudly (the old `element_at` form would have returned null
  * silently); length mismatch likewise throws — both are data-corruption
  * signals at 100 TB, not cases to paper over. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isNumericArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isNumericArray(left.dataType) && isNumericArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires array<float|double> inputs, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  override def dataType: DataType = DoubleType

  override def prettyName: String = "vec_dot"

  private def elemType(e: Expression): NumericType =
    e.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[NumericType]

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (xs, ys) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = xs.numElements()
    require(ys.numElements() == n,
      s"vec_dot: length mismatch ${xs.numElements()} vs ${ys.numElements()}")
    val (lt, rt) = (elemType(left), elemType(right))
    var acc = 0.0
    var i = 0
    while (i < n) {
      require(!xs.isNullAt(i) && !ys.isNullAt(i),
        s"vec_dot: null element at index $i")
      val x = lt match {
        case FloatType => xs.getFloat(i).toDouble
        case _ => xs.getDouble(i)
      }
      val y = rt match {
        case FloatType => ys.getFloat(i).toDouble
        case _ => ys.getDouble(i)
      }
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    def get(arr: String, i: String, t: NumericType): String = t match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }
    val (lt, rt) = (elemType(left), elemType(right))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "vec_dot: length mismatch " + $n + " vs " + $b.numElements());
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |    throw new IllegalArgumentException(
         |      "vec_dot: null element at index " + $i);
         |  }
         |  $acc += ${get(a, i, lt)} * ${get(b, i, rt)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Builder from SQL children: `vec_dot(a, b)` ([[Natives]]). */
  def fromChildren(children: Seq[Expression]): DotProduct = {
    require(children.length == 2,
      s"vec_dot takes 2 arguments, got ${children.length}")
    DotProduct(children.head, children(1))
  }
}
