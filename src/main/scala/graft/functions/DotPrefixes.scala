package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, NumericType}

/** Native PREFIX dot products over two numeric arrays — ONE fused loop
  * that emits the running dot product at each requested checkpoint
  * (`vec_dot_prefixes(a, b, '8,16,32,64')` → array<double> of the four
  * partial sums). Built for the matryoshka-truncation audit
  * (`graft.operators.VectorOps.matryoshkaRecall`): the compositional
  * form — `vec_dot(slice(a,1,k), slice(b,1,k))` per k — allocates two
  * sliced copies of both arrays per checkpoint per pair and re-reads
  * the shared prefix k times, which made that audit the slowest query
  * in the bench (4.08 s at sf0.1); the fused loop reads each element
  * once, allocates one small output array, and stays inside
  * whole-stage codegen.
  *
  * Determinism contract (what the DuckDB oracles rely on): the single
  * accumulator adds strictly left-to-right in ascending element order,
  * so the value at checkpoint k is BIT-IDENTICAL to `vec_dot` over the
  * k-prefix and to the generated left-associated
  * `(a[1]*b[1] + … + a[k]*b[k])` oracle SQL.
  *
  * Nulls/lengths: same loud-failure posture as [[DotProduct]] — null
  * arrays yield null (null-intolerant BinaryExpression), null elements
  * and arrays shorter than the last checkpoint throw (data corruption
  * at scale, not a case to paper over). */
case class DotPrefixes(left: Expression, right: Expression, ks: Seq[Int])
    extends BinaryExpression {

  require(ks.nonEmpty && ks == ks.sorted && ks.head > 0 &&
    ks.distinct == ks,
    s"vec_dot_prefixes checkpoints must be positive, strictly " +
      s"ascending: $ks")

  private def isNumericArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isNumericArray(left.dataType) && isNumericArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"vec_dot_prefixes requires array<float|double> inputs, got " +
          s"${left.dataType.catalogString} and " +
          s"${right.dataType.catalogString}")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "vec_dot_prefixes"

  private def elemType(e: Expression): NumericType =
    e.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[NumericType]

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (xs, ys) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = ks.last
    require(xs.numElements() >= n && ys.numElements() >= n,
      s"vec_dot_prefixes: arrays shorter than last checkpoint $n " +
        s"(${xs.numElements()}, ${ys.numElements()})")
    val (lt, rt) = (elemType(left), elemType(right))
    val out = new Array[Double](ks.length)
    var acc = 0.0
    var i = 0
    var j = 0
    while (i < n) {
      require(!xs.isNullAt(i) && !ys.isNullAt(i),
        s"vec_dot_prefixes: null element at index $i")
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
      if (i == ks(j)) { out(j) = acc; j += 1 }
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    def get(arr: String, i: String, t: NumericType): String = t match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }
    val (lt, rt) = (elemType(left), elemType(right))
    val gad = classOf[GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val out = ctx.freshName("out")
      val n = ks.last
      // Unrolled segment loops: each checkpoint closes its segment with
      // one store — no per-iteration checkpoint branch.
      val segments = ks.zipWithIndex.map { case (k, idx) =>
        s"""for (; $i < $k; $i++) {
           |  if ($a.isNullAt($i) || $b.isNullAt($i)) {
           |    throw new IllegalArgumentException(
           |      "vec_dot_prefixes: null element at index " + $i);
           |  }
           |  $acc += ${get(a, i, lt)} * ${get(b, i, rt)};
           |}
           |$out[$idx] = $acc;""".stripMargin
      }.mkString("\n")
      s"""
         |if ($a.numElements() < $n || $b.numElements() < $n) {
         |  throw new IllegalArgumentException(
         |    "vec_dot_prefixes: arrays shorter than last checkpoint $n ("
         |      + $a.numElements() + ", " + $b.numElements() + ")");
         |}
         |double $acc = 0.0;
         |double[] $out = new double[${ks.length}];
         |int $i = 0;
         |$segments
         |${ev.value} = new $gad($out);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotPrefixes =
    copy(left = newLeft, right = newRight)
}

object DotPrefixes {
  /** Builder from SQL children: `vec_dot_prefixes(a, b, 'k1,k2,…')` — the
    * checkpoint list rides as a foldable string literal, parsed once at
    * resolution time ([[Natives]]). */
  def fromChildren(children: Seq[Expression]): DotPrefixes = {
    require(children.length == 3,
      s"vec_dot_prefixes takes 3 arguments, got ${children.length}")
    require(children(2).foldable,
      "vec_dot_prefixes checkpoints must be a literal string")
    val ks = children(2).eval().toString
      .split(",").map(_.trim.toInt).toSeq
    DotPrefixes(children.head, children(1), ks)
  }
}
