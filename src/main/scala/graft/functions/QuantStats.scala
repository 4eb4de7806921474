package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native min-max int8 quantization summary over a float/double vector:
  * `quant_stats(embedding, levels)` returns
  * `struct<v_min double, v_max double, code_sum bigint, code_possum bigint>`
  * where per-element codes are `floor((x−v_min)·levels/(v_max−v_min))`
  * (0 when the vector is flat) and the two checksums are the plain and
  * position-weighted (1-based) sums of the codes.
  *
  * Replaces the ~256-term unrolled projection `VectorOps.embeddingQuantize`
  * previously generated (two full `code(j)` expansions plus 64-term
  * `least`/`greatest` reduces) — the exact wide-generated-code shape that
  * drives JIT/code-cache accretion in a long-lived JVM. One tight
  * generated loop, ~64× less bytecode, bit-identical arithmetic:
  * - running min/max scanning ascending equals the left-associated
  *   `least`/`greatest` chains for non-NaN input (enforced: NaN throws);
  * - per-element code arithmetic is the same left-associated double
  *   expression `((x − min) · levels) / (max − min)`, floor, cast;
  * - the checksum sums are exact integer adds, order-insensitive.
  * Null array → null; empty array → null (no defined min/max); null or
  * NaN elements throw (corruption signal). `levels` must be a literal
  * positive integer — it parameterizes the generated code. */
case class QuantStats(child: Expression, levels: Int)
    extends UnaryExpression {
  require(levels > 0, s"quant_stats: levels must be positive, got $levels")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"quant_stats requires array<float> or array<double>, got ${t.catalogString}")
  }

  private def elementIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = StructType(Seq(
    StructField("v_min", DoubleType, nullable = false),
    StructField("v_max", DoubleType, nullable = false),
    StructField("code_sum", LongType, nullable = false),
    StructField("code_possum", LongType, nullable = false)))

  override def prettyName: String = "quant_stats"

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (n == 0) return null
    val isFloat = elementIsFloat
    def at(i: Int): Double = {
      require(!xs.isNullAt(i), s"quant_stats: null element at index $i")
      val v = if (isFloat) xs.getFloat(i).toDouble else xs.getDouble(i)
      require(!java.lang.Double.isNaN(v), s"quant_stats: NaN at index $i")
      v
    }
    var mn = at(0); var mx = mn
    var i = 1
    while (i < n) {
      val v = at(i)
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    var sum = 0L; var possum = 0L
    i = 0
    while (i < n) {
      val c =
        if (mx > mn) math.floor(((at(i) - mn) * levels.toDouble) / (mx - mn)).toLong
        else 0L
      sum += c
      possum += (i + 1).toLong * c
      i += 1
    }
    new GenericInternalRow(Array[Any](mn, mx, sum, possum))
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val mn = ctx.freshName("mn")
      val mx = ctx.freshName("mx")
      val v = ctx.freshName("v")
      val c = ctx.freshName("c")
      val sum = ctx.freshName("sum")
      val possum = ctx.freshName("possum")
      val vals = ctx.freshName("vals")
      val getter =
        if (elementIsFloat) s"(double) $xs.getFloat" else s"$xs.getDouble"
      val checkElem =
        s"""if ($xs.isNullAt($i)) {
           |  throw new IllegalArgumentException(
           |    "quant_stats: null element at index " + $i);
           |}""".stripMargin
      s"""
         |final int $n = $xs.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $mn = 0.0; double $mx = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $checkElem
         |    final double $v = $getter($i);
         |    if (Double.isNaN($v)) {
         |      throw new IllegalArgumentException(
         |        "quant_stats: NaN at index " + $i);
         |    }
         |    if ($i == 0) { $mn = $v; $mx = $v; }
         |    else {
         |      if ($v < $mn) $mn = $v;
         |      if ($v > $mx) $mx = $v;
         |    }
         |  }
         |  long $sum = 0L; long $possum = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $v = $getter($i);
         |    final long $c = ($mx > $mn)
         |      ? (long) Math.floor((($v - $mn) * ${levels}.0d) / ($mx - $mn))
         |      : 0L;
         |    $sum += $c;
         |    $possum += ((long) ($i + 1)) * $c;
         |  }
         |  Object[] $vals = new Object[4];
         |  $vals[0] = $mn; $vals[1] = $mx; $vals[2] = $sum; $vals[3] = $possum;
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow($vals);
         |}
       """.stripMargin
    })

  override def nullable: Boolean = true

  override protected def withNewChildInternal(
      newChild: Expression): QuantStats = copy(child = newChild)
}

object QuantStats {
  /** Builder from SQL children: `quant_stats(vec, levels)` — levels must
    * be a literal integer (it parameterizes the generated code); listed
    * in [[Natives]]. */
  def fromChildren(children: Seq[Expression]): QuantStats = {
    require(children.length == 2,
      s"quant_stats takes 2 arguments, got ${children.length}")
    val levels = children(1) match {
      case Literal(v: Int, IntegerType) => v
      case Literal(v: Long, LongType) =>
        // No silent toInt truncation: 2³²+255 would quantize with
        // levels=255 and produce wrong codes without a whisper.
        require(v >= Int.MinValue && v <= Int.MaxValue,
          s"quant_stats: levels literal $v out of int range")
        v.toInt
      case other => throw new IllegalArgumentException(
        s"quant_stats: levels must be a literal integer, got $other")
    }
    QuantStats(children.head, levels)
  }
}
