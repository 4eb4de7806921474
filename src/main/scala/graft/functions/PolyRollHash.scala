package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}

/** Native polynomial rolling hash over a position-sorted
  * `array<struct<pos, h>>`: folds `acc = (acc·base + h) mod m` in array
  * order — the order-SENSITIVE fingerprint of
  * `TextOps.rollingFingerprints`. Replaces the `aggregate(...)`
  * higher-order function, whose lambda evaluates INTERPRETED per
  * element (tokens × docs interpreted steps — the same cost class the
  * round-4 bench died on, resurfacing as multi-second jitter once the
  * bench JVM carried enough generated code). One tight generated loop;
  * `base`/`mod` arrive as literals from the caller so the constants
  * stay single-sourced with the generated oracle SQL.
  *
  * Intermediate values stay < 2⁵² for the engine's base/mod choice
  * (mod ≈ 2³¹, base ≈ 2²⁰), so 64-bit arithmetic is exact — identical
  * to the oracle's `list_reduce` fold. Null elements throw (corruption
  * signal); a null array yields null. */
case class PolyRollHash(child: Expression, base: Long, mod: Long)
    extends UnaryExpression {

  // The fold reads ordinal 1, so the field LAYOUT matters, not just the
  // types: struct<h,pos> with the fields swapped would silently fold
  // positions. Require the hash field to be NAMED `h` at ordinal 1 —
  // a swapped struct fails analysis instead of fingerprinting garbage.
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _)
        if s.length == 2 && s.fields(1).name == "h" &&
          s.fields(1).dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"poly_roll requires array<struct<pos, h: bigint>> (hash field " +
        s"named 'h' at ordinal 1), got ${t.catalogString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "poly_roll"

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      require(!xs.isNullAt(i), s"poly_roll: null element at index $i")
      val h = xs.getStruct(i, 2).getLong(1)
      // Java % returns negative for negative operands, diverging from the
      // oracle's non-negative fold — reject rather than silently differ.
      require(h >= 0L, s"poly_roll: negative hash $h at index $i")
      acc = (acc * base + h) % mod
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val h = ctx.freshName("h")
      s"""
         |final int $n = $xs.numElements();
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($xs.isNullAt($i)) {
         |    throw new IllegalArgumentException(
         |      "poly_roll: null element at index " + $i);
         |  }
         |  final long $h = $xs.getStruct($i, 2).getLong(1);
         |  if ($h < 0L) {
         |    throw new IllegalArgumentException(
         |      "poly_roll: negative hash " + $h + " at index " + $i);
         |  }
         |  $acc = ($acc * ${base}L + $h) % ${mod}L;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): PolyRollHash = copy(child = newChild)
}

object PolyRollHash {
  /** Builder from SQL children: `poly_roll(arr, baseL, modL)` — base and
    * mod must be literal integers (they parameterize the generated code);
    * listed in [[Natives]]. */
  def fromChildren(children: Seq[Expression]): PolyRollHash = {
    require(children.length == 3,
      s"poly_roll takes 3 arguments, got ${children.length}")
    def lit(e: Expression, what: String): Long = e match {
      case Literal(v: Long, LongType) => v
      case Literal(v: Int, _) => v.toLong
      case other => throw new IllegalArgumentException(
        s"poly_roll: $what must be a literal integer, got $other")
    }
    PolyRollHash(children.head,
      lit(children(1), "base"), lit(children(2), "mod"))
  }
}
