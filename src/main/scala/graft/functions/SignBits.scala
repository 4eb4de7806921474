package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native sign-bit band packer — `sign_bits(arr, start, len)` packs the
  * strict-positive signs of `len` consecutive elements (0-based `start`)
  * of a float/double array into an INT, bit k set iff
  * `arr[start + k] > 0`. This is the binary-quantization kernel of the
  * Hamming ANN path (`VectorOps.annMihTop1`): at corpus scale it runs
  * once per vector per band, and the `aggregate()` higher-order form it
  * replaces evaluates an interpreted lambda per ELEMENT — the same
  * per-element interpretation cost that motivated [[DotProduct]].
  * `doGenCode` emits one tight loop; `nullSafeEval` runs the identical
  * loop interpreted as the fallback.
  *
  * Determinism contract: bit k depends only on the strict `> 0`
  * comparison (zero and negative both clear — matching the oracle's
  * `CASE WHEN e > 0` exactly); no arithmetic accumulates, so there is
  * no ordering concern at all.
  *
  * Nulls/corruption: null ARRAY yields null (null-intolerant default);
  * a null element or an out-of-range window throws — both are
  * data-corruption signals, not cases to paper over. `start`/`len`
  * must be foldable non-negative ints with `len ≤ 31` (the result is a
  * positive INT; a 64-bit variant would hit BIGINT sign pitfalls the
  * band decomposition exists to avoid). */
case class SignBits(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  private def isNumericArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (!isNumericArray(first.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"sign_bits requires an array<float|double> input, got " +
          first.dataType.catalogString)
    else if (second.dataType != IntegerType || !second.foldable ||
      third.dataType != IntegerType || !third.foldable)
      TypeCheckResult.TypeCheckFailure(
        "sign_bits requires foldable INT start and len")
    else {
      // eval() before unboxing: a foldable NULL int (CAST(NULL AS INT))
      // would unbox to 0 and silently pass the range check below.
      (second.eval(), third.eval()) match {
        case (null, _) | (_, null) =>
          TypeCheckResult.TypeCheckFailure(
            "sign_bits requires non-null start and len")
        case (startRaw, lenRaw) =>
          val start = startRaw.asInstanceOf[Int]
          val len = lenRaw.asInstanceOf[Int]
          if (start < 0 || len < 0 || len > 31)
            TypeCheckResult.TypeCheckFailure(
              s"sign_bits requires 0 <= start and 0 <= len <= 31, " +
                s"got start=$start len=$len")
          else TypeCheckResult.TypeCheckSuccess
      }
    }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "sign_bits"

  private def isFloat: Boolean =
    first.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, s: Any, l: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val start = s.asInstanceOf[Int]
    val len = l.asInstanceOf[Int]
    require(start + len <= arr.numElements(),
      s"sign_bits: window [$start, ${start + len}) exceeds " +
        s"${arr.numElements()} elements")
    var bits = 0
    var k = 0
    while (k < len) {
      val i = start + k
      require(!arr.isNullAt(i), s"sign_bits: null element at index $i")
      val positive =
        if (isFloat) arr.getFloat(i) > 0f else arr.getDouble(i) > 0d
      if (positive) bits |= 1 << k
      k += 1
    }
    bits
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val get =
      if (isFloat) (arr: String, i: String) => s"$arr.getFloat($i) > 0f"
      else (arr: String, i: String) => s"$arr.getDouble($i) > 0d"
    nullSafeCodeGen(ctx, ev, (a, s, l) => {
      val bits = ctx.freshName("bits")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      s"""
         |if ($s + $l > $a.numElements()) {
         |  throw new IllegalArgumentException(
         |    "sign_bits: window [" + $s + ", " + ($s + $l) +
         |      ") exceeds " + $a.numElements() + " elements");
         |}
         |int $bits = 0;
         |for (int $k = 0; $k < $l; $k++) {
         |  final int $i = $s + $k;
         |  if ($a.isNullAt($i)) {
         |    throw new IllegalArgumentException(
         |      "sign_bits: null element at index " + $i);
         |  }
         |  if (${get(a, i)}) $bits |= 1 << $k;
         |}
         |${ev.value} = $bits;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): SignBits =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object SignBits {
  def fromChildren(children: Seq[Expression]): SignBits = {
    require(children.length == 3,
      s"sign_bits takes 3 arguments, got ${children.length}")
    SignBits(children.head, children(1), children(2))
  }
}
