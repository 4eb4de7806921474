package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native random-hyperplane sign-bit packer — `rp_bits(arr, band, len)`
  * packs the signs of `len` consecutive HYPERPLANE PROJECTIONS of a
  * 64-dim float/double array into an INT: bit i is set iff
  * `Σ_j s(band·len+i, j) · arr[j] > 0`, where the ±1 hyperplane
  * component `s(h, j)` is bit j of the md5-derived mask
  * [[RandProj.Masks]]`(h)`. This is Charikar's random-hyperplane LSH
  * (STOC 2002) fused with the [[SignBits]] band layout: where
  * `sign_bits` can only emit one bit per RAW dimension (64 bits max at
  * `Dim`=64), `rp_bits` draws up to [[RandProj.MaxPlanes]] deterministic
  * pseudo-random hyperplanes — the longer binary codes (128-256 bits)
  * that lift the MIH candidate-coverage ceiling the 64-bit codes hit
  * (measured 0.154 recall@1 at sf0.01, `VectorOps.annMihRerankTop1`).
  *
  * Determinism contract: each projection accumulates in DOUBLE in
  * strict ascending-j order starting from the j=0 term — mirrored
  * term-for-term by the generated oracle's left-associated 64-term
  * chain — so the sum is bit-identical cross-engine and the strict
  * `> 0` threshold carries no rounding hazard. Sign application is
  * `acc += x` / `acc -= x` (exact negation, no multiply).
  *
  * Nulls/corruption: null ARRAY yields null (null-intolerant default);
  * a null element or a non-64-element array throws — data-corruption
  * signals, not cases to paper over. `band`/`len` must be foldable
  * non-negative ints with `len ≤ 31` and the plane window inside
  * [[RandProj.MaxPlanes]]. */
case class RpBits(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  private def isNumericArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (!isNumericArray(first.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"rp_bits requires an array<float|double> input, got " +
          first.dataType.catalogString)
    else if (second.dataType != IntegerType || !second.foldable ||
      third.dataType != IntegerType || !third.foldable)
      TypeCheckResult.TypeCheckFailure(
        "rp_bits requires foldable INT band and len")
    else {
      // eval() before unboxing: a foldable NULL int would unbox to 0
      // and silently pass the range check below (the SignBits guard).
      (second.eval(), third.eval()) match {
        case (null, _) | (_, null) =>
          TypeCheckResult.TypeCheckFailure(
            "rp_bits requires non-null band and len")
        case (bandRaw, lenRaw) =>
          val band = bandRaw.asInstanceOf[Int]
          val len = lenRaw.asInstanceOf[Int]
          if (band < 0 || len < 0 || len > 31 ||
            (band + 1).toLong * len > RandProj.MaxPlanes)
            TypeCheckResult.TypeCheckFailure(
              s"rp_bits requires 0 <= band, 0 <= len <= 31, " +
                s"(band+1)*len <= ${RandProj.MaxPlanes}, " +
                s"got band=$band len=$len")
          else TypeCheckResult.TypeCheckSuccess
      }
    }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "rp_bits"

  private def isFloat: Boolean =
    first.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any, l: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val band = b.asInstanceOf[Int]
    val len = l.asInstanceOf[Int]
    require(arr.numElements() == RandProj.Dims,
      s"rp_bits: expected ${RandProj.Dims}-element array, got " +
        s"${arr.numElements()}")
    var i = 0
    while (i < RandProj.Dims) {
      require(!arr.isNullAt(i), s"rp_bits: null element at index $i")
      i += 1
    }
    def elem(j: Int): Double =
      if (isFloat) arr.getFloat(j).toDouble else arr.getDouble(j)
    var bits = 0
    var k = 0
    while (k < len) {
      val mask = RandProj.Masks(band * len + k)
      var acc = if ((mask & 1L) == 1L) elem(0) else -elem(0)
      var j = 1
      while (j < RandProj.Dims) {
        val x = elem(j)
        if (((mask >>> j) & 1L) == 1L) acc += x else acc -= x
        j += 1
      }
      if (acc > 0d) bits |= 1 << k
      k += 1
    }
    bits
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val masksRef = ctx.addReferenceObj("rpMasks", RandProj.Masks, "long[]")
    val get =
      if (isFloat) (arr: String, i: String) => s"(double) $arr.getFloat($i)"
      else (arr: String, i: String) => s"$arr.getDouble($i)"
    // The packer body is emitted as its OWN private method, not inlined
    // at the call site: a 32-band projection inlines 32 of these loop
    // blocks into one whole-stage method, whose bytecode then exceeds
    // HotSpot's DontCompileHugeMethods limit — the WHOLE projection
    // drops to the bytecode interpreter and the per-row cost inflates
    // ~20× (measured: 3.2 s vs 0.16 s over sf0.1). As separate
    // methods, each compiles independently and the call sites stay a
    // few bytecodes.
    nullSafeCodeGen(ctx, ev, (a, b, l) => {
      val name = ctx.freshName("rpBitsPack")
      val fn = ctx.addNewFunction(name,
        s"""
           |private int $name(
           |    org.apache.spark.sql.catalyst.util.ArrayData a,
           |    int band, int len) {
           |  if (a.numElements() != ${RandProj.Dims}) {
           |    throw new IllegalArgumentException(
           |      "rp_bits: expected ${RandProj.Dims}-element array, got " +
           |        a.numElements());
           |  }
           |  int bits = 0;
           |  for (int k = 0; k < len; k++) {
           |    final long mask = $masksRef[band * len + k];
           |    if (a.isNullAt(0)) {
           |      throw new IllegalArgumentException(
           |        "rp_bits: null element at index 0");
           |    }
           |    double acc = ((mask & 1L) == 1L)
           |      ? ${get("a", "0")} : -${get("a", "0")};
           |    for (int j = 1; j < ${RandProj.Dims}; j++) {
           |      if (a.isNullAt(j)) {
           |        throw new IllegalArgumentException(
           |          "rp_bits: null element at index " + j);
           |      }
           |      final double x = ${get("a", "j")};
           |      if (((mask >>> j) & 1L) == 1L) acc += x; else acc -= x;
           |    }
           |    if (acc > 0d) bits |= 1 << k;
           |  }
           |  return bits;
           |}
         """.stripMargin)
      s"${ev.value} = $fn($a, $b, $l);"
    })
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): RpBits =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object RpBits {
  def fromChildren(children: Seq[Expression]): RpBits = {
    require(children.length == 3,
      s"rp_bits takes 3 arguments, got ${children.length}")
    RpBits(children.head, children(1), children(2))
  }
}

/** The deterministic hyperplane bank behind [[RpBits]]: plane `h` is the
  * ±1 vector whose dim-`j` sign is bit `j` of `Masks(h)`, and `Masks(h)`
  * is the first 8 bytes (big-endian) of `md5("graft-rp256:" + h)` — the
  * repo's standing md5-derived-constant convention, so the ORACLE can
  * embed the identical masks as BIGINT literals (a 256-row VALUES
  * table) and reproduce every sign from `(mask >> j) & 1`. ±1
  * components (rather than Gaussian) keep every projection term an
  * exact IEEE negation/addition — the Achlioptas (2001) sign-random
  * projection, whose LSH collision probability matches Charikar's
  * `1 − θ/π` in expectation. */
object RandProj {
  /** Raw embedding dimensionality the masks cover (one mask bit per
    * dim; [[graft.operators.VectorOps.Dim]] = 64 fills a Long exactly). */
  val Dims = 64

  /** Total hyperplanes drawn — enough for 256-bit codes. */
  val MaxPlanes = 256

  val Masks: Array[Long] = Array.tabulate(MaxPlanes) { h =>
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"graft-rp256:$h".getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }
}
