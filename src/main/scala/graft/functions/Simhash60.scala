package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native 60-bit SimHash over a document's shingle-hash list: bit b of
  * the result is set iff the +1/−1 votes of the inputs' b-th bits sum
  * positive — the same fingerprint `TextOps.simhashPairs` previously
  * computed as SIXTY separate `sum(CASE …)` aggregate columns plus a
  * 60-term bit-assembly projection. That wide aggregate was the last
  * big generated-code stage left (the vector family's equivalent was
  * cured by [[DotProduct]]), and under a long-lived JVM its bytecode
  * measurably degraded the JIT. Here the whole fingerprint is one
  * nested loop in `doGenCode` over a `collect_list` of the hashes.
  *
  * Determinism: votes are INTEGER sums, so accumulation order is
  * irrelevant — the result is identical for any ordering of the input
  * list (unlike the engine's float sums, which pin an order). The
  * DuckDB oracle keeps its 60-column SQL form; both reduce to the same
  * integers. The per-document list is bounded by the longest single
  * document — the per-document buffer invariant every text op here
  * shares. Null elements are rejected loudly (corruption signal);
  * a null LIST yields null. */
case class Simhash60(child: Expression) extends UnaryExpression {

  private val Bits = 60

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash60 requires array<bigint>, got ${t.catalogString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash60"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    var sig = 0L
    var b = 0
    while (b < Bits) {
      var votes = 0L
      var i = 0
      while (i < n) {
        require(!hs.isNullAt(i), s"simhash60: null element at index $i")
        votes += (if (((hs.getLong(i) >> b) & 1L) == 1L) 1L else -1L)
        i += 1
      }
      if (votes > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs => {
      val n = ctx.freshName("n")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val votes = ctx.freshName("votes")
      val sig = ctx.freshName("sig")
      s"""
         |final int $n = $hs.numElements();
         |long $sig = 0L;
         |for (int $b = 0; $b < $Bits; $b++) {
         |  long $votes = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($hs.isNullAt($i)) {
         |      throw new IllegalArgumentException(
         |        "simhash60: null element at index " + $i);
         |    }
         |    $votes += ((($hs.getLong($i) >> $b) & 1L) == 1L) ? 1L : -1L;
         |  }
         |  if ($votes > 0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Simhash60 =
    copy(child = newChild)
}

object Simhash60 {
  /** Builder from SQL children: `simhash60(hashes)` ([[Natives]]). */
  def fromChildren(children: Seq[Expression]): Simhash60 = {
    require(children.length == 1,
      s"simhash60 takes 1 argument, got ${children.length}")
    Simhash60(children.head)
  }
}
