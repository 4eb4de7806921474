package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** The engine's native Catalyst functions, listed once: SQL name,
  * expression class and builder from SQL arguments. The operators call
  * [[ensure]] before they resolve `expr("vec_dot(...)")`-style strings;
  * [[GraftExtensions]] injects the same list into sessions configured
  * with `spark.sql.extensions`. */
object Natives {
  /** The shape `SparkSessionExtensions.injectFunction` takes. */
  type Native = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  private def native(name: String, cls: Class[_],
      build: FunctionBuilder): Native =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  val all: Seq[Native] = Seq(
    native("vec_dot", classOf[DotProduct], DotProduct.fromChildren _),
    native("vec_dot_prefixes", classOf[DotPrefixes],
      DotPrefixes.fromChildren _),
    native("simhash60", classOf[Simhash60], Simhash60.fromChildren _),
    native("poly_roll", classOf[PolyRollHash], PolyRollHash.fromChildren _),
    native("quant_stats", classOf[QuantStats], QuantStats.fromChildren _),
    native("sign_bits", classOf[SignBits], SignBits.fromChildren _),
    native("rp_bits", classOf[RpBits], RpBits.fromChildren _))

  def names: Seq[String] = all.map(_._1.funcName)

  /** Registers every native the session's function registry does not
    * have yet. A name that is already there, from an earlier call or from
    * [[GraftExtensions]], is left as it is, so repeated calls are cheap
    * and never replace a builder. */
  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (id, info, build) =>
      if (!registry.functionExists(id))
        registry.registerFunction(id, info, build)
    }
  }
}
