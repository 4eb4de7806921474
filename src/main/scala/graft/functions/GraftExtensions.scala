package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions injector for the engine's native functions —
  * the configuration-driven registration path:
  *
  * {{{
  * spark.sql.extensions=graft.functions.GraftExtensions
  * }}}
  *
  * gives a pure-SQL user (`spark-sql`, Thrift server, a notebook with no
  * graft import) every function in [[Natives]] in every session, resolved
  * to the same codegen'd expressions the library API uses. The operators
  * in `graft.operators` do not REQUIRE the extension to be installed —
  * they install what is missing through [[Natives.ensure]] — so the
  * injector exists for the SQL front door, not as a hidden dependency. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Natives.all.foreach(ext.injectFunction)
}
