package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.GraftFunctions

/** Session extensions registering graft's native Catalyst expressions
  * ([[GraftFunctions.sqlFunctions]]).
  *
  * Use programmatically:
  * {{{ SparkSession.builder().withExtensions(GraftExtensions) }}}
  * or via configuration:
  * {{{ --conf spark.sql.extensions=graft.plans.GraftSparkSessionExtensions }}}
  */
object GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.sqlFunctions.foreach(ext.injectFunction)
}

/** Config-route entry point (`spark.sql.extensions` needs a class with
  * a no-arg constructor). */
class GraftSparkSessionExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftExtensions(ext)
}
