package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/** Spark-native deployment hook: set
  * `spark.sql.extensions=graft.GraftExtensions` and every session gets the
  * engine's SQL functions ([[GraftFunctions.sqlFunctions]]) at analysis
  * time — the idiomatic SparkSessionExtensions route (no runtime
  * register() call needed).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.sqlFunctions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""), builder))
    }
}
