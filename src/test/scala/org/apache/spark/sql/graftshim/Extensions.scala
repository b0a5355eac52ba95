package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** Test access to what a session does with its extensions at build time:
  * `SparkSessionExtensions.registerFunctions` is `private[sql]`.
  */
object Extensions {
  def registerFunctions(e: SparkSessionExtensions,
      registry: FunctionRegistry): Unit = e.registerFunctions(registry)
}
