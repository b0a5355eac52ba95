package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension registration: makes every graft SQL function (the
  * `graft.functions.sqlFunctions` list `registerAll` also registers)
  * available to pure-SQL users at session construction, with no code call —
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or: SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  * (Programmatic alternative: `graft.functions.registerAll(spark)`.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit =
    graft.functions.sqlFunctions.foreach(e.injectFunction)
}
