package graft

import org.apache.spark.sql.SparkSession

import graft.plans.AsOfStrategy

/** The fallback install for a session built without
  * [[GraftExtensions]] (`spark.sql.extensions` is static, so an
  * existing notebook or shell session has no other way in): call once,
  * then every graft SQL function and the as-of operator resolve.
  *
  * {{{ graft.Graft.register(spark) }}}
  *
  * A session whose `spark.sql.extensions` names [[GraftExtensions]]
  * (every [[GraftSession.builder]] session) already has all of it, and
  * is left untouched. Repeated calls change nothing. */
object Graft {
  def register(spark: SparkSession): Unit = {
    val installed = spark.conf.getOption("spark.sql.extensions").toSeq
      .flatMap(_.split(",")).map(_.trim).contains(classOf[GraftExtensions].getName)
    if (!installed) {
      // the table's entries are shared: registering one again is a no-op
      val reg = spark.sessionState.functionRegistry
      for ((id, info, build) <- GraftExtensions.functions)
        reg.registerFunction(id, info, build)
      if (!spark.experimental.extraStrategies.contains(AsOfStrategy))
        spark.experimental.extraStrategies :+= AsOfStrategy
    }
  }
}
