package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.plans.AsOfStrategy

/** `SparkSessionExtensions` entry point — the supported way to add the
  * engine's planner surface to ANY session, including ones the library
  * didn't build:
  *
  * {{{ spark-submit --conf spark.sql.extensions=graft.GraftExtensions }}}
  *
  * [[GraftSession.builder]] sets it by default, so every harness
  * session plans [[graft.plans.AsOfJoinPlan]] without touching
  * `experimental.extraStrategies`; [[graft.plans.AsOf.register]]
  * remains as the idempotent fallback for externally-built sessions
  * that didn't load the extension. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectPlannerStrategy(_ => AsOfStrategy)
}
