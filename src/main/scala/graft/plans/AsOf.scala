package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.Attribute

/** Public API for the as-of join operator. It installs nothing: the
  * session plans [[AsOfJoinPlan]] through [[graft.GraftExtensions]]
  * (every [[graft.GraftSession]] session), or through
  * [[graft.Graft.register]] on a session built without it. Column
  * pruning needs no rule of its own: Catalyst's ColumnPruning trims
  * each child of the as-of join down to the scans. */
object AsOf {

  /** LEFT AS-OF join: every `left` row + the latest `right` row with
    * the same key at or before the left timestamp (ties broken by the
    * highest tie column). Key/ts/tie must be BIGINT columns; name the
    * two sides' columns distinctly (the output carries both). */
  def join(left: DataFrame, right: DataFrame,
      leftKey: String, leftTs: String, leftTie: String,
      rightKey: String, rightTs: String, rightTie: String): DataFrame = {
    val spark = left.sparkSession
    def attr(df: DataFrame, name: String): Attribute =
      df.queryExecution.analyzed.output
        .find(_.name == name)
        .getOrElse(throw new IllegalArgumentException(s"no column $name"))
    GraftSqlBridge.ofRows(spark, AsOfJoinPlan(
      left.queryExecution.analyzed, right.queryExecution.analyzed,
      attr(left, leftKey), attr(left, leftTs), attr(left, leftTie),
      attr(right, rightKey), attr(right, rightTs), attr(right, rightTie)))
  }
}
