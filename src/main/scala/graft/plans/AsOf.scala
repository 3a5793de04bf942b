package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute

/** Public API for the as-of join operator. */
object AsOf {

  /** Register the planner strategy once per session (idempotent) — the
    * fallback for sessions built without [[graft.GraftExtensions]]. A
    * session that names the extension in `spark.sql.extensions`
    * already plans the operator, and is left untouched. Column pruning
    * needs no rule of its own: Catalyst's ColumnPruning trims each
    * child of the as-of join down to the scans. */
  def register(spark: SparkSession): Unit = {
    val extensions = spark.conf.getOption("spark.sql.extensions").toSeq
      .flatMap(_.split(",")).map(_.trim)
    val strategies = spark.experimental.extraStrategies
    if (!extensions.contains(classOf[graft.GraftExtensions].getName) &&
        !strategies.contains(AsOfStrategy))
      spark.experimental.extraStrategies = strategies :+ AsOfStrategy
  }

  /** LEFT AS-OF join: every `left` row + the latest `right` row with
    * the same key at or before the left timestamp (ties broken by the
    * highest tie column). Key/ts/tie must be BIGINT columns; name the
    * two sides' columns distinctly (the output carries both). */
  def join(left: DataFrame, right: DataFrame,
      leftKey: String, leftTs: String, leftTie: String,
      rightKey: String, rightTs: String, rightTie: String): DataFrame = {
    val spark = left.sparkSession
    register(spark)
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
