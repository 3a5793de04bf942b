package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Apply-changes materialization: turn a change feed into tables —
  * the "database inside-out" step the reference's presentation builds
  * toward (materialized views from a Debezium stream).
  *
  * Batch semantics; the streaming twin is [[CdcStream]].
  *
  * Scale: both operators are a single hash shuffle on the key columns;
  * `row_number`/`lead` run inside the per-key sort partition. With AQE
  * on, skewed keys split automatically. No driver-side iteration.
  */
object ApplyChanges {

  /** SCD1 latest-state: last change per key wins; a trailing delete
    * removes the key. `ordering` must be a total order within key
    * (e.g. LSN / sequence number). */
  def latest(changes: DataFrame, keys: Seq[String], ordering: Seq[String],
      opCol: String = "op", deleteOp: String = "d"): DataFrame =
    latestWithTombstones(changes, keys.map(col), ordering.map(col))
      .filter(col(opCol) =!= deleteOp)

  /** Latest row per key, KEEPING delete tombstones — what an upsert
    * table stores, so a late lower-ordered change can never resurrect
    * a deleted key. `partition` must include the key; a caller may lead
    * with a function of the key (a bucket) so the window reuses a
    * clustering its input already has. */
  def latestWithTombstones(changes: DataFrame, partition: Seq[Column],
      ordering: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partition: _*).orderBy(ordering.map(_.desc): _*)
    changes
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** SCD2 history: every insert/update becomes a version row with
    * [valid_from, valid_to) bounds; the next change (including a
    * delete) closes the interval; `is_current` marks open versions. */
  def scd2(changes: DataFrame, keys: Seq[String], seqCol: String, tsCol: String,
      opCol: String = "op", deleteOp: String = "d"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(seqCol))
    changes
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull && col(opCol) =!= deleteOp)
      .filter(col(opCol) =!= deleteOp)
  }
}
