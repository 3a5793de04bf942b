package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical change feed (SURVEY.md §4).
  *
  * A deterministic CDC stream derived from the driver's `events` table
  * so every CDC operator has a DuckDB-checkable oracle:
  * `event_id` → seq (the LSN analog), `user_id` → key, and
  * signup→insert / error→delete / other→update. The same mapping is
  * written once as SQL in [[changesSql]] and reused by every oracle.
  */
object ChangeFeed {

  /** Timestamp output format used everywhere a timestamp surfaces in a
    * query result (Spark side); [[tsFmtDuck]] is the DuckDB twin. */
  val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
  val tsFmtDuck = "%Y-%m-%d %H:%M:%S.%f"

  /** Well-formedness contract (dirty-data posture, r10): a change
    * record's FRAMING fields — seq (LSN), key (replica identity),
    * commit ts, and the op-bearing event_type — are structurally
    * mandatory on every real CDC wire (pgoutput cannot emit a tuple
    * without its relation key or a commit without its LSN/timestamp).
    * An events row missing any of them is malformed INPUT, excluded
    * from the synthesized feed the way `cdc_decode_quarantine`
    * separates undecodable frames. COLUMN data (`value`, `props`)
    * stays nullable — a real change can carry NULL in any column and
    * dropping it would corrupt downstream state. The same predicate
    * is spelled once here in SQL and once in Spark so every oracle
    * and every consumer (batch and stream) agree on the feed. */
  val wellFormedSql: String =
    "event_id IS NOT NULL AND user_id IS NOT NULL AND " +
      "ts IS NOT NULL AND event_type IS NOT NULL"

  /** Spark twin of [[wellFormedSql]] (applies to raw events columns). */
  def wellFormed(df: DataFrame): DataFrame = df.filter(wellFormedSql)

  val changesSql: String =
    s"""changes AS (
      |  SELECT event_id AS seq, ts, user_id AS key,
      |    CASE WHEN event_type = 'signup' THEN 'i'
      |         WHEN event_type = 'error' THEN 'd'
      |         ELSE 'u' END AS op,
      |    event_type, value, props
      |  FROM events WHERE $wellFormedSql)""".stripMargin

  /** Spark twin of [[changesSql]]'s op CASE. */
  private val op: Column = when(col("event_type") === "signup", "i")
    .when(col("event_type") === "error", "d").otherwise("u")

  /** Spark twin of [[changesSql]] over a raw events frame, batch or
    * stream. */
  def changes(events: DataFrame): DataFrame =
    wellFormed(events).select(col("event_id").as("seq"), col("ts"),
      col("user_id").as("key"), op.as("op"), col("event_type"),
      col("value"), col("props"))

  /** [[changes]] over the `events` table. */
  def fromEvents(s: SparkSession, dir: String): DataFrame =
    changes(graft.Tables.events(s, dir))

  /** A change feed (batch or stream) as [[ChangeRecord]]s, commit time
    * as epoch micros. */
  def records(changes: DataFrame): Dataset[ChangeRecord] = {
    import changes.sparkSession.implicits._
    changes.select(col("key"), col("seq"), col("op"), col("event_type"),
      col("value"), unix_micros(col("ts")).as("tsMicros")).as[ChangeRecord]
  }

  /** A feed codec's decoded rows ([[PgOutputFeed]], [[Wal2JsonFeed]],
    * [[DebeziumFeed]]) as [[ChangeRecord]]s: a delete carries no
    * event_type or commit time on the wire, so they read "" and 0. A
    * NULL `value` is column data and stays NULL (an Option field). */
  def decodedRecords(decoded: DataFrame): Dataset[ChangeRecord] = {
    import decoded.sparkSession.implicits._
    decoded.select(col("key"), col("seq"), col("op"),
      coalesce(col("event_type"), lit("")).as("event_type"), col("value"),
      coalesce(col("tsMicros"), lit(0L)).as("tsMicros")).as[ChangeRecord]
  }
}
