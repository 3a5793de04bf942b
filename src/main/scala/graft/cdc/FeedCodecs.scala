package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.ChangeEventFiles.typedCell

// The change feed's three wire formats, one codec each. An encoder
// maps change-feed rows ([[ChangeFeed.changes]]: seq, ts, key, op,
// event_type, value) to one wire message per change; a decoder maps
// the messages back to (op, key, seq, event_type, value, tsMicros).
// A delete travels as its replica identity (key, seq) alone, so it
// decodes with NULL event_type, value and tsMicros. The batch
// roundtrips and the streaming sources share these codecs, so a
// roundtrip certifies the bytes a streaming source reads.

/** Binary pgoutput: Insert/Update carry the cells (key, event_type,
  * value, ts_us, seq), Delete its key tuple (key, seq). */
object PgOutputFeed {

  def toWire(op: Column): Column =
    when(op === "i", "I").when(op === "d", "D").otherwise("U")

  def fromWire(op: Column): Column =
    when(op === "I", "i").when(op === "D", "d").otherwise("u")

  /** One message per change, on relation `relationId`. */
  def encode(relationId: Column = lit(1)): Column = {
    val (key, seq) = (col("key").cast("string"), col("seq").cast("string"))
    call_function("pg_encode", struct(
      toWire(col("op")).as("op"),
      relationId.as("relation_id"),
      array(key, seq).as("key_cells"),
      when(col("op") =!= "d", array(key, col("event_type"), col("value").cast("string"),
        unix_micros(col("ts")).cast("string"), seq)).as("cells")))
  }

  /** Messages (binary column `msg`) → the decoded feed plus each
    * message's `relation_id`. */
  def decode(msgs: DataFrame): DataFrame = {
    val isDel = col("d.op") === "D"
    def cell(i: Int): Column = element_at(col("d.cells"), i)
    def keyCell(i: Int): Column = element_at(col("d.key_cells"), i)
    msgs.select(call_function("pg_decode", col("msg")).as("d")).select(
      fromWire(col("d.op")).as("op"),
      when(isDel, keyCell(1)).otherwise(cell(1)).cast("long").as("key"),
      when(isDel, keyCell(2)).otherwise(cell(5)).cast("long").as("seq"),
      cell(2).as("event_type"),
      cell(3).cast("double").as("value"),
      cell(4).cast("long").as("tsMicros"),
      col("d.relation_id").as("relation_id"))
  }
}

/** wal2json: one document per change, a one-entry `change` array.
  * Insert/Update carry text column values under declared PG types,
  * Delete its `oldkeys` (user_id, event_id). */
object Wal2JsonFeed {

  private def toWire(op: Column): Column =
    when(op === "i", "insert").when(op === "d", "delete").otherwise("update")

  private def fromWire(kind: Column): Column =
    when(kind === "insert", "i").when(kind === "delete", "d").otherwise("u")

  private val columns = Seq("user_id" -> "bigint", "event_type" -> "text",
    "value" -> "double precision", "ts_us" -> "bigint", "event_id" -> "bigint")

  /** One JSON document per change. */
  def encode: Column = {
    val (key, seq) = (col("key").cast("string"), col("seq").cast("string"))
    val isRow = col("op") =!= "d"
    to_json(struct(array(struct(
      toWire(col("op")).as("kind"),
      lit("public").as("schema"), lit("users").as("table"),
      when(isRow, array(columns.map(c => lit(c._1)): _*)).as("columnnames"),
      when(isRow, array(columns.map(c => lit(c._2)): _*)).as("columntypes"),
      when(isRow, array(key, col("event_type"), col("value").cast("string"),
        unix_micros(col("ts")).cast("string"), seq)).as("columnvalues"),
      when(!isRow, struct(
        array(lit("user_id"), lit("event_id")).as("keynames"),
        array(lit("bigint"), lit("bigint")).as("keytypes"),
        array(key, seq).as("keyvalues"))).as("oldkeys"))).as("change")))
  }

  /** Documents (string column `doc`) → the decoded feed, cells typed
    * by their declared PG types. */
  def decode(docs: DataFrame): DataFrame = {
    val types = columns.toMap
    def after(name: String): Column = typedCell(col("after"), name, types(name))
    def key(name: String): Column = coalesce(after(name), col("old_keys")(name).cast("long"))
    JsonParsers.wal2jsonFlatten(
      docs.select(JsonParsers.parseWal2Json(col("doc")).as("change")), "change")
      .select(fromWire(col("kind")).as("op"), key("user_id").as("key"),
        key("event_id").as("seq"), after("event_type").as("event_type"),
        after("value").as("value"), after("ts_us").as("tsMicros"))
  }
}

/** Debezium: one envelope per change, typed `before`/`after` rows
  * (ts as epoch micros) and the LSN in `source`. */
object DebeziumFeed {

  private def toWire(op: Column): Column =
    when(op === "i", "c").when(op === "d", "d").otherwise("u")

  private def fromWire(op: Column): Column =
    when(op === "c", "i").when(op === "d", "d").otherwise("u")

  private val rowType: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("ts_us", LongType),
    StructField("event_id", LongType)))

  /** One JSON envelope per change. */
  def encode: Column = {
    val row = struct(col("key").as("user_id"), col("event_type"), col("value"),
      unix_micros(col("ts")).as("ts_us"), col("seq").as("event_id"))
    to_json(struct(
      toWire(col("op")).as("op"),
      expr("unix_micros(ts) div 1000").as("ts_ms"),
      when(col("op") === "d", row).as("before"),
      when(col("op") =!= "d", row).as("after"),
      struct(lit("users").as("table"), col("seq").as("lsn")).as("source")))
  }

  /** Envelopes (string column `doc`) → the decoded feed. */
  def decode(docs: DataFrame): DataFrame =
    docs.select(JsonParsers.parseDebezium(col("doc"), rowType).as("e")).select(
      fromWire(col("e.op")).as("op"),
      coalesce(col("e.after.user_id"), col("e.before.user_id")).as("key"),
      col("e.source.lsn").as("seq"),
      col("e.after.event_type").as("event_type"),
      col("e.after.value").as("value"),
      col("e.after.ts_us").as("tsMicros"))
}
