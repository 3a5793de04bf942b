package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSON change-event parsers: wal2json and Debezium envelopes.
  *
  * wal2json shape follows the reference's sample events
  * (/root/reference/examples/pgoutput/events/{insert,update,delete}.json):
  * `{"change":[{"kind","schema","table","columnnames","columntypes",
  * "columnvalues","oldkeys":{"keynames","keytypes","keyvalues"}}]}`.
  * Values travel text-encoded (the same convention as pgoutput's text
  * tuple cells); the typed projection step casts per declared type,
  * mirroring the reference's RelationSet.Values + Column.Decoder
  * (main.go:411-430, 433-520).
  *
  * Parsing is `from_json` + `explode` — codegen'd, no UDF, scales as a
  * narrow map over the raw feed.
  */
object JsonParsers {

  private val keysType = StructType(Seq(
    StructField("keynames", ArrayType(StringType)),
    StructField("keytypes", ArrayType(StringType)),
    StructField("keyvalues", ArrayType(StringType))))

  val wal2jsonSchema: StructType = StructType(Seq(
    StructField("change", ArrayType(StructType(Seq(
      StructField("kind", StringType),
      StructField("schema", StringType),
      StructField("table", StringType),
      StructField("columnnames", ArrayType(StringType)),
      StructField("columntypes", ArrayType(StringType)),
      StructField("columnvalues", ArrayType(StringType)),
      StructField("oldkeys", keysType)))))))

  /** Raw wal2json document column → one row per change entry with
    * `after` (name→value map) and `old_keys` (name→value map). */
  def parseWal2Json(json: Column): Column =
    explode(from_json(json, wal2jsonSchema).getField("change"))

  def wal2jsonFlatten(df: DataFrame, changeCol: String): DataFrame = {
    val c = col(changeCol)
    df.select(
      c.getField("kind").as("kind"),
      c.getField("schema").as("schema_name"),
      c.getField("table").as("table_name"),
      when(c.getField("columnnames").isNotNull,
        map_from_arrays(c.getField("columnnames"), c.getField("columnvalues")))
        .as("after"),
      when(c.getField("oldkeys").isNotNull,
        map_from_arrays(c.getField("oldkeys").getField("keynames"),
          c.getField("oldkeys").getField("keyvalues")))
        .as("old_keys"))
  }

  /** Debezium envelope: typed before/after structs + op/ts_ms/source. */
  def debeziumSchema(rowType: StructType): StructType = StructType(Seq(
    StructField("op", StringType),
    StructField("ts_ms", LongType),
    StructField("before", rowType),
    StructField("after", rowType),
    StructField("source", StructType(Seq(
      StructField("table", StringType),
      StructField("lsn", LongType))))))

  def parseDebezium(json: Column, rowType: StructType): Column =
    from_json(json, debeziumSchema(rowType))
}
