package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.cdc.JsonParsers

/** File-based change-event sources — the reference consumes exactly
  * these document shapes from disk (the insert/update/delete JSON
  * samples under /root/reference/examples/pgoutput/events/:
  * pretty-printed wal2json documents, one change array per file).
  *
  * The readers parse with the same `from_json` + `explode` flatten as
  * in-flight columns. Streaming JSON-lines change documents read
  * through `format("wal2json")` / `format("debezium")` and decode with
  * [[graft.cdc.Wal2JsonFeed]] / [[graft.cdc.DebeziumFeed]].
  */
object ChangeEventFiles {

  /** Whole-file JSON documents (possibly pretty-printed, like the
    * reference's samples) → flat change rows. */
  def wal2json(s: SparkSession, path: String): DataFrame = {
    val docs = s.read.option("multiLine", "true")
      .schema(JsonParsers.wal2jsonSchema).json(path)
    JsonParsers.wal2jsonFlatten(
      docs.select(explode(col("change")).as("change")), "change")
  }

  /** Debezium envelope files (JSON-lines) with a typed row schema. */
  def debezium(s: SparkSession, path: String, rowType: StructType): DataFrame =
    s.read.schema(JsonParsers.debeziumSchema(rowType)).json(path)

  /** Typed projection of a text-encoded cell, per the wal2json declared
    * column type — the declarative twin of the reference's per-OID
    * decoder switch (main.go:475–565). Covers that switch's OID set:
    * bool, bytea (PG hex form), int2/4/8, oid/xid/cid (unsigned 32-bit
    * → long), float4/8, numeric, date, timestamp (→ ntz),
    * timestamptz, uuid (canonical lowercase), json/jsonb,
    * text/varchar/name, tid (→ struct(block, offset)), and the 1-D
    * array form of any of them (`t[]` / `_t`, full PG quoting via
    * [[graft.cdc.PgOutputExpressions.PgArrayParse]]). Like the
    * reference, aclitem/inet/cidr/record/unknown stay text. */
  def typedCell(m: Column, name: String, pgType: String): Column =
    pgTyped(m(name), pgType)

  def pgTyped(raw: Column, pgType: String): Column = normalize(pgType) match {
    // array path calls pg_array, installed by graft.GraftExtensions
    case ArrayName(elem) =>
      transform(call_function("pg_array", raw), e => pgTyped(e, elem))
    case "boolean" | "bool" => raw.cast("boolean")
    case "bytea" => unhex(substring(raw, 3, Int.MaxValue)) // \x<hex>
    case "smallint" | "int2" => raw.cast("short")
    case "integer" | "int4" => raw.cast("int")
    case "bigint" | "int8" => raw.cast("long")
    case "oid" | "xid" | "cid" => raw.cast("long")
    case "real" | "float4" => raw.cast("float")
    case "double precision" | "float8" => raw.cast("double")
    case "numeric" | "decimal" => raw.cast("decimal(38,18)")
    case "date" => raw.cast("date")
    case "timestamptz" | "timestamp with time zone" => raw.cast("timestamp")
    case t if t.startsWith("timestamp") => raw.cast("timestamp_ntz")
    case "uuid" => lower(raw)
    case "json" | "jsonb" => parse_json(raw)
    case "tid" =>
      struct(regexp_extract(raw, "\\((\\d+),(\\d+)\\)", 1).cast("long").as("block"),
        regexp_extract(raw, "\\((\\d+),(\\d+)\\)", 2).cast("int").as("offset"))
    case _ => raw // text/varchar/name/inet/cidr/aclitem/record/unknown
  }

  /** Strip the typmod from a rendered PG type name — wal2json reports
    * names AS DECLARED, so `timestamp(3) with time zone` or
    * `numeric(10,2)` arrive typmod'd, and matching the raw string
    * routed typmod'd timestamptz into the bare-`timestamp` arm
    * (→ ntz, dropping the zone) and typmod'd numeric to text (r10
    * review finding). The typmod (precision/scale/length) never
    * changes which decode arm applies. */
  private def normalize(t: String): String =
    t.replaceFirst("""\(\d+(,\s*\d+)?\)""", "").replaceAll("\\s+", " ").trim

  /** `integer[]` / `_int4` array type-name forms. */
  private object ArrayName {
    def unapply(t: String): Option[String] =
      if (t.endsWith("[]")) Some(t.dropRight(2))
      else if (t.startsWith("_")) Some(t.substring(1))
      else None
  }
}
