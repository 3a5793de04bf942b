package graft.cdc

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.{spark, sf0001}
import graft.sinks.PartitionedTable
import graft.sources.ChangeEventFiles

class SourcesSinksSpec extends AnyFunSuite {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("wal2json file source reads pretty-printed change documents") {
    val dir = tmpDir("w2j")
    // same document SHAPE as the reference's events/*.json samples
    Files.write(Paths.get(dir, "insert.json"),
      """{
        |  "change": [
        |    {
        |      "kind": "insert",
        |      "schema": "public",
        |      "table": "users",
        |      "columnnames": ["id", "firstname", "created_at"],
        |      "columntypes": ["integer", "text", "timestamp without time zone"],
        |      "columnvalues": ["7", "Ada", "2020-09-15 11:58:28.988414"]
        |    }
        |  ]
        |}""".stripMargin.getBytes("UTF-8"))
    Files.write(Paths.get(dir, "delete.json"),
      """{"change":[{"kind":"delete","schema":"public","table":"users",
        |"oldkeys":{"keynames":["id"],"keytypes":["integer"],"keyvalues":["7"]}}]}"""
        .stripMargin.getBytes("UTF-8"))
    val flat = ChangeEventFiles.wal2json(spark, dir)
    val rows = flat.orderBy("kind").collect()
    assert(rows.length === 2)
    val del = rows(0); val ins = rows(1)
    assert(ins.getString(0) === "insert" && del.getString(0) === "delete")
    assert(ins.getAs[Map[String, String]]("after")("firstname") === "Ada")
    assert(del.getAs[Map[String, String]]("old_keys")("id") === "7")
    // typed projection per declared pg type
    val typed = flat.filter(col("kind") === "insert").select(
      ChangeEventFiles.typedCell(col("after"), "id", "integer").as("id"),
      ChangeEventFiles.typedCell(col("after"), "created_at",
        "timestamp without time zone").as("created_at"))
      .collect().head
    assert(typed.getInt(0) === 7)
    // pg "timestamp without time zone" maps to Spark TIMESTAMP_NTZ
    assert(typed.getAs[java.time.LocalDateTime](1).getYear === 2020)
  }

  test("debezium file source round-trips typed envelopes") {
    import spark.implicits._
    val dir = tmpDir("dbz")
    Files.write(Paths.get(dir, "events.jsonl"),
      ("""{"op":"c","ts_ms":100,"after":{"user_id":1,"event_type":"signup","value":1.5,"ts":"2020-01-01 00:00:00","event_id":10},"source":{"table":"users","lsn":10}}""" + "\n" +
       """{"op":"d","ts_ms":200,"before":{"user_id":1,"event_type":null,"value":null,"ts":null,"event_id":11},"source":{"table":"users","lsn":11}}""" + "\n")
        .getBytes("UTF-8"))
    val rowType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType)))
    val rows = ChangeEventFiles.debezium(spark, dir, rowType)
      .orderBy($"source.lsn").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[org.apache.spark.sql.Row]("after").getLong(0) === 1L)
    assert(rows(1).getAs[String]("op") === "d")
  }

  test("materialized upsert sink equals the batch latest-state operator") {
    import spark.implicits._
    val table = tmpDir("mat_table")
    val ckpt = tmpDir("mat_ckpt")
    // bounded change stream from the sf0.001 events parquet (declared
    // schema resolved from the footer; ts normalized via Tables.eventTs)
    val schema = graft.Tables.eventsSchema(spark, sf0001)
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(sf0001)
      .withColumn("ts", graft.Tables.eventTs(schema("ts").dataType))
      .select($"user_id".as("key"), $"event_id".as("seq"),
        when($"event_type" === "signup", "i")
          .when($"event_type" === "error", "d").otherwise("u").as("op"),
        $"event_type", $"value", unix_micros($"ts").as("tsMicros"))
      .as[ChangeRecord]
    val q = PartitionedTable.upsertSink(stream, table, ckpt, 16)
    try q.processAllAvailable() finally q.stop()

    val got = PartitionedTable.readLatest(spark, table, 16)
      .select($"key", $"seq", $"event_type", $"value")
      .as[(Long, Long, String, Double)].collect().toSet
    val want = ApplyChanges.latest(
        ChangeFeed.fromEvents(spark, sf0001), Seq("key"), Seq("seq"))
      .select($"key", $"seq", $"event_type", $"value")
      .as[(Long, Long, String, Double)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
    // tombstones are retained in the snapshot itself
    val snap = PartitionedTable.readSnapshot(spark, table, 16).get
    assert(snap.filter(col("op") === "d").count() > 0)
  }
}
