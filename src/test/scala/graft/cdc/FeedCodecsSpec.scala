package graft.cdc

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.spark

/** Each feed codec decodes what it encodes: the change columns come
  * back as written, and a delete — which travels as its replica
  * identity alone — reads NULL event_type, value and tsMicros. */
class FeedCodecsSpec extends AnyFunSuite {
  import spark.implicits._

  private val tsMicros = 1600000000123456L

  /** insert, update with a NULL value, delete, non-ASCII event_type. */
  private lazy val feed: DataFrame = Seq(
    (1L, 10L, "i", "signup", Option(1.5)),
    (2L, 10L, "u", "view", Option.empty[Double]),
    (3L, 11L, "d", "error", Option(2.25)),
    (4L, 12L, "u", "köp 購入 🛒", Option(-0.125)))
    .toDF("seq", "key", "op", "event_type", "value")
    .withColumn("ts", timestamp_micros(lit(tsMicros) + $"seq"))

  private val expected = Seq(
    Row("i", 10L, 1L, "signup", 1.5, tsMicros + 1),
    Row("u", 10L, 2L, "view", null, tsMicros + 2),
    Row("d", 11L, 3L, null, null, null),
    Row("u", 12L, 4L, "köp 購入 🛒", -0.125, tsMicros + 4))

  private def roundtrip(decoded: DataFrame): Seq[Row] =
    decoded.select("op", "key", "seq", "event_type", "value", "tsMicros")
      .orderBy("seq").collect().toSeq

  test("pgoutput codec roundtrips the feed, relation id included") {
    val decoded = PgOutputFeed.decode(
      feed.select(PgOutputFeed.encode(lit(7)).as("msg")))
    assert(roundtrip(decoded) === expected)
    assert(decoded.select("relation_id").distinct().as[Int].collect().toSeq === Seq(7))
  }

  test("wal2json codec roundtrips the feed") {
    assert(roundtrip(Wal2JsonFeed.decode(feed.select(Wal2JsonFeed.encode.as("doc")))) ===
      expected)
  }

  test("Debezium codec roundtrips the feed") {
    assert(roundtrip(DebeziumFeed.decode(feed.select(DebeziumFeed.encode.as("doc")))) ===
      expected)
  }
}
