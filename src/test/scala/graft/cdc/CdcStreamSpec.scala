package graft.cdc

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.spark

/** Bounded streaming harness invariants (r10 review regressions). */
class CdcStreamSpec extends AnyFunSuite {

  test("punctuated append: NON-time-ordered directory parts equal the batch aggregate") {
    // r10 review finding: a file-per-batch read (maxFilesPerTrigger=1)
    // over a directory feed advanced the watermark to max−delay after
    // the FIRST part, so every later part's rows were silently dropped
    // as late — invisible at the single-file gate SFs, measured at sf1
    // (cdc_stream_asof emitted 12,874 of ~19,810 expected rows on the
    // round-robin replica). All staged data must land in ONE batch.
    // This feed makes the failure loud at test scale: the part that
    // sorts FIRST holds the LATE half of the events, so any
    // file-per-batch regression drops the entire early half.
    import spark.implicits._
    val root = graft.Scratch.dir("punct_ooo")
    val evDir = root.resolve("events.parquet")
    java.nio.file.Files.createDirectories(evDir)
    def part(name: String, hours: Range): Unit = {
      val df = hours.map { h =>
        (h.toLong, java.time.LocalDateTime.of(2024, 1, 1 + h / 24, h % 24, 30),
          (h % 3).toLong, if (h % 2 == 0) "click" else "view", h * 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val tmp = graft.Scratch.dir(s"punct_ooo_src")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      java.nio.file.Files.move(graft.Scratch.firstParquet(tmp), evDir.resolve(name))
    }
    part("part-00000.parquet", 24 until 48) // sorts first, LATE half
    part("part-00001.parquet", 0 until 24) // sorts second, EARLY half
    val got = CdcStream.runPunctuatedAppend(spark, root.toString) { raw =>
      raw.withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour").as("win"), $"event_type")
        .agg(count(lit(1)).as("n"))
    }
      .filter($"event_type" =!= "sentinel")
      .select($"win.start".as("w"), $"event_type", $"n")
    val want = graft.Tables.events(spark, root.toString)
      .groupBy(window($"ts", "1 hour").as("win"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"win.start".as("w"), $"event_type", $"n")
    assert(got.count() === 48L,
      s"expected 48 finalized windows, got ${got.count()} — rows dropped behind the watermark")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed windows diverge from the batch aggregate")
  }

  test("parquet-java sentinel file round-trips identically to the Spark-written row") {
    // r17: the punctuated runners' 1-row sentinel is written with
    // parquet-java instead of a Spark write job — per declared ts
    // type, Spark must read back EXACTLY the row the old
    // lit(...).coalesce(1).write.parquet produced.
    import org.apache.spark.sql.types._
    import spark.implicits._
    val cases: Seq[(DataType, org.apache.spark.sql.Column)] = Seq(
      (LongType, lit(4102444800000000000L)),
      (TimestampNTZType, lit(java.time.LocalDateTime.of(2100, 1, 1, 0, 0))),
      (TimestampType, lit(java.time.Instant.parse("2100-01-01T00:00:00Z"))))
    cases.foreach { case (tsType, sentTs) =>
      val d = graft.Scratch.dir(s"sentinel_rt")
      val file = d.resolve("s.parquet")
      CdcStream.writeSentinelFile(file, tsType)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", tsType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType)))
      val got = spark.read.schema(schema).parquet(file.toString)
      val want = spark.range(1).select(
        lit(-1L).as("event_id"), sentTs.as("ts"), lit(-1L).as("user_id"),
        lit("sentinel").as("event_type"), lit(0.0).as("value"),
        lit("{}").as("props"))
      assert(got.schema.map(f => (f.name, f.dataType)) ===
        want.schema.map(f => (f.name, f.dataType)),
        s"schema mismatch for $tsType")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"sentinel row mismatch for $tsType")
    }
  }

  test("the sentinel reaches the live stream dir by one rename, never half-written") {
    import java.nio.file.{FileSystems, StandardWatchEventKinds => K}
    import scala.jdk.CollectionConverters._
    val dir = graft.Scratch.dir("sentinel_publish")
    val ws = FileSystems.getDefault.newWatchService()
    try {
      dir.register(ws, K.ENTRY_CREATE, K.ENTRY_MODIFY)
      CdcStream.publishSentinel(dir, org.apache.spark.sql.types.TimestampType)
      val events = Iterator.continually(Option(ws.poll(500, java.util.concurrent.TimeUnit.MILLISECONDS)))
        .takeWhile(_.isDefined).flatMap { k =>
          val es = k.get.pollEvents().asScala.toList; k.get.reset(); es
        }.toList
      val (finalName, others) =
        events.partition(_.context.toString == "01_sentinel.parquet")
      // a direct write would show the final name created, then modified
      assert(finalName.map(_.kind) === List(K.ENTRY_CREATE),
        s"final name saw ${finalName.map(_.kind)}")
      assert(others.forall(_.context.toString.startsWith(".")),
        s"visible temp name: ${others.map(_.context)}")
    } finally ws.close()
    val visible = java.nio.file.Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toList
    assert(visible === List("01_sentinel.parquet"))
  }

  test("footer guard decodes a TIMESTAMP(MILLIS) feed by its unit") {
    import spark.implicits._
    val key = "spark.sql.parquet.outputTimestampType"
    def millisFeed(tag: String, at: String): String = {
      val path = graft.Scratch.dir(s"guard_millis_$tag").resolve("feed").toString
      val prior = spark.conf.getOption(key)
      spark.conf.set(key, "TIMESTAMP_MILLIS")
      try Seq(java.time.Instant.parse(at)).toDF("ts").coalesce(1).write.parquet(path)
      finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      path
    }
    val ok = millisFeed("ok", "2020-06-01T12:00:00Z")
    CdcStream.assertEventTimeSane(spark, ok, spark.read.parquet(ok).schema)
    val bad = millisFeed("bad", "1990-06-01T12:00:00Z")
    val e = intercept[IllegalArgumentException] {
      CdcStream.assertEventTimeSane(spark, bad, spark.read.parquet(bad).schema)
    }
    assert(e.getMessage.contains("1990-06-01T12:00:00Z"), e.getMessage)
  }

  test("footer guard scans a nested feed instead of reading it as empty") {
    import spark.implicits._
    val path = graft.Scratch.dir("guard_nested").resolve("feed").toString
    Seq((java.time.Instant.parse("1970-01-02T00:00:00Z"), "a"))
      .toDF("ts", "part").write.partitionBy("part").parquet(path)
    val e = intercept[IllegalArgumentException] {
      CdcStream.assertEventTimeSane(spark, path, spark.read.parquet(path).schema)
    }
    assert(e.getMessage.contains("pre-2000"), e.getMessage)
  }
}
