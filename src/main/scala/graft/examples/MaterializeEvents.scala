package graft.examples

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.ChangeRecord
import graft.sinks.MaterializedTable

/** End-to-end example: consume the events table as a bounded change
  * stream and maintain a materialized latest-state parquet table with
  * the snapshot/pointer upsert sink.
  *
  *   runMain graft.examples.MaterializeEvents <sfDir> <tableDir> <ckptDir>
  */
object MaterializeEvents {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, tableDir, ckptDir) = args.take(3)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // declared schema resolved from the parquet footer; ts normalized
    // to micros whatever the on-disk representation (Tables.eventTs)
    val schema = graft.Tables.eventsSchema(spark, sfDir)
    val changes = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .withColumn("ts", graft.Tables.eventTs(schema("ts").dataType))
      .select($"user_id".as("key"), $"event_id".as("seq"),
        when($"event_type" === "signup", "i")
          .when($"event_type" === "error", "d").otherwise("u").as("op"),
        $"event_type", $"value", unix_micros($"ts").as("tsMicros"))
      .as[ChangeRecord]

    val q = MaterializedTable.upsertSink(changes, tableDir, ckptDir)
    try q.processAllAvailable() finally q.stop()

    val state = MaterializedTable.readLatest(spark, tableDir)
    println(s"MATERIALIZED rows=${state.count()} " +
      s"tombstones=${MaterializedTable.readSnapshot(spark, tableDir).get
        .filter($"op" === "d").count()}")
    state.orderBy($"key").show(5)
    spark.stop()
  }
}
