package graft.examples

import graft.cdc.{CdcStream, ChangeFeed}
import graft.sinks.PartitionedTable

/** End-to-end example: consume the events table as a bounded change
  * stream and maintain a materialized latest-state parquet table with
  * the bucketed manifest/pointer upsert sink.
  *
  *   runMain graft.examples.MaterializeEvents <sfDir> <tableDir> <ckptDir>
  */
object MaterializeEvents {
  private val Buckets = 16

  def main(args: Array[String]): Unit = {
    val Array(sfDir, tableDir, ckptDir) = args.take(3)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // declared schema resolved from the parquet footer; ts normalized
    // to micros whatever the on-disk representation (Tables.eventTs)
    val schema = graft.Tables.eventsSchema(spark, sfDir)
    val changes = ChangeFeed.records(ChangeFeed.changes(spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .withColumn("ts", graft.Tables.eventTs(schema("ts").dataType))))

    CdcStream.drain(PartitionedTable.upsertSink(changes, tableDir, ckptDir, Buckets))

    val state = PartitionedTable.readLatest(spark, tableDir, Buckets)
    println(s"MATERIALIZED rows=${state.count()} " +
      s"tombstones=${PartitionedTable.readSnapshot(spark, tableDir, Buckets).get
        .filter($"op" === "d").count()}")
    state.orderBy($"key").show(5)
    spark.stop()
  }
}
