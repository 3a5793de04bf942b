package graft.examples

import graft.cdc.{CdcStream, ChangeFeed}
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
    val changes = ChangeFeed.records(ChangeFeed.changes(spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .withColumn("ts", graft.Tables.eventTs(schema("ts").dataType))))

    CdcStream.drain(MaterializedTable.upsertSink(changes, tableDir, ckptDir))

    val state = MaterializedTable.readLatest(spark, tableDir)
    println(s"MATERIALIZED rows=${state.count()} " +
      s"tombstones=${MaterializedTable.readSnapshot(spark, tableDir).get
        .filter($"op" === "d").count()}")
    state.orderBy($"key").show(5)
    spark.stop()
  }
}
