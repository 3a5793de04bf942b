package graft.sinks

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEvents
import graft.SparkFixture.spark
import graft.cdc.ChangeRecord

/** The bucketed sink's job budget: snapshot reads declare the known
  * schema (no inference job), touched buckets come out of the job that
  * fills the batch cache, and the write is one shuffle. */
class SinkJobBudgetSpec extends AnyFunSuite {

  private val Buckets = 8

  private def rec(key: Long, seq: Long, op: String): ChangeRecord =
    ChangeRecord(key, seq, op, s"t$seq", Some(seq * 1.0), seq * 1000L)

  /** A table with one 200-key batch committed, and the jobs of a second
    * batch that updates `keys`. */
  private def secondBatchJobs(tag: String, keys: Seq[Long]): (String, Int) = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val table = graft.Scratch.dir(s"budget_${tag}_tbl").toString
    val ckpt = graft.Scratch.dir(s"budget_${tag}_ck").toString
    val mem = MemoryStream[ChangeRecord]
    val q = PartitionedTable.upsertSink(mem.toDS(), table, ckpt, Buckets)
    try {
      mem.addData((0L until 200L).map(k => rec(k, k + 1, "i")))
      q.processAllAvailable()
      val jobs = SparkEvents.jobCount(spark) {
        mem.addData(keys.map(k => rec(k, 1000L + k, if (k % 2 == 0) "u" else "d")))
        q.processAllAvailable()
      }
      (table, jobs)
    } finally q.stop()
  }

  test("an upsert micro-batch over several prior buckets runs at most 3 jobs") {
    val (table, jobs) = secondBatchJobs("upsert", (0L until 12L))
    val rewritten = PartitionedTable.readManifest(spark, table).values.count(_.startsWith("v1_"))
    assert(rewritten > 1, s"the batch must touch several buckets, touched $rewritten")
    assert(jobs <= 3, s"upsert micro-batch ran $jobs jobs")
    // and the result is the upsert's
    val state = PartitionedTable.readLatest(spark, table, Buckets)
    assert(state.count() === 194)
    assert(state.filter(col("key") === 4L).select("seq").head().getLong(0) === 1004L)
  }

  test("a readLatest key lookup runs one job") {
    val (table, _) = secondBatchJobs("lookup", Seq(1L))
    var rows = Array.empty[org.apache.spark.sql.Row]
    val jobs = SparkEvents.jobCount(spark) {
      rows = PartitionedTable.readLatest(spark, table, Buckets)
        .filter(col("key") === 7L).collect()
    }
    assert(rows.length === 1)
    assert(jobs === 1, s"lookup ran $jobs jobs")
  }
}
