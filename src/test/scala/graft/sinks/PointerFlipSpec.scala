package graft.sinks

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.spark
import graft.cdc.ChangeRecord

/** `_LATEST` is replaced in one step and resolved once per read, so a
  * reader racing the sink's commits always sees a whole snapshot. */
class PointerFlipSpec extends AnyFunSuite {

  private val Buckets = 4
  private val Keys = 20L

  private def rec(key: Long, seq: Long): ChangeRecord =
    ChangeRecord(key, seq, "u", s"t$seq", Some(seq * 1.0), seq * 1000L)

  test("readLatest never fails while the sink commits 200 times") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val table = graft.Scratch.dir("flip_tbl").toString
    val ckpt = graft.Scratch.dir("flip_ck").toString
    val mem = MemoryStream[ChangeRecord]
    val q = PartitionedTable.upsertSink(mem.toDS(), table, ckpt, Buckets)
    val failures = new ConcurrentLinkedQueue[String]()
    @volatile var stop = false
    @volatile var reads = 0
    val reader = new Thread(() => {
      while (!stop) {
        // resolution only (pointer → manifest → bucket files): that is
        // where a torn publish shows; the files themselves are immutable
        try {
          if (PartitionedTable.readLatest(spark, table, Buckets).inputFiles.isEmpty)
            failures.add("resolved to no files")
        } catch { case t: Throwable => failures.add(t.toString) }
        reads += 1
      }
    }, "flip-reader")
    try {
      mem.addData((0L until Keys).map(k => rec(k, 1L))); q.processAllAvailable()
      reader.start()
      (1 to 200).foreach { i =>
        mem.addData(Seq(rec(i % Keys, 1L + i))); q.processAllAvailable()
      }
    } finally {
      stop = true
      reader.join()
      q.stop()
    }
    assert(reads > 0)
    assert(failures.isEmpty,
      s"${failures.size} of $reads reads failed: ${failures.toArray.take(3).mkString("; ")}")
    assert(PartitionedTable.readLatest(spark, table, Buckets).count() === Keys)
  }
}
