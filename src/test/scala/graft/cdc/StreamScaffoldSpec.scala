package graft.cdc

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StateOperatorProgress}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.spark

/** The bounded-streaming scaffold, read back from the query itself:
  * a keyed-state runner started through [[CdcStream.startWithStateConf]]
  * and drained by [[CdcStream.drain]] must report, in its progress,
  * [[CdcStream.StatePartitions]] state partitions and the custom
  * metrics of the provider it was started with — while the session's
  * own `spark.sql.shuffle.partitions` is back to its value the moment
  * `start` returns (the query runs on the clone taken inside `start`).
  * Result-level specs (StreamingStateStoreSpec) cannot see either. */
class StreamScaffoldSpec extends AnyFunSuite {

  /** State-operator progress of one keyed latest-state run started
    * under `provider`. */
  private def keyedRun(provider: String): Seq[StateOperatorProgress] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    assert(before != CdcStream.StatePartitions.toString,
      "the fixture width must differ from the state width to tell them apart")
    val mem = MemoryStream[ChangeRecord]
    mem.addData((0L until 40L).map(i =>
      ChangeRecord(i % 7, i, "u", s"t$i", Some(i * 1.0), i * 1000L)))
    val name = "graft_scaffold_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = CdcStream.startWithStateConf(spark, provider)(
      CdcStream.latestState(mem.toDS()).writeStream
        .outputMode(OutputMode.Update).format("memory").queryName(name).start())
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before,
      "state width leaked past start()")
    CdcStream.drain(q)
    assert(spark.table(name).count() > 0)
    val ops = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
    assert(ops.nonEmpty, "no state-operator progress reported")
    ops.foreach(op => assert(op.numShufflePartitions === CdcStream.StatePartitions))
    ops
  }

  private def metricNames(ops: Seq[StateOperatorProgress]): Set[String] =
    ops.flatMap(_.customMetrics.asScala.keys).toSet

  test("keyed runner starts on StatePartitions RocksDB stores, session width restored at start") {
    val names = metricNames(keyedRun(CdcStream.RocksProvider))
    assert(names.exists(_.startsWith("rocksdb")), s"no RocksDB metrics in $names")
    assert(!names.exists(_.startsWith("loadedMapCache")), names)
  }

  test("the join provider, when passed, is the one the stores run on") {
    val names = metricNames(keyedRun(CdcStream.HdfsProvider))
    assert(names.exists(_.startsWith("loadedMapCache")), s"no HDFS-store metrics in $names")
    assert(!names.exists(_.startsWith("rocksdb")), names)
  }
}
