package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Exact job counts and write plans from the listener bus. Listener
  * events arrive asynchronously; [[drain]] runs a marker job and waits
  * until it is delivered, and the bus delivers events in order, so every
  * event posted before it has been seen. */
object SparkEvents extends AdaptiveSparkPlanHelper {

  private val MarkerKey = "graft.test.marker"

  private def isMarker(e: SparkListenerJobStart): Boolean =
    e.properties != null && e.properties.getProperty(MarkerKey) != null

  /** Block until every listener event posted so far is delivered. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val marker = java.util.UUID.randomUUID().toString
    val seen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (isMarker(e) && e.properties.getProperty(MarkerKey) == marker) seen.countDown()
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(MarkerKey, marker)
      try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(MarkerKey, null)
      assert(seen.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally sc.removeSparkListener(l)
  }

  /** Spark jobs `body` runs, on any thread (streams included). */
  def jobCount(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    drain(spark)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!isMarker(e)) n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try { body; drain(spark); n.get } finally sc.removeSparkListener(l)
  }

  /** Executed plans of the file writes `body` runs (search them with
    * this object's AQE-aware `collect`/`find`). Streams must start
    * inside `body`: a stream runs on a clone of the session, which
    * copies the listeners registered when it starts. */
  def writePlans(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
          plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; drain(spark); plans.asScala.toSeq }
    finally spark.listenerManager.unregister(l)
  }
}
