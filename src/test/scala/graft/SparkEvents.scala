package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.tools.Probe

/** Exact job counts and write plans from the listener bus. Listener
  * events arrive asynchronously; [[drain]] runs a marker job and waits
  * until it is delivered, and the bus delivers events in order, so every
  * event posted before it has been seen (marker jobs are not counted). */
object SparkEvents extends AdaptiveSparkPlanHelper {

  /** Block until every listener event posted so far is delivered. */
  def drain(spark: SparkSession): Unit = Probe.drainListenerBus(spark)

  /** Spark jobs `body` runs, on any thread (streams included). */
  def jobCount(spark: SparkSession)(body: => Unit): Int = jobSites(spark)(body).size

  /** Call sites of the Spark jobs `body` runs, in start order, as
    * `Probe --jobs` prints them. */
  def jobSites(spark: SparkSession)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    drain(spark)
    val sites = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!Probe.isMarker(e)) sites.add(Probe.callSite(e))
    }
    sc.addSparkListener(l)
    try { body; drain(spark); sites.asScala.toSeq } finally sc.removeSparkListener(l)
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
