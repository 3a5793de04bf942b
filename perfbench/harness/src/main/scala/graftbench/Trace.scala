package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener counters summed over the jobs, planning runs and streaming
  * progress events attributed to one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var schedDelayMs = 0L
  var execRunMs = 0L
  var execCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var planMs = 0.0
  var planRuns = 0L
  /** Spark's own duration of the executions (QueryExecutionListener). */
  var qeMs = 0.0
  var batches = 0L
  val durations: mutable.Map[String, Long] = mutable.Map.empty
  var stateRows = 0L
  var stateCommitMs = 0L

  def toJson: Json.Obj = Json.Obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "sched_delay_ms" -> schedDelayMs, "exec_run_ms" -> execRunMs,
    "exec_cpu_ms" -> execCpuNs / 1e6, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "output_bytes" -> outputBytes, "plan_ms" -> planMs, "plan_runs" -> planRuns, "qe_ms" -> qeMs,
    "batches" -> batches, "state_rows" -> stateRows, "state_commit_ms" -> stateCommitMs,
    "durations_ms" -> Json.Obj(durations.toSeq.sortBy(_._1).map { case (k, v) => k -> (v: Any) }: _*))
}

/** One timed interval of the run: a pass, a query, or a query's build
  * or action phase. `parent` is the enclosing span's id (0 = run). */
final case class Span(id: Long, name: String, parent: Long, workload: String,
    query: String, startMs: Long) {
  val counters = new Counters
  val startNs: Long = System.nanoTime()
  @volatile var endMs = 0L
  @volatile var endNs = 0L
}

/** Attributes Spark's public listener events to the harness's spans.
  *
  *  - SparkListener: a job carries the span id as a local property
  *    (inherited by stream threads started inside the span), so jobs,
  *    stages and tasks map to spans exactly, whatever thread ran them.
  *  - QueryExecutionListener: planning phases (analysis, optimization,
  *    physical planning) from each execution's tracker, attributed to
  *    the innermost closed-loop span open when optimization started.
  *  - StreamingQueryListener: per-micro-batch durations and state-store
  *    figures, attributed through the query's id to the span that
  *    started it.
  *
  * Everything stays in memory; [[spansJson]] renders it at the end.
  * The time spent inside the callbacks is itself measured. */
final class Tracer(spark: SparkSession, workload: String) {
  val SpanKey = "graftbench.span"
  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val streamSpan = new ConcurrentHashMap[String, Long]()
  val unattributed = new Counters
  private val callbackNs = new AtomicLong(0)
  @volatile private var timeline: Vector[Span] = Vector.empty

  def callbackMs: Double = callbackNs.get / 1e6

  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  private def countersOf(span: Long): Counters =
    Option(spans.get(span)).map(_.counters).getOrElse(unattributed)

  /** Open a span on the calling thread; jobs started on this thread (and
    * threads it starts) until [[close]] are attributed to it. */
  def open(name: String, query: String, parent: Long): Span = {
    val s = Span(nextId.getAndIncrement(), name, parent, workload, query,
      System.currentTimeMillis())
    spans.put(s.id, s)
    spark.sparkContext.setLocalProperty(SpanKey, s.id.toString)
    if (name == "query" || name == "build" || name == "action") synchronized {
      timeline = timeline :+ s
    }
    s
  }

  def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    val parent = Option(spans.get(s.parent))
    spark.sparkContext.setLocalProperty(SpanKey, parent.map(_.id.toString).orNull)
  }

  def allSpans: Seq[Span] = spans.values().asScala.toSeq.sortBy(_.id)

  /** Innermost span of the closed-loop timeline covering `ms`. */
  private def spanAt(ms: Long): Option[Span] =
    timeline.reverseIterator.find(s => s.startMs <= ms && (s.endMs == 0L || ms <= s.endMs))

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(id => stageSpan.put(id, span))
      countersOf(span).synchronized { countersOf(span).jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val c = countersOf(stageSpan.getOrDefault(e.stageInfo.stageId, 0L))
      c.synchronized { c.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) {
        val c = countersOf(stageSpan.getOrDefault(e.stageId, 0L))
        val info = e.taskInfo
        // the scheduler delay Spark's own UI reports: task wall time not
        // spent deserializing, running, serializing or fetching results
        val delay = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        c.synchronized {
          c.tasks += 1
          c.schedDelayMs += delay
          c.execRunMs += m.executorRunTime
          c.execCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, 0L)
    private def record(qe: QueryExecution, durationNs: Long): Unit = timed {
      val phases = qe.tracker.phases
      val ms = phases.values.map(_.durationMs).sum
      val at = phases.get("optimization").orElse(phases.values.headOption)
        .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
      val c = spanAt(at).map(_.counters).getOrElse(unattributed)
      c.synchronized { c.planMs += ms; c.planRuns += 1; c.qeMs += durationNs / 1e6 }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = timed {
      val span = Option(spark.sparkContext.getLocalProperty(SpanKey)).map(_.toLong)
      // the start event is posted from the starting thread's context;
      // fall back to the open closed-loop span when the property is gone
      streamSpan.put(e.id.toString, span.orElse(spanAt(System.currentTimeMillis())
        .map(_.id)).getOrElse(0L))
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      val c = countersOf(streamSpan.getOrDefault(p.id.toString, 0L))
      c.synchronized {
        c.batches += 1
        p.durationMs.asScala.foreach { case (k, v) =>
          c.durations(k) = c.durations.getOrElse(k, 0L) + v.longValue }
        p.stateOperators.foreach { s =>
          c.stateRows += s.numRowsTotal
          c.stateCommitMs += s.commitTimeMs
        }
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def spansJson: Json.Arr = Json.Arr(allSpans.map { s =>
    Json.Obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "workload" -> s.workload, "query" -> s.query, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs,
      "dur_ms" -> (s.endNs - s.startNs) / 1e6, "counters" -> s.counters.toJson)
  }: _*)
}
