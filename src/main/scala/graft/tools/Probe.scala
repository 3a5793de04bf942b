package graft.tools

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}

import graft.{GraftSession, SparkEntry}

/** Time, job-attribute and plan-dump registered queries on the shipped
  * session (`GraftSession.builder`, graft extensions loaded, so plans
  * and timings are the ones Bench and Verify see):
  *
  *   runMain graft.tools.Probe <sfDir> <q,...|all> [--runs N] [--order S]
  *     [--jobs] [--plans DIR] [k=v ...]
  *
  * The session is `local[n]` with n shuffle partitions, n from
  * `SPARK_GRAFT_CPUS` (default: the core count); `k=v` arguments are
  * extra session confs, set on the builder so static confs apply too.
  *
  * Each query is warmed once on the sibling `sf0.001` (codegen and JIT),
  * then timed `--runs` times (default 2) with [[GraftSession.release]]
  * before every run, so no timing is served from an earlier run's cache
  * or pays for its retained sinks. A `TIMER` line prints the pairwise
  * min and the raw runs: a real regression moves every run, a noisy
  * window moves one. `all` sweeps the registry in name order, bracketed
  * by the [[DriftCanary]] probes and a `CANARY VERDICT`; `--order S`
  * permutes the queries with seed S, because order-dependent failures
  * (broadcast drain vs cleaner races under a 2 GB heap) never show in
  * one fixed order. A failing query prints a `FAILED` line and the sweep
  * goes on; the exit code is non-zero when any query failed.
  *
  * `--jobs` prints every Spark job of the fastest timed run with its
  * scheduler-stamped wall time and the call site of its last stage (the
  * action: parquet write, collect, count...) — the per-phase split of a
  * composite query or of a streaming runner's foreachBatch body, which a
  * plan dump cannot show.
  *
  * `--plans DIR` runs each query once more and drains its OWN
  * QueryExecution: the timing `count()` plans a separate, column-pruned
  * execution and leaves the query's adaptive plan unexecuted, so its
  * runtime join elections would be missing. `DIR/<q>.txt` gets the
  * formatted pre-execution plan, the optimized logical plan and the
  * AQE-final physical plan; stdout gets the exchange inventory. */
object Probe {

  private val Usage =
    "Probe <sfDir> <q,...|all> [--runs N] [--order S] [--jobs] [--plans DIR] [k=v ...]"

  private case class Opts(pos: Vector[String] = Vector.empty, runs: Int = 2,
      order: Option[Long] = None, jobs: Boolean = false,
      plans: Option[File] = None, confs: Vector[(String, String)] = Vector.empty)

  @annotation.tailrec
  private def parse(rest: List[String], o: Opts = Opts()): Opts = rest match {
    case Nil =>
      require(o.pos.size == 2 && o.runs >= 1, s"usage: $Usage")
      o
    case "--runs" :: n :: t => parse(t, o.copy(runs = n.toInt))
    case "--order" :: s :: t => parse(t, o.copy(order = Some(s.toLong)))
    case "--jobs" :: t => parse(t, o.copy(jobs = true))
    case "--plans" :: d :: t => parse(t, o.copy(plans = Some(new File(d))))
    case a :: _ if a.startsWith("--") =>
      throw new IllegalArgumentException(s"bad option $a; usage: $Usage")
    case kv :: t if kv.contains("=") =>
      val Array(k, v) = kv.split("=", 2)
      parse(t, o.copy(confs = o.confs :+ (k -> v)))
    case p :: t => parse(t, o.copy(pos = o.pos :+ p))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val n = GraftSession.cpus
    val b = GraftSession.builder(s"local[$n]", n)
      .config("spark.ui.enabled", "false")
    o.confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val failed = try run(spark, args.toSeq) finally spark.stop()
    if (failed > 0) sys.exit(1)
  }

  private case class Job(id: Int, sec: Double, site: String)
  private case class Run(sec: Double, rows: Long, jobs: Seq[Job])

  /** Probe the queries `args` names on `spark`, printing to stdout.
    * `k=v` arguments are ignored here: they are session confs, which
    * only [[main]] can set. Returns the number of failed queries. */
  def run(spark: SparkSession, args: Seq[String]): Int = {
    val o = parse(args.toList)
    val Seq(sfDir, which) = o.pos
    val all = which == "all"
    val names = {
      val base = if (all) SparkEntry.queries.keys.toSeq.sorted else which.split(",").toSeq
      o.order.fold(base) { seed =>
        println(s"ORDER seed=$seed (randomized query order)")
        new scala.util.Random(seed).shuffle(base)
      }
    }
    val tiny = new File(new File(sfDir).getParentFile, "sf0.001")
    o.plans.foreach(_.mkdirs())
    val jobLog = if (o.jobs) Some(new JobLog(spark)) else None
    try {
      // drift canaries bracket a full sweep: scan/CPU class and
      // shuffle/join class (window drift can be class-selective)
      val canariesPre = if (all) {
        val pre = (DriftCanary.warmThenTime(spark), DriftCanary.warmThenTimeJoin(spark))
        println(f"TIMER __canary_pre__: ${pre._1}%.2f s")
        println(f"TIMER __canary2_pre__: ${pre._2}%.2f s")
        Some(pre)
      } else None
      var total = 0.0
      var failed = 0
      names.foreach { n =>
        try {
          val fn = SparkEntry.queries.getOrElse(n,
            throw new NoSuchElementException(s"no registered query '$n'"))
          if (tiny.isDirectory) fn(spark, tiny.getPath).count()
          val runs = (1 to o.runs).map { _ =>
            GraftSession.release(spark)
            jobLog.foreach(_.reset())
            val t0 = System.nanoTime()
            val rows = fn(spark, sfDir).count()
            val sec = (System.nanoTime() - t0) / 1e9
            Run(sec, rows, jobLog.fold(Seq.empty[Job])(_.jobs()))
          }
          val best = runs.minBy(_.sec)
          total += best.sec
          val raw = runs.map(r => f"${r.sec}%.2f").mkString("/")
          println(f"TIMER $n: ${best.sec}%.2f s (${best.rows} rows, runs $raw)")
          if (o.jobs) {
            println(f"JOBS $n: ${best.jobs.size} jobs, " +
              f"job-sum ${best.jobs.map(_.sec).sum}%.2f s")
            best.jobs.foreach(j => println(f"  job ${j.id}%4d ${j.sec}%7.3f s  ${j.site}"))
          }
          o.plans.foreach(dumpPlans(n, fn(spark, sfDir), _))
        } catch {
          case NonFatal(e) =>
            failed += 1
            println(s"TIMER $n: FAILED ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").take(120))
        }
      }
      canariesPre.foreach { case (scanPre, joinPre) =>
        val (scanPost, joinPost) = (DriftCanary.run(spark), DriftCanary.runJoin(spark))
        println(f"TIMER __canary_post__: $scanPost%.2f s")
        println(f"TIMER __canary2_post__: $joinPost%.2f s")
        val drifted = DriftCanary.driftedClasses(Seq(
          "scan" -> Seq(scanPre, scanPost), "shuffle" -> Seq(joinPre, joinPost)))
        println(s"CANARY VERDICT: drift_classes=${drifted.mkString("[", ",", "]")}")
      }
      println(f"TIMER __total__: $total%.2f s (pairwise-min of ${o.runs} runs/query)")
      failed
    } finally {
      jobLog.foreach(spark.sparkContext.removeSparkListener)
      GraftSession.release(spark)
    }
  }

  /** Jobs that finish between [[reset]] and [[jobs]], marker jobs
    * excluded. */
  private final class JobLog(spark: SparkSession) extends SparkListener {
    private val starts = new ConcurrentHashMap[Int, (Long, String)]()
    private val done = new ConcurrentLinkedQueue[Job]()
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (!isMarker(e)) starts.put(e.jobId, (e.time, callSite(e)))

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(starts.remove(e.jobId)).foreach { case (t0, site) =>
        done.add(Job(e.jobId, (e.time - t0) / 1e3, site))
      }

    def reset(): Unit = { drainListenerBus(spark); done.clear() }

    def jobs(): Seq[Job] = { drainListenerBus(spark); done.asScala.toSeq.sortBy(_.id) }
  }

  /** A job's call site: the first line of its final stage's name
    * (e.g. `parquet at Tables.scala:58`). */
  private[graft] def callSite(e: SparkListenerJobStart): String =
    e.stageInfos.sortBy(_.stageId).lastOption
      .map(_.name.takeWhile(_ != '\n')).getOrElse("?")

  private val MarkerKey = "graft.listener.marker"

  /** Whether `e` is a [[drainListenerBus]] marker job. */
  private[graft] def isMarker(e: SparkListenerJobStart): Boolean =
    e.properties != null && e.properties.getProperty(MarkerKey) != null

  /** Block until every listener event posted so far is delivered: run a
    * marker job and wait for its start event — the bus delivers in
    * order, so everything posted before it has been seen. */
  private[graft] def drainListenerBus(spark: SparkSession): Unit = {
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
      require(seen.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally sc.removeSparkListener(l)
  }

  /** Drain `df`'s own QueryExecution one partition at a time (never the
    * full result on the driver), write its three plans to `dir/<n>.txt`
    * and print its exchange inventory. */
  private def dumpPlans(n: String, df: DataFrame, dir: File): Unit = {
    val formatted = df.queryExecution.explainString(FormattedMode)
    val it = df.toLocalIterator()
    while (it.hasNext) it.next()
    val txt = s"=== $n explain formatted ===\n$formatted\n" +
      s"=== $n optimized ===\n${df.queryExecution.optimizedPlan.treeString}\n" +
      s"=== $n executed (AQE-final) ===\n${df.queryExecution.executedPlan}\n"
    val f = new File(dir, s"$n.txt")
    Files.write(f.toPath, txt.getBytes("UTF-8"))
    println(s"wrote ${f.getPath} (${txt.length} chars)")
    inventory(n, df)
  }

  /** Print the exchange inventory of an executed df's adaptive plan:
    * each shuffle's partitioning, each broadcast's built rows and size,
    * each reuse. */
  private def inventory(n: String, df: DataFrame): Unit = {
    // identity-visited: ReusedExchangeExec.child is the original
    // exchange, so without the guard every reused subtree counts twice;
    // AQE keeps materialized stages in QueryStageExec.plan, a field,
    // not a child
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = Seq.newBuilder[String]
    var shuffles = 0
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case e: ShuffleExchangeExec =>
          shuffles += 1; out += s"  X ${e.outputPartitioning}"
        case b: BroadcastExchangeExec =>
          val sz = b.metrics.get("dataSize").map(_.value).getOrElse(-1L)
          val rows = b.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
          out += f"  B rows=$rows size=${sz / 1024.0 / 1024.0}%.1f MiB  ${b.child.nodeName}"
        case r: ReusedExchangeExec =>
          out += s"  R reuse -> ${r.child.nodeName}(${r.child.id})"
        case _ => ()
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case _ => ()
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    println(s"PLAN $n exchanges=$shuffles")
    out.result().foreach(println)
  }
}
