package graftbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark harness entry point. `run.py` drives it; the modes are
  *
  *   run   k=v...            one measured run of a workload; writes raw
  *                           measurements to `<out>/raw.json`
  *   feed  <dir> <seed> <events> <perSegment>
  *                           write a seeded feed sample (determinism test)
  *
  * Every figure is measured from outside graft: wall clocks around the
  * public calls, plus Spark's public listener APIs (see [[Tracer]]). */
object Main {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") => run(args.tail.map { a =>
      val Array(k, v) = a.split("=", 2); k -> v }.toMap)
    case Some("feed") =>
      Feed.writeSample(java.nio.file.Paths.get(args(1)), args(2).toLong, 4000,
        args(3).toInt, args(4).toInt, 1000.0)
    case _ =>
      System.err.println("usage: graftbench.Main run k=v... | feed <dir> <seed> <events> <perSegment>")
      sys.exit(2)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      // between queries the harness drops caches and finished sinks but
      // skips release()'s forced GCs: one GC runs between passes instead
      .config("spark.graft.release.gc", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Driver heap in use after a forced, settled GC. */
  def heapLiveMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def run(conf: Map[String, String]): Unit = {
    val out = conf("out")
    val cores = conf("cores").toInt
    val trace = conf("trace") == "1"
    val workload = conf("workload")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, conf("work"))
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer(spark, workload)
    val box = if (trace) Some(Canary.pre(spark)) else None
    val probePre = Probe.read(cores)
    val body: Json.Obj = workload match {
      case "cdc_ingest" => new Ingest(spark, conf, tracer).run()
      case _ => new ClosedLoop(spark, conf, tracer).run()
    }
    val kernels = if (trace) Some(Kernels.measure(spark, conf("data"), conf("seed").toLong))
      else None
    val probePost = Probe.read(cores)
    val boxPost = box.map(_ => Canary.post(spark))
    val heap = heapLiveMb()
    Json.write(s"$out/raw.json", Json.Obj(
      "workload" -> workload, "trace" -> trace, "cores" -> cores,
      "session_s" -> sessionS, "heap_live_mb" -> heap, "body" -> body,
      "kernels" -> kernels, "box_pre" -> box, "box_post" -> boxPost,
      "probe_pre_ms" -> probePre, "probe_post_ms" -> probePost,
      "trace_callback_ms" -> tracer.callbackMs,
      "unattributed" -> tracer.unattributed.toJson))
    if (trace) Json.write(s"$out/spans.json", tracer.spansJson)
    spark.stop()
  }
}
