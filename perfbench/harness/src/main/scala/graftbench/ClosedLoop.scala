package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{GraftSession, SparkEntry}

/** Closed-loop workload: the workload's registry queries, one at a time
  * in a fixed order, pass after pass, all on the run's input. The first
  * `warm_passes` passes are the warm-up: a fresh JVM keeps speeding the
  * queries up for several passes while class loading, code generation
  * and JIT compilation of the planner and runtime settle. They are
  * checked and their time counts as set-up, not as measurement. A fixed
  * number of measured passes follows, so every run measures the same
  * stretch of the JVM's life.
  *
  * Per query the harness times `build` (the call into the registry
  * function; bounded streams drain here) and `action` (collecting the
  * complete result). The first pass's results are written for the
  * oracle check; every later pass must reproduce them exactly.
  *
  * A traced run alternates traced and untraced measured passes, so the
  * tracing overhead is measured inside one run on one input. */
final class ClosedLoop(spark: SparkSession, conf: Map[String, String], tracer: Tracer) {
  private val out = conf("out")
  private val queries = conf("queries").split(",").toSeq
  private val warmPasses = conf("warm_passes").toInt
  private val passCount = warmPasses + conf("passes").toInt
  private val trace = conf("trace") == "1"
  private val registry = SparkEntry.queries

  /** Bytes the engine writes (shuffle + files), counted in every run:
    * the numerator of write_amp. */
  private val written = new java.util.concurrent.atomic.AtomicLong(0)
  private val byteCounter = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      written.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.outputMetrics.bytesWritten)
    }
  }

  private def release(): Unit = GraftSession.release(spark)

  /** Order-insensitive canonical form of a result (binary as hex, maps
    * by key), so passes compare by value, not by object identity. */
  private def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }
  private def fingerprint(rows: Array[Row]): Seq[String] = rows.map(canon).sorted.toSeq

  def run(): Json.Obj = {
    spark.sparkContext.addSparkListener(byteCounter)
    val firstRows = mutable.LinkedHashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    val prints = mutable.Map.empty[String, Seq[String]]
    val passes = mutable.ArrayBuffer.empty[Json.Obj]
    val failures = mutable.ArrayBuffer.empty[Json.Obj]
    var pass = 0
    var warmS = 0.0
    val warmStart = System.nanoTime()
    while (pass < passCount) {
      if (pass == warmPasses) warmS = (System.nanoTime() - warmStart) / 1e9
      // a traced run alternates its measured passes: traced, untraced, ...
      val traced = trace && pass >= warmPasses && (pass - warmPasses) % 2 == 0
      if (traced) tracer.install()
      val passSpan = tracer.open("pass", "", 0L)
      val before = written.get
      val results = queries.map { q =>
        val qs = tracer.open("query", q, passSpan.id)
        val t0 = System.nanoTime()
        val bs = tracer.open("build", q, qs.id)
        var t1 = 0L
        val res = try {
          val df: DataFrame = registry(q)(spark, conf("data"))
          t1 = System.nanoTime(); tracer.close(bs)
          val as = tracer.open("action", q, qs.id)
          val rows = try df.collect() finally tracer.close(as)
          Right((rows, df.schema))
        } catch { case t: Throwable =>
          if (t1 == 0L) { t1 = System.nanoTime(); tracer.close(bs) }
          Left(t.toString)
        }
        val t2 = System.nanoTime()
        tracer.close(qs)
        val status = res match {
          case Left(err) => err
          case Right((rows, schema)) =>
            val fp = fingerprint(rows)
            prints.get(q) match {
              case None => prints(q) = fp; firstRows(q) = (rows, schema); "ok"
              case Some(first) if first == fp => "ok"
              case Some(_) => "result differs from pass 0"
            }
        }
        if (status != "ok") failures += Json.Obj("query" -> q, "pass" -> pass, "error" -> status)
        release()
        Json.Obj("query" -> q, "build_ms" -> (t1 - t0) / 1e6, "action_ms" -> (t2 - t1) / 1e6,
          "wall_ms" -> (t2 - t0) / 1e6, "span" -> qs.id, "ok" -> (status == "ok"),
          "rows" -> res.map(_._1.length).getOrElse(-1))
      }
      tracer.close(passSpan)
      // the listener bus is asynchronous: let it deliver the pass's
      // events before the listeners come off
      if (traced) { Thread.sleep(300); tracer.uninstall() }
      passes += Json.Obj("pass" -> pass, "traced" -> traced, "span" -> passSpan.id,
        "written_bytes" -> (written.get - before), "queries" -> results)
      pass += 1
      System.gc()
    }
    spark.sparkContext.removeSparkListener(byteCounter)

    // results of pass 0, for the oracle comparison (outside all timing)
    firstRows.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/results/$q")
    }
    Json.Obj("kind" -> "closed_loop", "warm_s" -> warmS, "queries" -> queries, "warm_passes" -> warmPasses,
      "failures" -> failures.toSeq, "passes" -> passes.toSeq,
      "oracle_sql" -> queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
  }
}
