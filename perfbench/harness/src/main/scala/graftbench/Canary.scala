package graftbench

import org.apache.spark.sql.SparkSession

import graft.tools.DriftCanary

/** Machine drift gauges around a traced run: `DriftCanary.run` (scan and
  * CPU class) and `DriftCanary.runJoin` (shuffle and join class).
  *
  * Pre-flight: take readings until the last two of each canary agree
  * within 1.5x (the first reading also pays codegen), at most
  * [[MaxReadings]] times. A run whose readings never settle is flagged,
  * never discarded. */
object Canary {
  val MaxReadings = 3
  val Settled = 1.5

  private def reading(spark: SparkSession): (Double, Double) =
    (DriftCanary.run(spark), DriftCanary.runJoin(spark))

  private def agree(a: Double, b: Double): Boolean =
    math.max(a, b) / math.max(1e-9, math.min(a, b)) < Settled

  def pre(spark: SparkSession): Json.Obj = {
    val rs = scala.collection.mutable.ArrayBuffer(reading(spark), reading(spark))
    def settled = {
      val Seq(a, b) = rs.takeRight(2).toSeq
      agree(a._1, b._1) && agree(a._2, b._2)
    }
    while (!settled && rs.size < MaxReadings) rs += reading(spark)
    Json.Obj("scan_s" -> rs.map(_._1).toSeq, "shuffle_s" -> rs.map(_._2).toSeq,
      "flagged" -> !settled)
  }

  def post(spark: SparkSession): Json.Obj = {
    val (scan, shuffle) = reading(spark)
    Json.Obj("scan_s" -> Seq(scan), "shuffle_s" -> Seq(shuffle))
  }
}

/** Cheap machine gauge read in every run, traced or not: a fixed
  * integer-hash loop on every core at once, timed [[Readings]] times
  * after a JIT warm-up. It moves with the machine's speed and with
  * contention for its cores, never with graft's code, so a run-to-run
  * drift claim can be checked against it. */
object Probe {
  val Readings = 7
  private val Iterations = 8 << 20

  private def loop(seed: Long): Long = {
    var h = seed
    var i = 0
    while (i < Iterations) {
      h ^= i.toLong; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
      i += 1
    }
    h
  }

  /** Wall milliseconds of one loop on each of `cores` threads. */
  private def once(cores: Int): Double = {
    val t0 = System.nanoTime()
    val threads = (0 until cores).map(k => new Thread(() => if (loop(k) == 42L) println("")))
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  /** Milliseconds per reading, in reading order. */
  def read(cores: Int): Seq[Double] = {
    (1 to 3).foreach(_ => once(cores))
    (1 to Readings).map(_ => once(cores))
  }
}
