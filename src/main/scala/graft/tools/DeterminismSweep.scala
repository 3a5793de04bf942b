package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Partition-count determinism audit (r11, generalizing the
  * dedup_containment find): the containment anomaly was an
  * execution-order-dependent tie in a window — invisible at the
  * driver's fixed partition count, decisive under AQE's runtime
  * coalescing. This sweep hunts the whole class: every registered
  * query runs TWICE at sf0.01 with AQE on — once at 32 shuffle
  * partitions (the driver's shape) and once at 7 (a prime, so every
  * hash boundary moves) — and the full result multisets are compared
  * by an order-insensitive content hash. A query whose RESULT depends
  * on the partition count has an order-dependent tie or a
  * non-associative fold that a 1000-executor cluster would surface as
  * a silent wrong answer; the driver's single-shape oracle can never
  * catch it.
  *
  * A second axis (`splits`) moves the SCAN partition boundaries
  * instead: `files.maxPartitionBytes` 128m vs 1m (with openCost
  * dropped so tiny splits actually happen). Shuffle-partition count
  * never moves which rows share a FIRST-stage task; split size does —
  * it is the axis that catches split-dependent ids, first-stage
  * partial-fold order, and per-task init effects. On a cluster the
  * scan split layout changes with file sizes, packing, and locality
  * on every single run.
  *
  * A third axis (`codegen`) compares whole-stage-codegen'd execution
  * against fully INTERPRETED execution (wholeStage off + expression
  * factory forced to NO_CODEGEN). Every custom Catalyst expression in
  * the tree (minhash_sig, vec kernels, pq codes, wire decode, min_k)
  * carries two implementations of its semantics — eval and doGenCode —
  * and a divergence between them is a silent wrong answer that
  * switches on with a conf flag or a codegen bailout (64 KB method
  * limit, nested-expression fallback) at cluster scale.
  *
  *   runMain graft.tools.DeterminismSweep <sfDir> [shuffle|splits|codegen]
  */
object DeterminismSweep {
  /** Order-insensitive content hash of a result, shared with
    * [[ChaosRetrySweep]]: (row count, sum over rows of xxhash64 of the
    * string-cast columns). Each row hash is reduced mod 1e9+7 first,
    * so the BIGINT sum cannot overflow (an ANSI abort). */
  def contentHash(df: DataFrame): (Long, Long) = {
    val row = df
      .select(xxhash64(df.columns.toSeq.map(c => col(c).cast("string")): _*).as("h"))
      .agg(count(lit(1)), sum((col("h") % 1000000007L).cast("long")))
      .collect()(0)
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val axis = if (args.length > 1) args(1) else "shuffle"
    val spark = graft.GraftSession.builder("local[8]", 32)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def queryHash(name: String): (Long, Long) = {
      val r = contentHash(graft.SparkEntry.queries(name)(spark, sfDir))
      graft.GraftSession.release(spark)
      r
    }

    def setShape(variant: Int): Unit = axis match {
      case "splits" =>
        // move the SCAN split boundaries, keep the shuffle shape fixed
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        spark.conf.set("spark.sql.files.maxPartitionBytes",
          if (variant == 0) "134217728" else "1048576")
      case "codegen" =>
        // codegen'd vs fully interpreted: both paths of every custom
        // expression's (eval, doGenCode) pair must agree
        spark.conf.set("spark.sql.codegen.wholeStage",
          (variant == 0).toString)
        spark.conf.set("spark.sql.codegen.factoryMode",
          if (variant == 0) "FALLBACK" else "NO_CODEGEN")
      case _ =>
        spark.conf.set("spark.sql.shuffle.partitions",
          if (variant == 0) "32" else "7")
    }
    val tag = axis match {
      case "splits" => Seq("128m", "1m")
      case "codegen" => Seq("gen", "interp")
      case _ => Seq("32p", "7p")
    }
    var bad = 0
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      try {
        setShape(0)
        val a = queryHash(name)
        setShape(1)
        val b = queryHash(name)
        if (a == b) println(s"DET ok   $name $a")
        else { bad += 1; println(s"DET DIFF $name ${tag(0)}=$a ${tag(1)}=$b") }
      } catch {
        case e: Exception =>
          bad += 1
          println(s"DET ERR  $name ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    println(if (bad == 0) "DET VERDICT: ALL DETERMINISTIC"
            else s"DET VERDICT: $bad queries diverge or err")
    spark.stop()
  }
}
