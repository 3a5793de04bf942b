package graft.tools

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.cdc.{ApplyChanges, CdcStream, ChangeFeed, ChangeRecord}

/** Gate: kill/restart exactly-once for the stateful latest-state
  * stream AT SWEEP SCALE — the sf1 events feed, under the low-memory
  * gate environment (`SPARK_DRIVER_MEM=2g SPARK_GRAFT_CPUS=8 sbt
  * "runMain graft.tools.StreamRecoverySf1 /tmp/sf1"`; the session is
  * `GraftSession.local` on `SPARK_GRAFT_CPUS` cores, default all).
  * StreamRecoverySpec proves the recovery contract at spec scale
  * (3-row fixtures); this runs the
  * same phase/kill/restart protocol where RocksDB state actually holds
  * the sweep's key population and the heap is tight enough that a
  * recovery-path regression shows up as spilled/corrupt state or an
  * OOM, not a green vacuous pass.
  *
  * Protocol: the sf1 change feed splits into 8 parquet slices
  * round-robin BY SEQ (`seq % 8`, not seq ranges), so phase-2 slices
  * carry seqs below most keys' phase-1 maxima — after the mid-stream
  * kill, only RECOVERED group state can keep those stale late changes
  * from resurrecting old values in the emitted stream. Phase 1
  * streams slices 0–3 (1 file/trigger, RocksDB state), then the query
  * object is discarded (the crash: checkpoint + sink durable); phase
  * 2 stages slices 4–7 and restarts the same plan on the same
  * checkpoint + sink. Asserts, in order:
  *
  *  1. '''post-restart files only''': every emission's seq ≥ that
  *     key's phase-1 sink maximum — a wiped state store would emit
  *     slice-4's stale maxima here, and a whole-sink read could not
  *     see it (the spec's newFiles discipline, at scale);
  *  2. '''whole sink''': latest-per-key (max seq, deletes dropped)
  *     equals the batch [[ApplyChanges.latest]] answer — exactly-once
  *     end to end. Compared distributed (`except` both ways), never
  *     collected.
  */
object StreamRecoverySf1 {

  private def listParts(dir: Path): Set[String] = {
    if (!Files.isDirectory(dir)) return Set.empty
    val s = Files.list(dir)
    try {
      val it = s.iterator()
      var acc = Set.empty[String]
      while (it.hasNext) {
        val n = it.next().getFileName.toString
        if (n.endsWith(".parquet")) acc += n
      }
      acc
    } finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1")
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val t0 = System.nanoTime()
    def sec = f"${(System.nanoTime() - t0) / 1e9}%.1f s"

    // ---- stage: 8 round-robin slices of the sf1 change feed --------
    val changes = ChangeFeed.records(ChangeFeed.fromEvents(spark, sfDir)).toDF()
    val stage = graft.Scratch.dir("graft_recovsf1_stage")
    changes.withColumn("sl", pmod($"seq", lit(8L)).cast("int"))
      .repartition($"sl")
      .write.mode("overwrite").partitionBy("sl").parquet(stage.toString)
    val srcDir = graft.Scratch.dir("graft_recovsf1_src")
    def stageSlices(range: Range): Unit = range.foreach { i =>
      val d = stage.resolve(s"sl=$i")
      require(Files.isDirectory(d), s"missing slice $i")
      val fs = Files.list(d)
      try {
        val it = fs.iterator()
        var j = 0
        while (it.hasNext) {
          val f = it.next()
          if (f.getFileName.toString.endsWith(".parquet")) {
            Files.move(f, srcDir.resolve(f"$i%03d_$j%02d.parquet"))
            j += 1
          }
        }
      } finally fs.close()
    }
    println(s"RECOV staged feed ($sec)")

    val sink = graft.Scratch.dir("graft_recovsf1_sink")
    val ckpt = graft.Scratch.dir("graft_recovsf1_ckpt")
    val feedSchema = changes.schema

    // Append-mode running-max state (the spec's `latest` shape — the
    // parquet sink admits only Append; state machinery identical to
    // CdcStream.latestState)
    def phase(): Set[String] = {
      val src = spark.readStream.schema(feedSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
        .as[ChangeRecord]
      val out = src.groupByKey(_.key)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          (_: Long, rows: Iterator[ChangeRecord], st: GroupState[ChangeRecord]) => {
            val best = (st.getOption.iterator ++ rows).maxBy(_.seq)
            st.update(best)
            Iterator.single(best)
          })
        .toDF()
      CdcStream.drain(CdcStream.startWithStateConf(spark)(out.writeStream
        .outputMode(OutputMode.Append)
        .format("parquet")
        .option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString)
        .start()))
      listParts(sink)
    }

    // ---- phase 1: slices 0-3, then the crash -----------------------
    stageSlices(0 until 4)
    val afterA = phase()
    val p1max = spark.read.parquet(sink.toString)
      .groupBy($"key").agg(max($"seq").as("p1max"))
      .persist()
    val p1keys = p1max.count()
    println(s"RECOV phase1 done: ${afterA.size} sink files, $p1keys keys ($sec)")

    // ---- phase 2: stage the stale-heavy tail, restart --------------
    stageSlices(4 until 8)
    val afterB = phase()
    val newFiles = (afterB -- afterA).map(sink.resolve(_).toString).toSeq
    require(newFiles.nonEmpty, "restart emitted nothing — vacuous run")

    // (1) recovered state beats stale late rows, visible in NEW files only
    val stale = spark.read.parquet(newFiles: _*)
      .join(p1max, "key")
      .filter($"seq" < $"p1max")
      .count()
    println(s"RECOV phase2 done: ${newFiles.size} new files, stale emissions=$stale ($sec)")

    // (2) whole-sink latest == batch latest, both directions
    def latestOf(df: DataFrame): DataFrame =
      ApplyChanges.latest(df, Seq("key"), Seq("seq"))
        .select($"key", $"seq", $"op", $"event_type", $"value", $"tsMicros")
    val sinkLatest = latestOf(spark.read.parquet(sink.toString))
    val batchLatest = latestOf(changes)
    val missing = batchLatest.except(sinkLatest).count()
    val extra = sinkLatest.except(batchLatest).count()
    println(s"RECOV compare: missing=$missing extra=$extra ($sec)")

    val ok = stale == 0 && missing == 0 && extra == 0
    println(s"RECOV VERDICT: ${if (ok) "PASS" else "FAIL"} " +
      s"(stale=$stale missing=$missing extra=$extra, " +
      s"heap=${Runtime.getRuntime.maxMemory() / (1024 * 1024)} MiB, " +
      s"master=${spark.sparkContext.master})")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
