package graft.cdc

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.spark

/** Checkpoint-recovery gate: a stream that stops mid-corpus must
  * resume from its checkpoint EXACTLY-ONCE — source offsets (already-
  * read files are not replayed), operator state (dedup sets, group
  * state, window partials), and watermark all reload. The bounded
  * registry runners drain in one go, so this is the one streaming
  * behavior they never exercise; in production (SURVEY §3) it is the
  * difference between a crash being a non-event and silent duplicate
  * or vanished rows. Each test runs phase 1 over part A of a feed,
  * STOPS the query (simulated crash — the sink and checkpoint are
  * durable, the query object is discarded), adds part B, and restarts
  * the same plan against the same checkpoint + parquet sink. State
  * runs under the scaffold's production default (RocksDB), so the
  * restart also proves RocksDB snapshot reload, not just HDFS-backed
  * state. Phase-2 assertions read ONLY the sink files created after
  * the restart, so a state wipe cannot hide behind whole-sink
  * aggregation. */
class StreamRecoverySpec extends AnyFunSuite {
  import spark.implicits._

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

  private def stagePart(srcDir: Path, name: String, df: DataFrame): Unit = {
    val tmp = graft.Scratch.dir("graft_recov_stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    Files.move(graft.Scratch.firstParquet(tmp), srcDir.resolve(name))
  }

  /** One bounded run of `build` over `srcDir` into a durable parquet
    * sink + checkpoint; returns the sink part files present after the
    * phase. A second call with the same ckpt/sink IS the restart. */
  private def phase(template: DataFrame, srcDir: Path, sink: Path,
      ckpt: Path)(build: DataFrame => DataFrame): Set[String] = {
    val src = spark.readStream.schema(template.schema)
      .parquet(srcDir.toString)
    CdcStream.drain(CdcStream.startWithStateConf(spark)(build(src).writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", sink.toString)
      .option("checkpointLocation", ckpt.toString)
      .start()))
    listParts(sink)
  }

  test("dropDuplicates survives restart: cross-phase duplicate dropped, offsets not replayed") {
    val srcDir = graft.Scratch.dir("graft_recov_dupsrc")
    val sink = graft.Scratch.dir("graft_recov_dupsink")
    val ckpt = graft.Scratch.dir("graft_recov_dupckpt")
    val a = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("event_id", "v")

    stagePart(srcDir, "000_a.parquet", a)
    val afterA = phase(a, srcDir, sink, ckpt)(_.dropDuplicates("event_id"))
    assert(spark.read.parquet(sink.toString).select("event_id")
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))

    // part B re-sends id 2 (a crash-window duplicate) plus fresh id 4
    stagePart(srcDir, "001_b.parquet",
      Seq((2L, "b-again"), (4L, "d")).toDF("event_id", "v"))
    val afterB = phase(a, srcDir, sink, ckpt)(_.dropDuplicates("event_id"))

    // whole sink: exactly-once end to end
    assert(spark.read.parquet(sink.toString).select("event_id")
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L),
      "sink must hold each id exactly once across the restart")
    // phase-2 files alone: only the NEW id — 2 was dropped by RECOVERED
    // dedup state, and part A's file was not re-read (offset recovery)
    val newFiles = (afterB -- afterA).map(sink.resolve(_).toString)
    assert(newFiles.nonEmpty)
    assert(spark.read.parquet(newFiles.toSeq: _*).select("event_id")
      .as[Long].collect().toSeq === Seq(4L),
      "post-restart batches must emit only the unseen id")
  }

  test("flatMapGroupsWithState state survives restart: stale late change cannot beat recovered max") {
    val srcDir = graft.Scratch.dir("graft_recov_fgsrc")
    val sink = graft.Scratch.dir("graft_recov_fgsink")
    val ckpt = graft.Scratch.dir("graft_recov_fgckpt")
    val a = Seq((7L, 3L), (7L, 10L), (8L, 5L)).toDF("key", "seq")

    def latest(df: DataFrame): DataFrame =
      df.as[(Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout)(
          (k: Long, rows: Iterator[(Long, Long)], st: GroupState[Long]) => {
            val best = (st.getOption.iterator ++ rows.map(_._2)).max
            st.update(best)
            Iterator.single((k, best))
          })
        .toDF("key", "best_seq")

    stagePart(srcDir, "000_a.parquet", a)
    val afterA = phase(a, srcDir, sink, ckpt)(latest)
    assert(spark.read.parquet(sink.toString).as[(Long, Long)]
      .collect().sorted.toSeq === Seq((7L, 10L), (8L, 5L)))

    // a LATE, LOWER-seq change for key 7 arrives after the crash; only
    // recovered group state (best=10) can reject it
    stagePart(srcDir, "001_b.parquet", Seq((7L, 6L)).toDF("key", "seq"))
    val afterB = phase(a, srcDir, sink, ckpt)(latest)

    val newFiles = (afterB -- afterA).map(sink.resolve(_).toString)
    assert(newFiles.nonEmpty)
    assert(spark.read.parquet(newFiles.toSeq: _*).as[(Long, Long)]
      .collect().toSeq === Seq((7L, 10L)),
      "restarted batch must emit the RECOVERED max (10), not the late 6")
  }

  test("watermarked window aggregation survives restart: restart-spanning window merges both phases") {
    val srcDir = graft.Scratch.dir("graft_recov_wsrc")
    val sink = graft.Scratch.dir("graft_recov_wsink")
    val ckpt = graft.Scratch.dir("graft_recov_wckpt")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // part A: window H0 [00:00,01:00) ×2, H1 [01:00,02:00) ×1; max ts
    // 01:30 ⇒ watermark 01:20 after the drain, so H0 finalizes and is
    // EMITTED in phase 1 while H1 stays open in state across the crash
    val a = Seq((ts("2026-01-01 00:10:00"), "x"),
        (ts("2026-01-01 00:20:00"), "x"),
        (ts("2026-01-01 01:10:00"), "x"),
        (ts("2026-01-01 01:30:00"), "wm"))
      .toDF("ts", "t")

    // punctuation rows must flow THROUGH the watermark node to advance
    // it: a pre-watermark filter starves it, and even a POST-agg
    // filter on the grouping column is pushed back below the
    // watermark by Catalyst (filters on grouping keys commute with
    // groupBy) — so the stream keeps the "wm" groups and the
    // assertions exclude them, mirroring how runPunctuatedAppend's
    // callers drop the sentinel only after the sink materializes
    def winCount(df: DataFrame): DataFrame =
      df.withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "1 hour"), $"t")
        .agg(count(lit(1)).as("n"))
        .select(date_format($"window.start", "HH:mm").as("h"), $"t", $"n")
    def real(df: DataFrame): Seq[(String, Long)] =
      df.filter($"t" =!= "wm").select($"h", $"n")
        .as[(String, Long)].collect().sortBy(_._1).toSeq

    stagePart(srcDir, "000_a.parquet", a)
    val afterA = phase(a, srcDir, sink, ckpt)(winCount)
    assert(real(spark.read.parquet(sink.toString)) === Seq(("00:00", 2L)),
      "phase 1 must finalize exactly the H0 window")

    // part B adds a second H1 row — the restart-spanning window — plus
    // an H2 row and a far-future punctuation row closing everything
    stagePart(srcDir, "001_b.parquet",
      Seq((ts("2026-01-01 01:40:00"), "x"),
        (ts("2026-01-01 02:10:00"), "x"),
        (ts("2026-01-01 10:00:00"), "wm")).toDF("ts", "t"))
    val afterB = phase(a, srcDir, sink, ckpt)(winCount)

    // whole sink: every real window exactly once, H1 = A-row + B-row
    assert(real(spark.read.parquet(sink.toString)) ===
      Seq(("00:00", 2L), ("01:00", 2L), ("02:00", 1L)),
      "restart-spanning H1 must merge the recovered partial (1+1)")
    // phase-2 files alone must carry H1 as 2 — a wiped state store
    // would emit H1 = 1 here and the whole-sink read could not see it
    val newFiles = (afterB -- afterA).map(sink.resolve(_).toString)
    assert(newFiles.nonEmpty)
    assert(real(spark.read.parquet(newFiles.toSeq: _*)) ===
      Seq(("01:00", 2L), ("02:00", 1L)))
  }
}
