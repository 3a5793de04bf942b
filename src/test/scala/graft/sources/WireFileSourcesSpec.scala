package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** DataSource V2 wire readers: frame recovery, file-count offsets, and
  * incremental micro-batch planning over a growing segment directory —
  * the contract the reference's replication client loop provides
  * (consume messages in WAL order, resume from a position). */
class WireFileSourcesSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark
  import spark.implicits._

  private def frame(payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val n = payload.length
    out.write((n >>> 24) & 0xff); out.write((n >>> 16) & 0xff)
    out.write((n >>> 8) & 0xff); out.write(n & 0xff)
    out.write(payload)
    out.toByteArray
  }

  test("pgoutput batch read recovers frames in file+frame order") {
    val dir = Files.createTempDirectory("wiresrc_pg").toString
    // two segments, three + two frames, written out of lexical order
    val msgsB = Seq("b0", "b1").map(_.getBytes("UTF-8"))
    val msgsA = Seq("a0", "a1", "a2").map(_.getBytes("UTF-8"))
    Files.write(Paths.get(dir, "seg_00002.bin"),
      msgsB.map(frame).reduce(_ ++ _))
    Files.write(Paths.get(dir, "seg_00001.bin"),
      msgsA.map(frame).reduce(_ ++ _))
    val got = spark.read.format("pgoutput").load(dir)
      .orderBy($"seg_path", $"frame_idx")
      .select($"frame_idx", $"msg".cast("string").as("m"))
      .as[(Long, String)].collect().toSeq
    assert(got === Seq((0L, "a0"), (1L, "a1"), (2L, "a2"), (0L, "b0"), (1L, "b1")))
  }

  test("wal2json batch read yields one doc per line, skipping blanks") {
    val dir = Files.createTempDirectory("wiresrc_w2j").toString
    Files.write(Paths.get(dir, "part-0.txt"),
      "{\"a\":1}\n\n{\"a\":2}\n".getBytes("UTF-8"))
    val got = spark.read.format("wal2json").load(dir)
      .orderBy($"frame_idx").select($"doc").as[String].collect().toSeq
    assert(got === Seq("{\"a\":1}", "{\"a\":2}"))
  }

  test("micro-batch offsets advance by file count and replay only new segments") {
    val dir = Files.createTempDirectory("wiresrc_mb").toString
    Files.write(Paths.get(dir, "seg_00001.bin"), frame("m1".getBytes("UTF-8")))
    val q = spark.readStream.format("pgoutput").load(dir)
      .select($"msg".cast("string").as("m"))
      .writeStream.format("memory").queryName("wire_mb")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("wire_mb").as[String].collect().toSeq === Seq("m1"))
      // a new segment lands: next batch must plan ONLY the new file
      Files.write(Paths.get(dir, "seg_00002.bin"), frame("m2".getBytes("UTF-8")))
      q.processAllAvailable()
      assert(spark.table("wire_mb").as[String].collect().sorted.toSeq ===
        Seq("m1", "m2"))
      // offset is the consumed-file count — the resumable WAL position
      val prog = q.recentProgress.flatMap(p => Option(p.sources)).flatten
      assert(prog.exists(_.endOffset == "2"))
    } finally q.stop()
  }

  test("kill-and-restart resumes from the checkpointed file-count offset without re-emitting") {
    // the reference's StandbyStatusUpdate contract (main.go:64–100):
    // an acked WAL position survives a client restart, and replay
    // starts strictly after it. Here: run a checkpointed query over
    // one segment, STOP it (the kill), land a second segment, start a
    // NEW query on the same checkpoint — the restarted query must
    // deserialize the committed FileCountOffset and plan ONLY the new
    // segment. The foreachBatch sink records every emission, so a
    // re-emitted frame (offset regression) would appear twice.
    val dir = Files.createTempDirectory("wiresrc_restart").toString
    val cp = Files.createTempDirectory("wiresrc_restart_cp").toString
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def start() = spark.readStream.format("pgoutput").load(dir)
      .select($"msg".cast("string").as("m"))
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r => emitted.add(r.getString(0))); ()
      }.start()
    Files.write(Paths.get(dir, "seg_00001.bin"), frame("m1".getBytes("UTF-8")))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(emitted.asScala.toSeq === Seq("m1"))
    Files.write(Paths.get(dir, "seg_00002.bin"), frame("m2".getBytes("UTF-8")))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(emitted.asScala.toSeq === Seq("m1", "m2"),
      s"restart re-emitted or skipped frames: ${emitted.asScala.toSeq}")
  }

  test("segments under a dot/underscore ANCESTOR are read; marker files are skipped by NAME") {
    // r10 review finding: the hidden-file filter matched the whole
    // path string ("/_", "/."), so a /.cache/ or /_staging/ ancestor
    // dir silently emptied every listing — it must test only the
    // file's own name
    val parent = Files.createTempDirectory("wiresrc_hidden")
    val dir = parent.resolve("_staging").resolve(".cache").resolve("wal")
    Files.createDirectories(dir)
    Files.write(dir.resolve("seg0.jsonl"), "{\"a\":1}\n".getBytes("UTF-8"))
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    Files.write(dir.resolve(".seg0.jsonl.crc"), "x".getBytes("UTF-8"))
    val got = spark.read.format("wal2json").load(dir.toString)
    assert(got.count() === 1L, "segment under hidden ancestor not read, or marker files read")
  }

  test("empty directory plans zero partitions, not an error") {
    val dir = Files.createTempDirectory("wiresrc_empty").toString
    assert(spark.read.format("pgoutput").load(dir).count() === 0L)
  }

  test("corrupt frame length fails loudly with file position") {
    val dir = Files.createTempDirectory("wiresrc_bad").toString
    // declared length larger than remaining bytes → EOFException
    Files.write(Paths.get(dir, "seg_00001.bin"),
      Array[Byte](0, 0, 0, 9) ++ "abc".getBytes("UTF-8"))
    val ex = intercept[org.apache.spark.SparkException] {
      spark.read.format("pgoutput").load(dir).count()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(ex).exists(_.isInstanceOf[java.io.EOFException]))
    assert(causes(ex).exists(t => Option(t.getMessage).exists(_.contains("seg_00001.bin"))),
      ex.getMessage)
  }

  test("a near-Int.MaxValue frame length is a named error, not an allocation") {
    val dir = Files.createTempDirectory("wiresrc_huge")
    val seg = dir.resolve("seg_00001.bin")
    Files.write(seg, Array[Byte](0x7F, -1, -1, -1, 0, 0, 0, 0))
    val reader = new graft.sources.v2.BinaryFrameReader(seg.toString,
      spark.sessionState.newHadoopConf())
    val e = try intercept[java.io.IOException](reader.next()) finally reader.close()
    assert(e.getMessage.contains("seg_00001.bin") && e.getMessage.contains("frame 0"),
      e.getMessage)
  }
}
