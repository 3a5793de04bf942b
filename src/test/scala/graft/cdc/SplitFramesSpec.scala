package graft.cdc

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}

import org.scalatest.funsuite.AnyFunSuite

/** Segment framing edge cases: [[PgOutput.writeFrame]] writes a
  * segment, [[PgOutput.readFrame]] splits it back into frames. */
class SplitFramesSpec extends AnyFunSuite {
  import SplitFramesSpec.segment

  private def frames(seg: Array[Byte]): Seq[Array[Byte]] =
    SplitFramesSpec.frames(seg, "seg_test.bin")

  test("splits a multi-message segment, empty payloads included") {
    val m1 = "hello".getBytes("UTF-8")
    val m2 = Array.empty[Byte]
    val m3 = Array[Byte](0, 1, 2, -1)
    val out = frames(segment(Seq(m1, m2, m3)))
    assert(out.length === 3)
    assert(out(0).sameElements(m1) && out(1).isEmpty && out(2).sameElements(m3))
  }

  test("empty segment yields zero frames") {
    assert(frames(Array.empty).isEmpty)
  }

  test("truncated header and overrun length are rejected") {
    val header = intercept[EOFException](frames(Array[Byte](0, 0)))
    assert(header.getMessage.contains("truncated frame header") &&
      header.getMessage.contains("frame 0 of seg_test.bin"), header.getMessage)
    // frame 1 declares 9 bytes with 1 left
    val overrun = intercept[EOFException] {
      frames(segment(Seq(Array[Byte](7))) ++ Array[Byte](0, 0, 0, 9, 1))
    }
    assert(overrun.getMessage.contains("frame length 9 exceeds the 1 bytes left") &&
      overrun.getMessage.contains("frame 1 of seg_test.bin"), overrun.getMessage)
    val negative = intercept[java.io.IOException](frames(Array[Byte](-1, 0, 0, 0)))
    assert(negative.getMessage.contains("negative frame length"), negative.getMessage)
  }

  test("roundtrips real pgoutput messages") {
    val msgs = Seq(
      PgOutput.encode(PgOutput.Insert(1, Seq(Some("42"), Some("x")))),
      PgOutput.encode(PgOutput.Delete(1, viaKey = true, Seq(Some("42")))))
    val out = frames(segment(msgs))
    assert(out.length === msgs.length)
    assert(out.zip(msgs).forall { case (a, b) => a.sameElements(b) })
    assert(PgOutput.decode(out.head).isInstanceOf[PgOutput.Insert])
  }
}

object SplitFramesSpec {
  /** `msgs` framed by [[PgOutput.writeFrame]], as one segment. */
  def segment(msgs: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    msgs.foreach(PgOutput.writeFrame(out, _))
    out.flush()
    bos.toByteArray
  }

  /** Every frame of `seg`, read by [[PgOutput.readFrame]]. */
  def frames(seg: Array[Byte], name: String): Seq[Array[Byte]] = {
    val in = new DataInputStream(new ByteArrayInputStream(seg))
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var read = 0L
    var frame = PgOutput.readFrame(in, seg.length, name, 0)
    while (frame.isDefined) {
      out += frame.get; read += 4 + frame.get.length
      frame = PgOutput.readFrame(in, seg.length - read, name, out.length)
    }
    out.toSeq
  }
}
