package graft.cdc

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.PgOutput._

/** Property tests over the wire codec, the PG array-literal grammar,
  * and the segment framing: arbitrary inputs (unicode, empty strings,
  * nulls, arbitrary bytes) must roundtrip bit-exactly — the
  * fuzz-shaped counterpart of the example-based PgOutputSpec. */
class PgOutputPropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  // cells: null | empty | ascii | unicode/specials | long
  private val cellGen: Gen[Option[String]] = Gen.frequency(
    2 -> Gen.const(None),
    1 -> Gen.const(Some("")),
    5 -> Gen.alphaNumStr.map(Some(_)),
    2 -> Gen.listOf(Gen.oneOf('é', '✓', 'あ', '\n', '\t', '"', '\\', ',', '{', '}'))
      .map(cs => Some(cs.mkString)),
    1 -> Gen.listOfN(300, Gen.alphaChar).map(cs => Some(cs.mkString)))
  private val rowGen: Gen[Seq[Option[String]]] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, cellGen))

  test("insert/update/delete roundtrip for arbitrary rows") {
    check(Prop.forAll(Gen.chooseNum(1, Int.MaxValue), rowGen, rowGen) {
      (rel, key, row) =>
        val up = Update(rel, Some(key), None, row)
        val del = Delete(rel, viaKey = true, key)
        decode(encode(Insert(rel, row))) == Insert(rel, row) &&
          decode(encode(up)) == up &&
          decode(encode(del)) == del
    })
  }

  test("pg array literal roundtrips arbitrary quoted elements") {
    def quote(e: Option[String]): String = e match {
      case None => "NULL"
      case Some(s) =>
        "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }
    check(Prop.forAll(
      Gen.chooseNum(0, 10).flatMap(n => Gen.listOfN(n, cellGen))) { elems =>
      val literal = elems.map(quote).mkString("{", ",", "}")
      val parsed = PgOutputExpressions.parsePgArray(
        UTF8String.fromString(literal))
      val got = (0 until parsed.numElements()).map(i =>
        Option(parsed.getUTF8String(i)).map(_.toString))
      got == elems
    })
  }

  test("frame splitting roundtrips arbitrary binary messages") {
    val msgGen = Gen.chooseNum(0, 64)
      .flatMap(n => Gen.listOfN(n, Gen.chooseNum(Byte.MinValue, Byte.MaxValue)))
      .map(_.toArray)
    check(Prop.forAll(
      Gen.chooseNum(0, 8).flatMap(n => Gen.listOfN(n, msgGen))) { msgs =>
      val out = SplitFramesSpec.frames(SplitFramesSpec.segment(msgs), "seg_prop.bin")
      out.length == msgs.length &&
        out.zip(msgs).forall { case (a, b) => a.sameElements(b) }
    })
  }
}
