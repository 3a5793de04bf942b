package graft.cdc

import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.PgOutput._

/** Wire-codec spec: roundtrip every message type, schema evolution via
  * Relation messages, truncate, and LSN bookkeeping — the reference's
  * own protocol surface (examples/pgoutput/main.go:299-365). */
class PgOutputSpec extends AnyFunSuite {

  private def rt(m: Msg): Msg = decode(encode(m))

  test("roundtrips begin/commit/origin with LSN bookkeeping intact") {
    val b = Begin(0x1122334455667788L, 1700000000000000L, 777)
    assert(rt(b) === b)
    val c = Commit(0, 0x1122334455667788L, 0x1122334455667799L, 1700000000000001L)
    assert(rt(c) === c)
    // standby progress: commit endLsn advances past begin finalLsn
    assert(c.endLsn > b.finalLsn)
    assert(rt(Origin(42L, "replica-1")) === Origin(42L, "replica-1"))
  }

  test("roundtrips insert/update/delete with null and unicode cells") {
    val row = Seq(Some("1"), None, Some("héllo ✓"), Some(""))
    assert(rt(Insert(16385, row)) === Insert(16385, row))
    val up = Update(16385, Some(Seq(Some("1"))), None, row)
    assert(rt(up) === up)
    val upOld = Update(16385, None, Some(row), row)
    assert(rt(upOld) === upOld)
    assert(rt(Delete(16385, viaKey = true, Seq(Some("1")))) ===
      Delete(16385, viaKey = true, Seq(Some("1"))))
    assert(rt(Delete(16385, viaKey = false, row)) ===
      Delete(16385, viaKey = false, row))
  }

  test("relation registry handles schema evolution (add/drop column)") {
    // migrations 001 -> 002 in the reference: users gains a column.
    val v1 = Relation(16385, "public", "users", 'd'.toByte, Seq(
      RelColumn(key = true, "id", 20, -1),
      RelColumn(key = false, "name", 25, -1)))
    val v2 = Relation(16385, "public", "users", 'd'.toByte,
      v1.columns :+ RelColumn(key = false, "email", 25, -1))
    assert(rt(v1) === v1)
    assert(rt(v2) === v2)
    // a registry keyed by relation id picks up the widened schema
    val registry = Seq(v1, v2).foldLeft(Map.empty[Int, Relation]) {
      (reg, r) => reg + (r.id -> r)
    }
    assert(registry(16385).columns.map(_.name) === Seq("id", "name", "email"))
    // and a later Relation message can narrow it again (drop column)
    val v3 = v2.copy(columns = v2.columns.filterNot(_.name == "name"))
    assert((registry + (v3.id -> v3))(16385).columns.map(_.name) ===
      Seq("id", "email"))
  }

  test("roundtrips truncate and type messages") {
    val t = Truncate(3, 1, Seq(16385, 16386, 16387))
    assert(rt(t) === t)
    assert(rt(TypeMsg(600, "public", "citext")) === TypeMsg(600, "public", "citext"))
  }

  test("encode grows past 64 KiB cells (TOAST-sized values)") {
    // r10 review finding: a fixed 64 KiB buffer threw
    // BufferOverflowException on legitimate large text cells
    val big = "x" * 200000
    val m = Insert(16385, Seq(Some(big), None))
    assert(rt(m) === m)
  }

  test("corrupt cell length is a NAMED failure before any allocation") {
    // 'I' rel 'N' ncells=1 't' len≈2GB with no bytes following: the
    // decoder must reject against the remaining byte count BEFORE
    // allocating — the OutOfMemoryError of a 2 GB allocation escapes
    // the permissive decoder's RuntimeException net (r10 review)
    val b = java.nio.ByteBuffer.allocate(16)
    b.put('I'.toByte).putInt(1).put('N'.toByte).putShort(1.toShort)
      .put('t'.toByte).putInt(0x7FF00000)
    val bytes = java.util.Arrays.copyOf(b.array(), b.position())
    val e = intercept[IllegalArgumentException] { decode(bytes) }
    assert(e.getMessage.contains("exceeds remaining"), e.getMessage)
    assert(PgOutputExpressions.decodeToRowOrNull(bytes) == null,
      "permissive decode must quarantine, not die")
  }

  test("decoded truncate row surfaces EVERY relation id") {
    // r10 review finding: head-only projection silently lost tables
    // 2..n of a multi-table TRUNCATE
    val row = PgOutputExpressions.decodeToRow(encode(Truncate(3, 0, Seq(11, 22, 33))))
    assert(row.getInt(1) === 11)
    val cells = row.getArray(3)
    assert((0 until cells.numElements()).map(i =>
      cells.getUTF8String(i).toString) === Seq("11", "22", "33"))
  }

  test("pg_encode with NULL key_cells omits the key block entirely") {
    // r10 review finding: Some(Seq.empty) emitted a zero-column 'K'
    // tuple PostgreSQL never produces; the roundtrip must yield None
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val row = InternalRow(UTF8String.fromString("U"), 16385, null,
      new GenericArrayData(Array[Any](UTF8String.fromString("1"))), null, null)
    val decoded = decode(PgOutputExpressions.encodeFromRow(row))
    assert(decoded === Update(16385, None, None, Seq(Some("1"))))
  }

  test("readFrame rejects a near-Int.MaxValue frame length by name") {
    // the length is checked against the bytes left before anything is
    // allocated: a 2 GB buffer request would be an OutOfMemoryError
    val b = java.nio.ByteBuffer.allocate(8).putInt(0x7FFFFFFF).putInt(0)
    val e = intercept[java.io.EOFException](SplitFramesSpec.frames(b.array(), "seg_big.bin"))
    assert(e.getMessage.contains("frame length 2147483647 exceeds the 4 bytes left"),
      e.getMessage)
  }

  test("rejects corrupt input fast") {
    intercept[IllegalArgumentException](decode(Array[Byte]('Z'.toByte, 0, 0)))
    intercept[RuntimeException](decode(Array[Byte]()))
  }
}
