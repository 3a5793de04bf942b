package graft.cdc

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.spark
import graft.sources.ChangeEventFiles.pgTyped

/** Per-OID text-decode roundtrips mirroring the reference's
  * Column.Decoder switch (main.go:475–565), plus the PG array-literal
  * grammar (quoting, backslash escapes, NULL, empty). */
class TypedDecodeSpec extends AnyFunSuite {

  private def one(cell: String, pgType: String): Any = {
    import spark.implicits._
    Seq(cell).toDF("raw").select(pgTyped($"raw", pgType)).collect().head.get(0)
  }

  test("scalar OID decode roundtrips") {
    assert(one("t", "boolean") === true)
    assert(one("f", "bool") === false)
    assert(one("-7", "smallint") === (-7: Short))
    assert(one("123456", "integer") === 123456)
    assert(one("9007199254740993", "bigint") === 9007199254740993L)
    assert(one("3000000007", "oid") === 3000000007L) // > int32 unsigned
    assert(one("1.5", "real") === 1.5f)
    assert(one("-2.25e2", "double precision") === -225.0)
    assert(one("12.34", "numeric") ===
      new java.math.BigDecimal("12.340000000000000000"))
    assert(one("2020-09-15", "date") === java.sql.Date.valueOf("2020-09-15"))
    assert(one("2020-09-15 11:58:28.988414", "timestamp without time zone")
      .asInstanceOf[java.time.LocalDateTime].getNano === 988414000)
    assert(one("2020-09-15 11:58:28+00", "timestamptz")
      .isInstanceOf[java.sql.Timestamp])
    assert(one("A0EEBC99-9C0B-4EF8-BB6D-6BB9BD380A11", "uuid") ===
      "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11")
    assert(one("\\x48690a", "bytea") ===
      Array[Byte](0x48, 0x69, 0x0a))
    assert(one("(4021,7)", "tid") match {
      case r: org.apache.spark.sql.Row => r.getLong(0) === 4021L && r.getInt(1) === 7
    })
    assert(one("not-a-known-type", "cidr") === "not-a-known-type") // passthrough
  }

  test("typmod'd type names decode like their bare forms") {
    // r10 review finding: wal2json reports names AS DECLARED —
    // "timestamp(3) with time zone" previously fell into the bare
    // `timestamp` arm (→ ntz, zone dropped) and "numeric(10,2)"
    // passed through as text; the typmod never changes the decode arm
    assert(one("2020-09-15 11:58:28.988+00", "timestamp(3) with time zone")
      .isInstanceOf[java.sql.Timestamp])
    assert(one("2020-09-15 11:58:28.988", "timestamp(3) without time zone")
      .isInstanceOf[java.time.LocalDateTime])
    assert(one("12.34", "numeric(10,2)") ===
      new java.math.BigDecimal("12.340000000000000000"))
    assert(one("hello", "character varying(255)") === "hello")
    // typmod + array composes
    assert(one("{1.5,2.5}", "numeric(6,1)[]")
      .asInstanceOf[scala.collection.Seq[Any]].toSeq ===
      Seq(new java.math.BigDecimal("1.500000000000000000"),
        new java.math.BigDecimal("2.500000000000000000")))
  }

  test("pg array literal grammar: quoting, escapes, NULL, empty") {
    def arr(cell: String, t: String): Seq[Any] =
      one(cell, t).asInstanceOf[scala.collection.Seq[Any]].toSeq
    assert(arr("{1,2,NULL,4}", "bigint[]") === Seq(1L, 2L, null, 4L))
    assert(arr("{}", "integer[]") === Seq.empty)
    // quoted elements: embedded commas, escaped quotes and backslashes,
    // quoted "NULL" is the string, bare NULL is null
    assert(arr("""{"a,b",NULL,"NULL","c\"d","e\\f",plain}""", "text[]") ===
      Seq("a,b", null, "NULL", "c\"d", "e\\f", "plain"))
    assert(arr("{1.5,NULL}", "float8[]") === Seq(1.5, null))
    assert(arr("{2020-01-01,2020-01-02}", "date[]") ===
      Seq(java.sql.Date.valueOf("2020-01-01"), java.sql.Date.valueOf("2020-01-02")))
  }
}
