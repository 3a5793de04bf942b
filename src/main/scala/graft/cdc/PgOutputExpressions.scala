package graft.cdc

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expressions over the [[PgOutput]] wire codec.
  *
  * Decode runs as a narrow per-row expression inside the scan stage —
  * the distributed equivalent of the reference's single-threaded event
  * loop (/root/reference/examples/pgoutput/main.go:64-135). At 100 TB
  * the decode parallelism is simply the scan parallelism; no shuffle.
  */
object PgOutputExpressions {

  val decodedType: StructType = StructType(Seq(
    StructField("op", StringType, nullable = false),
    StructField("relation_id", IntegerType, nullable = true),
    StructField("key_cells", ArrayType(StringType), nullable = true),
    StructField("cells", ArrayType(StringType), nullable = true),
    StructField("lsn", LongType, nullable = true),
    StructField("col_names", ArrayType(StringType), nullable = true)))

  private def utf8Cells(row: Seq[Option[String]]): GenericArrayData =
    new GenericArrayData(row.map(_.map(UTF8String.fromString).orNull).toArray[Any])

  /** Shared decode kernel: wire bytes → InternalRow(decodedType).
    * Public + static so generated code can call it directly (the
    * expressions stay inside whole-stage codegen). */
  def decodeToRow(bytes: Array[Byte]): InternalRow = {
      val op = (s: String) => UTF8String.fromString(s)
      PgOutput.decode(bytes) match {
        case PgOutput.Insert(rel, row) =>
          InternalRow(op("I"), rel, null, utf8Cells(row), null, null)
        case PgOutput.Update(rel, key, old, row) =>
          InternalRow(op("U"), rel, key.orElse(old).map(utf8Cells).orNull, utf8Cells(row), null, null)
        case PgOutput.Delete(rel, _, row) =>
          InternalRow(op("D"), rel, utf8Cells(row), null, null, null)
        case PgOutput.Begin(lsn, _, _) => InternalRow(op("B"), null, null, null, lsn, null)
        case PgOutput.Commit(_, lsn, _, _) => InternalRow(op("C"), null, null, null, lsn, null)
        case PgOutput.Relation(id, _, _, _, cols) =>
          InternalRow(op("R"), id, null, null, null,
            utf8Cells(cols.map(c => Some(c.name))))
        case PgOutput.TypeMsg(id, _, _) => InternalRow(op("Y"), id, null, null, null, null)
        case PgOutput.Origin(lsn, _) => InternalRow(op("O"), null, null, null, lsn, null)
        case PgOutput.Truncate(_, _, ids) =>
          // relation_id = first id (primary projection); EVERY
          // truncated relation id rides `cells` as text — head-only
          // silently lost tables 2..n of a multi-table TRUNCATE and a
          // materializer kept serving their rows (r10 review finding)
          InternalRow(op("T"), ids.headOption.map(Int.box).orNull, null,
            utf8Cells(ids.map(i => Some(i.toString))), null, null)
      }
  }

  /** binary pgoutput message → struct(op, relation_id, key_cells, cells,
    * lsn, col_names); corrupt input fails the task (strict mode). */
  case class PgDecode(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = decodedType
    override def nullSafeEval(input: Any): Any =
      decodeToRow(input.asInstanceOf[Array[Byte]])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.cdc.PgOutputExpressions.decodeToRow($c)")
    override protected def withNewChildInternal(c: Expression): PgDecode = copy(child = c)
  }

  /** struct(op, relation_id, key_cells, cells) → binary pgoutput message
    * (the test-path inverse, used for roundtrip verification). */
  /** Static encode kernel for codegen. */
  def encodeFromRow(row: InternalRow): Array[Byte] = {
      val op = row.getUTF8String(0).toString
      val rel = row.getInt(1)
      def cells(i: Int): Seq[Option[String]] =
        if (row.isNullAt(i)) Seq.empty
        else {
          val a = row.getArray(i)
          (0 until a.numElements()).map(j =>
            if (a.isNullAt(j)) None else Some(a.getUTF8String(j).toString))
        }
      op match {
        case "I" => PgOutput.encode(PgOutput.Insert(rel, cells(3)))
        case "U" =>
          // NULL key_cells must OMIT the key block — wrapping it in
          // Some emitted a zero-column 'K' tuple PostgreSQL never
          // produces, and the roundtrip decoded Some(Seq()) instead
          // of None (r10 review finding)
          val key = if (row.isNullAt(2)) None else Some(cells(2))
          PgOutput.encode(PgOutput.Update(rel, key, None, cells(3)))
        case "D" => PgOutput.encode(PgOutput.Delete(rel, viaKey = true, cells(2)))
        case other => throw new IllegalArgumentException(s"encode: unsupported op $other")
      }
  }

  case class PgEncode(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = BinaryType
    override def nullSafeEval(input: Any): Any =
      encodeFromRow(input.asInstanceOf[InternalRow])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.cdc.PgOutputExpressions.encodeFromRow($c)")
    override protected def withNewChildInternal(c: Expression): PgEncode = copy(child = c)
  }

  /** Permissive decode: corrupt wire data → NULL instead of failing the
    * job. At 100 TB one bad record must not kill a stage; pair with
    * `count(raw) - count(pg_decode_permissive(raw))` to quarantine-count
    * (mirrors Spark's own PERMISSIVE JSON parse mode). */
  /** decodeToRow, corrupt input → null (see PgDecodePermissive). */
  def decodeToRowOrNull(bytes: Array[Byte]): InternalRow =
    try decodeToRow(bytes) catch { case _: RuntimeException => null }

  case class PgDecodePermissive(child: Expression) extends UnaryExpression {
    // corrupt input maps to NULL even when the child can't be null
    override def nullable: Boolean = true
    override def dataType: DataType = decodedType
    override def nullSafeEval(input: Any): Any =
      decodeToRowOrNull(input.asInstanceOf[Array[Byte]])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.cdc.PgOutputExpressions.decodeToRowOrNull($c);
        ${ev.isNull} = ${ev.value} == null;""")
    override protected def withNewChildInternal(c: Expression): PgDecodePermissive =
      copy(child = c)
  }

  /** PG 1-D array text literal → array<string>: full quoting semantics
    * ("..." elements, backslash escapes, bare NULL → null element,
    * '{}' → empty). The text-format twin of the reference's
    * pgtype.*Array decoders (main.go:479–559); multidimensional
    * literals (nested braces) are out of scope like the reference's
    * 1-D pgtype arrays. */
  def parsePgArray(s: UTF8String): GenericArrayData = {
    val str = s.toString.trim
    if (str.length < 2 || str.charAt(0) != '{' || str.charAt(str.length - 1) != '}')
      throw new IllegalArgumentException(s"not a pg array literal: $str")
    val body = str.substring(1, str.length - 1)
    if (body.isEmpty) return new GenericArrayData(Array.empty[Any])
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val sb = new java.lang.StringBuilder
    var quoted = false; var wasQuoted = false; var i = 0
    def finish(): Unit = {
      val v = sb.toString
      out += (if (!wasQuoted && v == "NULL") null else UTF8String.fromString(v))
      sb.setLength(0); wasQuoted = false
    }
    def escNext(): Unit = {
      if (i + 1 >= body.length)
        throw new IllegalArgumentException(s"dangling escape in: $str")
      sb.append(body.charAt(i + 1)); i += 2
    }
    while (i < body.length) {
      val c = body.charAt(i)
      if (quoted) c match {
        case '\\' => escNext()
        case '"' => quoted = false; i += 1
        case _ => sb.append(c); i += 1
      } else c match {
        // PG input syntax allows backslash escapes outside quotes too
        case '\\' => escNext()
        case '"' => quoted = true; wasQuoted = true; i += 1
        case ',' => finish(); i += 1
        case _ => sb.append(c); i += 1
      }
    }
    finish()
    new GenericArrayData(out.toArray)
  }

  case class PgArrayParse(child: Expression) extends UnaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(StringType, containsNull = true)
    override def nullSafeEval(input: Any): Any =
      parsePgArray(input.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.cdc.PgOutputExpressions.parsePgArray($c)")
    override protected def withNewChildInternal(c: Expression): PgArrayParse =
      copy(child = c)
  }

  /** Forwards to [[graft.Graft.register]], the one install path for a
    * session built without [[graft.GraftExtensions]]. */
  def register(spark: SparkSession): Unit = graft.Graft.register(spark)
}
