package graft.cdc

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** PostgreSQL logical-replication `pgoutput` wire codec.
  *
  * Message layout follows the public protocol spec
  * (postgresql.org/docs/current/protocol-logicalrep-message-formats.html),
  * the same format the reference decodes in
  * /root/reference/examples/pgoutput/main.go:299-365 (`Parse`) with
  * tuple-data cells at main.go:195-210 and relation columns at
  * main.go:213-225. Pure Scala, zero deps — invoked distributed from the
  * Catalyst expression in [[PgDecodeExpression]], never in a driver loop.
  *
  * All integers are big-endian. Tuple cells are text-encoded
  * (`'t' len bytes`), NULL (`'n'`) or TOAST-unchanged (`'u'`).
  */
object PgOutput {

  sealed trait Msg
  final case class Begin(finalLsn: Long, commitMicros: Long, xid: Int) extends Msg
  final case class Commit(flags: Byte, lsn: Long, endLsn: Long, commitMicros: Long) extends Msg
  final case class Origin(lsn: Long, name: String) extends Msg
  final case class RelColumn(key: Boolean, name: String, typeOid: Int, typeMod: Int)
  final case class Relation(id: Int, namespace: String, name: String,
      replicaIdentity: Byte, columns: Seq[RelColumn]) extends Msg
  final case class TypeMsg(id: Int, namespace: String, name: String) extends Msg
  /** cells: None = SQL NULL, Some = text value (TOAST'd cells not modeled). */
  final case class Insert(relationId: Int, row: Seq[Option[String]]) extends Msg
  final case class Update(relationId: Int, keyRow: Option[Seq[Option[String]]],
      oldRow: Option[Seq[Option[String]]], row: Seq[Option[String]]) extends Msg
  final case class Delete(relationId: Int, viaKey: Boolean, row: Seq[Option[String]]) extends Msg
  final case class Truncate(relationCount: Int, options: Byte, relationIds: Seq[Int]) extends Msg

  // ------------------------------------------------------------ encode

  /** Growable big-endian writer — a fixed 64 KiB ByteBuffer threw
    * BufferOverflowException on any message past it, and PG text cells
    * (TOAST) legitimately run to 1 GB (r10 review finding).
    * DataOutputStream writes big-endian, matching the wire spec. */
  private final class Writer {
    private val out = new java.io.ByteArrayOutputStream(256)
    private val d = new java.io.DataOutputStream(out)
    def put(x: Byte): Unit = d.writeByte(x)
    def put(xs: Array[Byte]): Unit = d.write(xs)
    def putShort(x: Short): Unit = d.writeShort(x)
    def putInt(x: Int): Unit = d.writeInt(x)
    def putLong(x: Long): Unit = d.writeLong(x)
    def bytes: Array[Byte] = { d.flush(); out.toByteArray }
  }

  private def putString(b: Writer, s: String): Unit = {
    b.put(s.getBytes(UTF_8)); b.put(0.toByte)
  }

  private def putTuple(b: Writer, row: Seq[Option[String]]): Unit = {
    b.putShort(row.size.toShort)
    row.foreach {
      case None => b.put('n'.toByte)
      case Some(v) =>
        val bytes = v.getBytes(UTF_8)
        b.put('t'.toByte); b.putInt(bytes.length); b.put(bytes)
    }
  }

  def encode(m: Msg): Array[Byte] = {
    val b = new Writer
    m match {
      case Begin(lsn, micros, xid) =>
        b.put('B'.toByte); b.putLong(lsn); b.putLong(micros); b.putInt(xid)
      case Commit(flags, lsn, end, micros) =>
        b.put('C'.toByte); b.put(flags); b.putLong(lsn); b.putLong(end); b.putLong(micros)
      case Origin(lsn, name) =>
        b.put('O'.toByte); b.putLong(lsn); putString(b, name)
      case Relation(id, ns, name, replica, cols) =>
        b.put('R'.toByte); b.putInt(id); putString(b, ns); putString(b, name)
        b.put(replica); b.putShort(cols.size.toShort)
        cols.foreach { c =>
          b.put(if (c.key) 1.toByte else 0.toByte)
          putString(b, c.name); b.putInt(c.typeOid); b.putInt(c.typeMod)
        }
      case TypeMsg(id, ns, name) =>
        b.put('Y'.toByte); b.putInt(id); putString(b, ns); putString(b, name)
      case Insert(rel, row) =>
        b.put('I'.toByte); b.putInt(rel); b.put('N'.toByte); putTuple(b, row)
      case Update(rel, keyRow, oldRow, row) =>
        b.put('U'.toByte); b.putInt(rel)
        keyRow.foreach { k => b.put('K'.toByte); putTuple(b, k) }
        oldRow.foreach { o => b.put('O'.toByte); putTuple(b, o) }
        b.put('N'.toByte); putTuple(b, row)
      case Delete(rel, viaKey, row) =>
        b.put('D'.toByte); b.putInt(rel)
        b.put(if (viaKey) 'K'.toByte else 'O'.toByte); putTuple(b, row)
      case Truncate(n, opts, ids) =>
        b.put('T'.toByte); b.putInt(n); b.put(opts); ids.foreach(b.putInt)
    }
    b.bytes
  }

  // ------------------------------------------------------------ frames

  /** Appends `msg` as one segment frame: a 4-byte big-endian length,
    * then the message bytes. A segment file is a run of frames, one
    * per wire message — the stand-in for the XLogData envelope a
    * replication socket provides. */
  def writeFrame(out: java.io.DataOutputStream, msg: Array[Byte]): Unit = {
    out.writeInt(msg.length); out.write(msg)
  }

  /** Reads frame `index` of `segment`, whose unread part holds `left`
    * bytes; `None` at a clean end of the segment. A truncated header, a
    * negative length, or a length past the bytes left fails with a
    * named IOException (an EOFException for the two truncations)
    * before anything is allocated: a corrupt length near Int.MaxValue
    * must not become an executor-fatal OutOfMemoryError. */
  def readFrame(in: java.io.DataInputStream, left: Long, segment: String,
      index: Long): Option[Array[Byte]] = {
    val b0 = in.read()
    if (b0 < 0) return None
    def where = s"at frame $index of $segment"
    if (left < 4) throw new java.io.EOFException(
      s"truncated frame header ($left bytes) $where")
    val len = (b0 << 24) | (in.readUnsignedByte() << 16) |
      (in.readUnsignedByte() << 8) | in.readUnsignedByte()
    if (len < 0) throw new java.io.IOException(s"negative frame length $len $where")
    if (len > left - 4) throw new java.io.EOFException(
      s"frame length $len exceeds the ${left - 4} bytes left $where")
    val buf = new Array[Byte](len)
    in.readFully(buf)
    Some(buf)
  }

  // ------------------------------------------------------------ decode

  private final class Reader(bytes: Array[Byte]) {
    private val b = ByteBuffer.wrap(bytes)
    def byte(): Byte = b.get()
    def int16(): Short = b.getShort()
    def int32(): Int = b.getInt()
    def int64(): Long = b.getLong()
    def hasRemaining: Boolean = b.hasRemaining
    def utf8String(): String = {
      val start = b.position()
      while (b.get() != 0) {}
      val end = b.position() - 1
      new String(bytes, start, end - start, UTF_8)
    }
    def bytesOf(n: Int): Array[Byte] = { val a = new Array[Byte](n); b.get(a); a }
    /** peek at next byte; consume only if it equals `c` (main.go:186 rowinfo). */
    def rowinfo(c: Char): Boolean = {
      if (!b.hasRemaining) return false
      val x = b.get()
      if (x == c.toByte) true else { b.position(b.position() - 1); false }
    }
    def tuple(): Seq[Option[String]] = {
      val n = int16().toInt
      (0 until n).map { _ =>
        byte() match {
          case 'n' => None
          case 'u' => None // TOAST-unchanged: surfaced as null (main.go:199)
          case 't' =>
            val len = int32()
            // bound the wire-declared length by the bytes actually
            // present BEFORE allocating: a corrupt frame declaring a
            // multi-GB cell would otherwise allocate it, and the
            // resulting OutOfMemoryError escapes the permissive
            // decoder's RuntimeException net (r10 review finding)
            if (len < 0 || len > b.remaining())
              throw new IllegalArgumentException(
                s"cell length $len exceeds remaining ${b.remaining()} bytes")
            Some(new String(bytesOf(len), UTF_8))
          case other => throw new IllegalArgumentException(s"bad cell flag: $other")
        }
      }
    }
  }

  def decode(bytes: Array[Byte]): Msg = {
    val r = new Reader(bytes)
    (r.byte(): @annotation.switch) match {
      case 'B' => Begin(r.int64(), r.int64(), r.int32())
      case 'C' => Commit(r.byte(), r.int64(), r.int64(), r.int64())
      case 'O' => Origin(r.int64(), r.utf8String())
      case 'R' =>
        val id = r.int32(); val ns = r.utf8String(); val name = r.utf8String()
        val replica = r.byte(); val n = r.int16().toInt
        val cols = (0 until n).map { _ =>
          RelColumn(r.byte() == 1, r.utf8String(), r.int32(), r.int32())
        }
        Relation(id, ns, name, replica, cols)
      case 'Y' => TypeMsg(r.int32(), r.utf8String(), r.utf8String())
      case 'I' =>
        val rel = r.int32()
        require(r.byte() == 'N', "Insert must carry a new tuple")
        Insert(rel, r.tuple())
      case 'U' =>
        val rel = r.int32()
        val key = if (r.rowinfo('K')) Some(r.tuple()) else None
        val old = if (r.rowinfo('O')) Some(r.tuple()) else None
        require(r.byte() == 'N', "Update must carry a new tuple")
        Update(rel, key, old, r.tuple())
      case 'D' =>
        val rel = r.int32()
        val viaKey = r.rowinfo('K')
        if (!viaKey) require(r.rowinfo('O'), "Delete must carry K or O tuple")
        Delete(rel, viaKey, r.tuple())
      case 'T' =>
        val n = r.int32(); val opts = r.byte()
        Truncate(n, opts, (0 until n).map(_ => r.int32()))
      case other =>
        throw new IllegalArgumentException(s"unknown pgoutput message type '${other.toChar}'")
    }
  }
}
