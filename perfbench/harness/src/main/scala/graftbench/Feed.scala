package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import graft.cdc.PgOutput

/** One change event of the seeded feed. `tsMicros` is the event's
  * scheduled send time, in µs since its phase started. */
final case class Ev(seq: Long, key: Long, op: Char, eventType: String,
    value: Option[Double], tsMicros: Long)

/** Seeded CDC change feed over `keys` keys: cubic key skew (the lowest
  * 10% of keys draw ~46% of events), insert for a key that is not live,
  * otherwise 90% update / 10% delete; 2% of values are SQL NULL. The
  * feed keeps its own latest-state map — the ingest check's oracle. */
final class Feed(seed: Long, keys: Int) {
  private val rnd = new java.util.SplittableRandom(seed)
  val live: mutable.LongMap[Ev] = mutable.LongMap.empty
  private var seq = 0L

  def next(tsMicros: Long): Ev = {
    seq += 1
    val u = rnd.nextDouble()
    val key = math.min(keys - 1, (keys * u * u * u).toLong)
    val op = if (!live.contains(key)) 'I' else if (rnd.nextInt(10) == 0) 'D' else 'U'
    val eventType = Feed.EventTypes(rnd.nextInt(Feed.EventTypes.length))
    val value = if (rnd.nextInt(50) == 0) None else Some(rnd.nextInt(50000) / 100.0)
    val e = Ev(seq, key, op, eventType, value, tsMicros)
    if (op == 'D') live.remove(key) else live(key) = e
    e
  }

  def lastSeq: Long = seq
}

object Feed {
  val EventTypes: Array[String] = Array("click", "error", "purchase", "signup", "view")

  private def cells(e: Ev): Seq[Option[String]] = Seq(Some(e.key.toString),
    Some(e.eventType), e.value.map(_.toString), Some(e.tsMicros.toString), Some(e.seq.toString))

  /** The event as one pgoutput message: Insert / Update carry the full
    * row (key, event_type, value, ts, seq); Delete carries the replica
    * identity (key, seq). */
  def message(e: Ev): PgOutput.Msg = e.op match {
    case 'I' => PgOutput.Insert(1, cells(e))
    case 'U' => PgOutput.Update(1, None, None, cells(e))
    case _ => PgOutput.Delete(1, viaKey = true, Seq(Some(e.key.toString), Some(e.seq.toString)))
  }

  def encode(e: Ev): Array[Byte] = PgOutput.encode(message(e))

  /** Length-prefixed frames of `msgs`, as `format("pgoutput")` reads them. */
  def frames(msgs: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    msgs.foreach { m => out.writeInt(m.length); out.write(m) }
    out.flush()
    bos.toByteArray
  }

  /** Publish segment `idx` atomically: written under a dot-prefixed temp
    * name (the framed source skips dot files), then renamed. */
  def publish(dir: Path, idx: Int, bytes: Array[Byte]): Unit = {
    val tmp = dir.resolve(f".seg_$idx%08d.bin.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(f"seg_$idx%08d.bin"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Determinism probe: `events` events at `rate` events/s, cut into
    * segments of `perSegment`, written to `dir`. */
  def writeSample(dir: Path, seed: Long, keys: Int, events: Int, perSegment: Int,
      rate: Double): Unit = {
    Files.createDirectories(dir)
    val f = new Feed(seed, keys)
    (0 until events).grouped(perSegment).zipWithIndex.foreach { case (ix, k) =>
      publish(dir, k, frames(ix.map(i => encode(f.next((i * 1e6 / rate).toLong)))))
    }
  }
}
