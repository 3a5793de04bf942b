package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.cdc.{ChangeRecord, PgOutputExpressions}
import graft.sinks.PartitionedTable

/** Open-loop CDC ingest: a generator thread publishes a seeded pgoutput
  * feed as segment files into a `format("pgoutput")` stream, the stream
  * decodes with `pg_decode` and feeds `PartitionedTable.upsertSink`,
  * and a reader thread runs `readLatest` + key lookups against the same
  * table.
  *
  * Phases: a warm-up feed through a table of its own (set-up); a
  * backlog of `backlog` events drained in `drain_rounds` rounds, each
  * published at once while the stream is idle; then `phase_s` seconds at `rate` events/s (one segment
  * every `segment_ms`, longer than a micro-batch takes, so each segment
  * is its own batch); then the stream catches up, stops, and the table
  * is compacted and vacuumed. The final table must equal the
  * generator's own latest-state map.
  *
  * Reads run only while the stream is idle (every published segment
  * committed), and the generator waits for a running read before it
  * publishes: `upsertSink` republishes the table's `_LATEST` pointer by
  * a rename that is not atomic on the local file system, so a read that
  * overlaps a commit can fail (`ChecksumException` or "no snapshot").
  * The generator's wait shows in `gen.late_ms_p99` and in the lag,
  * which is measured from each event's scheduled send time.
  *
  * Lag is computed by run.py from the raw records written here: each
  * segment's scheduled and actual publish times, and every micro-batch's
  * progress (its end offset and commit time). */
final class Ingest(spark: SparkSession, conf: Map[String, String], tracer: Tracer) {
  import spark.implicits._

  private val work = Paths.get(conf("out"), "ingest")
  private val seed = conf("seed").toLong
  private val rate = conf("rate").toDouble
  private val backlog = conf("backlog").toInt
  private val phaseS = conf("phase_s").toDouble
  private val segmentMs = conf("segment_ms").toInt
  private val keys = conf("keys").toInt
  private val buckets = conf("buckets").toInt
  private val thinkMs = conf("think_ms").toInt
  private val warmSegments = conf("warm_segments").toInt
  private val readGuardMs = conf("read_guard_ms").toInt
  private val drainRounds = conf("drain_rounds").toInt
  private val perSeg = math.max(1, (rate * segmentMs / 1000.0).round.toInt)
  private val trace = conf("trace") == "1"

  /** The ChangeRecord projection of decoded pgoutput rows (Delete
    * carries key and seq in its key tuple; Insert/Update in the row). */
  private def decode(msgs: org.apache.spark.sql.DataFrame): Dataset[ChangeRecord] = {
    PgOutputExpressions.register(spark)
    val isDel = col("d.op") === "D"
    msgs.select(expr("pg_decode(msg)").as("d")).select(
      when(isDel, element_at(col("d.key_cells"), 1))
        .otherwise(element_at(col("d.cells"), 1)).cast("long").as("key"),
      when(isDel, element_at(col("d.key_cells"), 2))
        .otherwise(element_at(col("d.cells"), 5)).cast("long").as("seq"),
      when(col("d.op") === "I", "i").when(isDel, "d").otherwise("u").as("op"),
      coalesce(element_at(col("d.cells"), 2), lit("")).as("event_type"),
      element_at(col("d.cells"), 3).cast("double").as("value"),
      coalesce(element_at(col("d.cells"), 4).cast("long"), lit(0L)).as("tsMicros"))
      .as[ChangeRecord]
  }

  private def startSink(dir: Path): StreamingQuery = {
    val raw = spark.readStream.format("pgoutput").load(dir.resolve("segments").toString)
    PartitionedTable.upsertSink(decode(raw), dir.resolve("table").toString,
      dir.resolve("checkpoint").toString, buckets)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def dataFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).toList
      finally s.close()
    }

  /** Segments the stream has committed, from its progress events. */
  private final class Progress extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var committed = 0L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.add(e.progress.json)
      e.progress.sources.headOption.flatMap(s => Option(s.endOffset))
        .foreach(o => committed = math.max(committed, o.trim.stripPrefix("\"").stripSuffix("\"").toLong))
    }
  }

  /** A feed through a stream, sink and table of its own, so the measured
    * phases start with compiled code paths: a first batch of one drain
    * round's size, then single-segment batches with a read after each.
    * Compaction stays cold: it is timed only in the per-layer figures. */
  private def warmUp(): Seq[Double] = {
    val steps = mutable.ArrayBuffer.empty[Double]
    var t = System.nanoTime()
    def step(): Unit = { val n = System.nanoTime(); steps += (n - t) / 1e9; t = n }
    val dir = work.resolve("warm")
    val segs = dir.resolve("segments")
    Files.createDirectories(segs)
    val f = new Feed(seed + 1, keys)
    def publish(k: Int, n: Int): Unit =
      Feed.publish(segs, k, Feed.frames((0 until n).map(_ => Feed.encode(f.next(0L)))))
    publish(0, backlog / drainRounds)
    val q = startSink(dir)
    val table = dir.resolve("table").toString
    (1 to warmSegments).foreach { k =>
      q.processAllAvailable(); step()
      PartitionedTable.readLatest(spark, table, buckets).filter(col("key") === k.toLong).collect()
      step()
      publish(k, perSeg)
    }
    q.processAllAvailable()
    q.stop(); step()
    steps.toSeq
  }

  def run(): Json.Obj = {
    Files.createDirectories(work)
    val warmStart = System.nanoTime()
    val warmSteps = warmUp()
    System.gc()
    val warmS = (System.nanoTime() - warmStart) / 1e9

    val dir = work.resolve("run")
    val segDir = dir.resolve("segments")
    val tableDir = dir.resolve("table")
    Files.createDirectories(segDir)
    val feed = new Feed(seed, keys)
    val segments = mutable.ArrayBuffer.empty[Json.Obj]
    var feedBytes = 0L

    // backlog: encoded before the stream starts (input generation), in
    // `drain_rounds` equal rounds of segments
    val genStart = System.nanoTime()
    val roundEvents = backlog / drainRounds
    val roundSegs = (roundEvents + perSeg - 1) / perSeg
    val backlogSegs = drainRounds * roundSegs
    val backlogBytes = (0 until drainRounds).map { _ =>
      (0 until roundSegs).map { k =>
        val n = math.min(perSeg, roundEvents - k * perSeg)
        Feed.frames((0 until n).map(_ => Feed.encode(feed.next(0L))))
      }
    }
    val genS = (System.nanoTime() - genStart) / 1e9

    val progress = new Progress
    spark.streams.addListener(progress)
    if (trace) tracer.install()
    val runSpan = tracer.open("ingest", "", 0L)
    val startMs = System.currentTimeMillis()
    val sink = startSink(dir)

    // reader: snapshot reads with fixed think time, each while the stream
    // is idle; `published` counts the segments the stream can see, and
    // both it and a read are guarded by `idle`
    val idle = new Object
    var published = 0
    // when the generator publishes next; a read starts only if it can
    // end before then, so that reads seldom delay the generator (none
    // start during the drain)
    @volatile var nextDueMs = 0L
    @volatile var stopReads = false
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[Json.Obj]()
    val readErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      val rnd = new java.util.SplittableRandom(seed ^ 0x5eedL)
      while (!stopReads) {
        val read = idle.synchronized {
          progress.committed >= published &&
            nextDueMs - System.currentTimeMillis() > readGuardMs && {
            val u = rnd.nextDouble()
            val k = (keys * u * u * u).toLong
            val s = tracer.open("read", "", runSpan.id)
            val t0 = System.nanoTime()
            try {
              val rows = PartitionedTable.readLatest(spark, tableDir.toString, buckets)
                .filter(col("key") === k).collect()
              reads.add(Json.Obj("ms" -> (System.nanoTime() - t0) / 1e6, "rows" -> rows.length,
                "at_ms" -> System.currentTimeMillis()))
            } catch { case t: Throwable => readErrors.add(t.toString) }
            tracer.close(s)
            true
          }
        }
        Thread.sleep(if (read) thinkMs else 1)
      }
    }, "graftbench-reader")
    reader.setDaemon(true)
    reader.start()

    // drain: each round is published at once while the stream is idle,
    // and the next one once its last segment is committed
    backlogBytes.zipWithIndex.foreach { case (round, r) =>
      val publishedMs = idle.synchronized {
        round.zipWithIndex.foreach { case (bytes, k) => Feed.publish(segDir, r * roundSegs + k, bytes) }
        published += round.size
        System.currentTimeMillis()
      }
      round.zipWithIndex.foreach { case (bytes, k) =>
        feedBytes += bytes.length
        segments += Json.Obj("idx" -> (r * roundSegs + k), "phase" -> "backlog", "round" -> r,
          "events" -> math.min(perSeg, roundEvents - k * perSeg), "bytes" -> bytes.length,
          "published_ms" -> publishedMs)
      }
      while (progress.committed < published && sink.isActive) Thread.sleep(1)
    }
    val drainWaitEndMs = System.currentTimeMillis()
    val tableBytesBefore = dirBytes(tableDir)
    val filesBefore = dataFiles(tableDir).size

    // fixed-rate phase: the generator thread publishes one segment every
    // segment_ms; events are stamped with their scheduled send time
    val phaseSegs = math.max(1, (phaseS * 1000 / segmentMs).round.toInt)
    val phaseStart = System.currentTimeMillis()
    nextDueMs = phaseStart + segmentMs
    var phaseBytes = 0L
    val gen = new Thread(() => {
      var i = 0L
      (0 until phaseSegs).foreach { j =>
        val due = phaseStart + (j + 1).toLong * segmentMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val msgs = (0 until perSeg).map { _ =>
          val e = feed.next((i * 1e6 / rate).toLong); i += 1; Feed.encode(e)
        }
        val bytes = Feed.frames(msgs)
        val publishedMs = idle.synchronized {
          Feed.publish(segDir, backlogSegs + j, bytes)
          published += 1
          nextDueMs = if (j + 1 < phaseSegs) due + segmentMs else Long.MaxValue
          System.currentTimeMillis()
        }
        phaseBytes += bytes.length
        segments.synchronized {
          segments += Json.Obj("idx" -> (backlogSegs + j), "phase" -> "fixed", "events" -> perSeg,
            "bytes" -> bytes.length, "first_sched_us" -> ((i - perSeg) * 1e6 / rate).toLong,
            "due_ms" -> due, "published_ms" -> publishedMs)
        }
      }
    }, "graftbench-generator")
    gen.start()
    gen.join()
    val genEndMs = System.currentTimeMillis()
    val backlogEnd = (backlogSegs + phaseSegs) - progress.committed
    sink.processAllAvailable()
    val caughtUpMs = System.currentTimeMillis()
    stopReads = true
    reader.join()
    sink.stop()
    val tableBytesAfter = dirBytes(tableDir)
    // bytes each micro-batch wrote: its version dir is v{batchId}_{ms}
    val batchBytes = {
      val st = Files.list(tableDir)
      try st.iterator().asScala.filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.matches("v\\d+_\\d+")).map { p =>
          p.getFileName.toString.drop(1).takeWhile(_ != '_') -> dirBytes(p) }.toList
      finally st.close()
    }
    val filesAfter = dataFiles(tableDir).size
    val filesPerRead = PartitionedTable.readManifest(spark, tableDir.toString).toSeq
      .map { case (b, v) => dataFiles(tableDir.resolve(v).resolve(s"__b=$b")).size }.sum

    // bucket dirs the sink wrote, one per touched bucket per batch
    val bucketsTouched = {
      val st = Files.list(tableDir)
      try st.iterator().asScala.filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("v")).map(v => dataFiles(v)
          .map(_.getParent).distinct.size).sum
      finally st.close()
    }
    val compactSpan = tracer.open("compact", "", runSpan.id)
    val c0 = System.nanoTime()
    val version = PartitionedTable.compact(spark, tableDir.toString, buckets, feed.lastSeq)
    val compactS = (System.nanoTime() - c0) / 1e9
    PartitionedTable.vacuum(spark, tableDir.toString, keep = 1)
    val endMs = System.currentTimeMillis()
    tracer.close(compactSpan)
    tracer.close(runSpan)
    if (trace) { Thread.sleep(300); tracer.uninstall() }
    spark.streams.removeListener(progress)
    val compactBytes = dirBytes(tableDir.resolve(version))
    val tableBytesFinal = dirBytes(tableDir)

    // ingest check: the final table against the generator's own state
    val got = PartitionedTable.readLatest(spark, tableDir.toString, buckets).as[ChangeRecord]
      .collect().map(r => r.key -> r).toMap
    val want = feed.live
    val mismatched = (got.keySet ++ want.keys).toSeq.filter { k =>
      (got.get(k), want.get(k)) match {
        case (Some(g), Some(w)) => !(g.seq == w.seq && g.op == w.op.toLower.toString &&
          g.event_type == w.eventType && g.value == w.value && g.tsMicros == w.tsMicros)
        case _ => true
      }
    }
    val liveBytes = want.valuesIterator.map(e => Feed.encode(e).length.toLong).sum

    Json.Obj("kind" -> "ingest", "warm_s" -> warmS, "warm_steps_s" -> warmSteps, "gen_s" -> genS,
      "rate" -> rate, "per_segment" -> perSeg, "segment_ms" -> segmentMs,
      "backlog_events" -> backlog, "backlog_segments" -> backlogSegs,
      "drain_rounds" -> drainRounds, "round_events" -> roundEvents,
      "phase_segments" -> phaseSegs, "events" -> feed.lastSeq,
      "start_ms" -> startMs, "drain_wait_end_ms" -> drainWaitEndMs,
      "phase_start_ms" -> phaseStart, "gen_end_ms" -> genEndMs,
      "caught_up_ms" -> caughtUpMs, "end_ms" -> endMs, "backlog_end" -> backlogEnd,
      "feed_bytes" -> feedBytes, "phase_feed_bytes" -> phaseBytes,
      "table_bytes_before" -> tableBytesBefore, "table_bytes_after" -> tableBytesAfter,
      "batch_bytes" -> batchBytes.toMap,
      "files_before" -> filesBefore, "files_after" -> filesAfter,
      "files_per_read" -> filesPerRead, "buckets_touched" -> bucketsTouched, "compact_s" -> compactS,
      "compact_bytes" -> compactBytes, "table_bytes_final" -> tableBytesFinal,
      "live_rows" -> want.size, "live_bytes" -> liveBytes,
      "mismatched_keys" -> mismatched.size, "mismatch_sample" -> mismatched.take(5),
      "reads" -> reads.asScala.toSeq, "read_errors" -> readErrors.asScala.toSeq,
      "segments" -> segments.toSeq, "progress" -> progress.events.asScala.toSeq.map(RawJson(_)),
      "run_span" -> runSpan.id)
  }
}

/** Already-rendered JSON, embedded verbatim. */
final case class RawJson(text: String)
