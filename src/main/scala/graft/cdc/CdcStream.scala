package graft.cdc

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** One change-feed record in flight (micros instead of Timestamp keeps
  * the encoder simple and the state compact). The framing fields the
  * wire format makes structurally mandatory — key, seq/LSN, op, commit
  * time — are non-null by the [[ChangeFeed]] well-formedness contract;
  * `value` is COLUMN data and stays optional (a real change can carry
  * NULL in any column — dropping such rows would corrupt state). */
case class ChangeRecord(key: Long, seq: Long, op: String,
    event_type: String, value: Option[Double], tsMicros: Long)

/** Structured-Streaming twins of [[ApplyChanges]] — the "consume a
  * Debezium/Kafka change stream, keep materialized state" path from the
  * reference's presentation. In production the source would be
  * Kafka+Debezium; here the bounded file source stands in, which is
  * exactly how Structured Streaming treats a backfill anyway.
  *
  * Scale: state lives in the state store keyed by `key` (RocksDB on a
  * real cluster); each micro-batch shuffles only that batch's changes.
  */
object CdcStream {

  /** Stateful-stream partition count. `spark.sql.shuffle.partitions`
    * at stream START fixes the state-store count for the life of the
    * checkpoint, and each store pays per-batch commit overhead — so
    * size it to STATE volume, not to the batch shuffle default
    * (measured at sf0.1: stream-stream join 8.5 s @ 32 stores → 4.2 s
    * @ 8; a cluster with large state raises it instead). Bounded
    * runners scope the setting to the streaming query and restore.
    * Env-overridable so deployments (and the SCALING.md sf1
    * measurement) can size it to state volume without a rebuild;
    * validated here so a malformed value fails by NAME, not as an
    * ExceptionInInitializerError at the first streaming query. */
  val StatePartitions: Int = {
    val raw = sys.env.getOrElse("GRAFT_STATE_PARTITIONS", "8")
    val n = raw.toIntOption.getOrElse(throw new IllegalArgumentException(
      s"GRAFT_STATE_PARTITIONS must be a positive int, got '$raw'"))
    require(n > 0, s"GRAFT_STATE_PARTITIONS must be positive, got $n")
    n
  }

  /** Production state-store provider, the scaffold DEFAULT for the
    * KEYED-STATE runners since r11 (r10 verdict task 6: SCALING.md
    * measured RocksDB ~25% faster at 1M-event flatMapGroupsWithState
    * state, and SURVEY §3 names it the production choice). The
    * STREAM-STREAM JOIN runner keeps the HDFS-backed provider: the
    * same r11 measurement pass found the join 2.8× SLOWER under
    * RocksDB at sf1 (5.7 s vs 15.8 s warm) — a symmetric join
    * maintains four stores per side with several gets/puts per input
    * row, and the per-op JNI overhead dominates at this state shape
    * where the keyed runners' one-get-one-put profile does not. Both
    * measurements in SCALING.md round-11; per-runner choice is
    * exactly the tuning a real deployment makes. An EXPLICITLY-set
    * session provider always wins: the conf is only defaulted when
    * absent, so StreamingStateStoreSpec still pins both providers to
    * identical results, and TimeQuery's `k=v` overrides keep
    * working. */
  val RocksProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  val HdfsProvider: String =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"
  /** RocksDB changelog checkpointing, scaffold-defaulted ON (r16
    * optimization pass): the default full-snapshot mode uploads every
    * store's SST set synchronously inside EVERY micro-batch commit —
    * measured at sf0.1 as ~1/3 of the whole stateful-runner floor
    * (5-runner A/B: 20.6 s full-snapshot vs 13.8 s changelog, same
    * window; sf1 warm-run parity 24.8 vs 24.6 s, so the win is pure
    * per-commit fixed cost, not a small-state artifact). Changelog
    * mode commits the per-batch delta and defers SST snapshots to the
    * background maintenance thread — the documented production
    * trade (faster commits, recovery replays changelog since the last
    * snapshot). Explicit session conf always wins, same contract as
    * the provider default above; recovery-across-restart is re-proven
    * under the flag by StreamRecoverySpec/StreamRecoverySf1. */
  private val ChangelogConf =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  private[cdc] def withStatePartitions[T](s: SparkSession,
      defaultProvider: String = RocksProvider)(f: => T): T =
    // serialized under SessionConfLock: two runners racing the
    // set/restore on one shared session would otherwise restore stale
    // widths or run under each other's state-partition count (r11
    // concurrency audit; ConcurrencySpec races two runners and pins
    // both results + the restored conf)
    graft.SessionConfLock.synchronized {
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      // conf.get(key, fallback) returns the fallback iff the key is not
      // EXPLICITLY set in this session (registered defaults don't count)
      val explicitProvider = s.conf.get(ProviderConf, "")
      val explicitChangelog = s.conf.get(ChangelogConf, "")
      s.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
      if (explicitProvider.isEmpty) s.conf.set(ProviderConf, defaultProvider)
      if (explicitChangelog.isEmpty) s.conf.set(ChangelogConf, "true")
      try f finally {
        s.conf.set("spark.sql.shuffle.partitions", prev)
        if (explicitProvider.isEmpty) s.conf.unset(ProviderConf)
        if (explicitChangelog.isEmpty) s.conf.unset(ChangelogConf)
      }
    }

  /** Shared bounded-run scaffold: start `df` into a uniquely-named
    * memory sink under [[StatePartitions]], drain, stop, and return
    * the sink table — the sequence every bounded runner repeats
    * (factored in r10; a drain-behavior fix now lands in one place). */
  private def runToMemorySink(spark: SparkSession, df: DataFrame,
      mode: OutputMode, prefix: String,
      provider: String = RocksProvider): DataFrame = {
    val name = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark, provider) {
      val q = df.writeStream
        .outputMode(mode).format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
  }

  /** Latest-state upserts via flatMapGroupsWithState (Update mode).
    * Emits the current state of every key touched by the batch; a
    * delete keeps a tombstone in state so late lower-seq changes can't
    * resurrect the row (emitted with op = "d", filtered by the reader). */
  def latestState(changes: Dataset[ChangeRecord]): Dataset[ChangeRecord] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[ChangeRecord], state: GroupState[ChangeRecord]) => {
          val best = (state.getOption.iterator ++ rows).maxBy(_.seq)
          state.update(best)
          Iterator.single(best)
        })
  }

  /** Bounded run helper: stream `changes` through [[latestState]] into
    * a memory sink and return the final materialized table (batch-
    * equivalent of [[ApplyChanges.latest]]). */
  def runLatestStateBounded(spark: SparkSession, changes: Dataset[ChangeRecord]): DataFrame = {
    val all = runToMemorySink(spark, latestState(changes).toDF(),
      OutputMode.Update, "graft_upserts_")
    // A key may be emitted once per micro-batch: keep its max-seq row —
    // exactly the batch operator this runner is contracted to equal
    ApplyChanges.latest(all, Seq("key"), Seq("seq"))
  }

  /** Streaming SCD2: per-key state holds the open (current) version;
    * each arriving change closes it (emit with valid_to) and opens a
    * new one. Emissions are keyed (key, seq) so the bounded reader can
    * keep the latest emission per version — the final table must equal
    * the batch [[ApplyChanges.scd2]]. State is one row per live key.
    *
    * Delivery contract (disclosed, r10 review): cross-BATCH late
    * lower-seq changes are joined against the retained newest version
    * only, so a version already emitted closed can keep a stale
    * valid_to if a strictly lower seq for the same key arrives in a
    * LATER micro-batch. Within a batch, order is free. This is the
    * WAL-order guarantee every real CDC transport provides (changes
    * arrive in commit/LSN order per key); the bounded gates feed all
    * data in one batch, where the equality is unconditional. Keeping
    * full per-key version history in state would lift the contract at
    * unbounded state cost. */
  def runScd2Bounded(spark: SparkSession, changes: Dataset[ChangeRecord]): DataFrame = {
    import spark.implicits._
    val versions = changes
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: Long, rows: Iterator[ChangeRecord], state: GroupState[ChangeRecord]) => {
          val sorted = (state.getOption.iterator ++ rows).toSeq
            .distinctBy(_.seq).sortBy(_.seq)
          if (sorted.isEmpty) Iterator.empty
          else {
            state.update(sorted.last)
            // emit every version with its closing bound (None = open)
            sorted.zip(sorted.drop(1).map(Option(_)) :+ None).iterator.map {
              case (v, next) =>
                (key, v.seq, v.op, v.event_type, v.value, v.tsMicros,
                  next.map(_.tsMicros), next.isEmpty && v.op != "d")
            }
          }
        })
      .toDF("key", "seq", "op", "event_type", "value",
        "valid_from_us", "valid_to_us", "is_current")
    // keep each version's latest emission (a version re-emits when a
    // later batch closes it)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"key", $"seq").orderBy($"valid_to_us".asc_nulls_last)
    runToMemorySink(spark, versions, OutputMode.Update, "graft_scd2_")
      .withColumn("__rn", row_number().over(w))
      .filter($"__rn" === 1).drop("__rn")
  }

  /** Stream-stream inner join with watermarks + time-range condition
    * (the presentation's "streaming joins of change feeds"): signups ⋈
    * purchases by the same user within 1 hour of signup. Both sides
    * carry a watermark so the join state is GC'd once the range
    * condition can no longer match — bounded state at 100 TB. */
  def runStreamJoinBounded(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val signups = events.filter($"event_type" === "signup")
      .select($"user_id", $"ts".as("signup_ts"), $"event_id".as("signup_seq"))
      .withWatermark("signup_ts", "2 hours")
    val purchases = events.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user_id"), $"ts".as("purchase_ts"),
        $"event_id".as("purchase_seq"), $"value".as("purchase_value"))
      .withWatermark("purchase_ts", "2 hours")
    val joined = signups.join(purchases,
      $"user_id" === $"p_user_id" &&
        $"purchase_ts" >= $"signup_ts" &&
        $"purchase_ts" <= $"signup_ts" + expr("INTERVAL 1 HOUR"))
    // HDFS-backed store for the SYMMETRIC join state — measured 2.8×
    // faster than RocksDB at sf1 for this runner (see RocksProvider doc)
    runToMemorySink(spark, joined, OutputMode.Append, "graft_sjoin_",
      HdfsProvider)
  }

  /** Streaming exact dedup on event_id with watermark-bounded state:
    * duplicates arriving within the watermark horizon are dropped, and
    * state for expired event-times is GC'd (unbounded-stream safe,
    * unlike plain dropDuplicates). */
  def runStreamDedupBounded(spark: SparkSession, events: DataFrame): DataFrame =
    runToMemorySink(spark,
      events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark("event_id"),
      OutputMode.Append, "graft_sdedup_")

  /** One event in the streaming as-of buffer (`ts` carries the
    * watermark; `tsUs` is the exact microsecond join key). */
  case class AsOfEvent(user_id: Long, id: Long, ts: java.sql.Timestamp,
      tsUs: Long, etype: String, value: Option[Double])
  /** Per-user as-of state: the user's in-horizon history. */
  case class AsOfBuf(rows: Seq[AsOfEvent])
  /** Streaming as-of output (LEFT semantics — state side optional). */
  case class AsOfOut(p_id: Long, p_user: Long, s_id: Option[Long],
      s_type: Option[String], s_value: Option[Double])

  /** Streaming AS-OF join via flatMapGroupsWithState + event-time
    * timeout: per user, batches buffer both sides in state; when the
    * watermark passes the group's timeout (end-of-stream punctuation
    * advances it), the group emits every purchase joined to the
    * latest state row at-or-before it (ties by highest id) — the
    * streaming twin of [[graft.plans.AsOfJoinExec]]'s merge-scan, and
    * the same "replay the table as of this position" primitive. The
    * emission itself is the O(n+m) two-pointer merge over the sorted
    * buffers. State is each user's in-horizon history; a production
    * deployment bounds the horizon with the watermark exactly like
    * stream-stream joins (rows behind it can be emitted + dropped). */
  def streamAsOf(events: Dataset[AsOfEvent]): Dataset[AsOfOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, rows: Iterator[AsOfEvent], state: GroupState[AsOfBuf]) => {
          if (state.hasTimedOut) {
            val all = state.get.rows
            state.remove()
            val st = all.filter(_.etype != "purchase")
              .sortBy(r => (r.tsUs, r.id))
            val probes = all.filter(_.etype == "purchase")
              .sortBy(r => (r.tsUs, r.id))
            var i = 0
            var best: Option[AsOfEvent] = None
            probes.iterator.map { p =>
              while (i < st.length && st(i).tsUs <= p.tsUs) {
                // ascending (ts, id) scan keeps the tie rule: latest
                // ts wins, then highest id
                best = Some(st(i)); i += 1
              }
              AsOfOut(p.id, uid, best.map(_.id), best.map(_.etype),
                best.flatMap(_.value))
            }
          } else {
            state.update(AsOfBuf(
              state.getOption.map(_.rows).getOrElse(Seq.empty) ++ rows))
            // fire once the watermark moves past everything seen so far
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
            Iterator.empty
          }
        })
  }

  /** Guard against the silent unit-scale failure class: a feed whose
    * declared schema misreads the on-disk int64 (nanos vs micros)
    * yields event-times around 1970, and every window/join collapses
    * while row counts stay plausible (round-8 postmortem). Re-read the
    * feed in BATCH with the SAME declared schema + normalization and
    * require its min event-time to be post-2000 — cheap (one small
    * agg) and it turns silent garbage into a named failure. */
  /** Min `ts` in MICROS from the parquet FOOTER statistics of every
    * data file under `path` — column-chunk min/max answer the guard's
    * question from metadata on the driver, without a min-aggregation
    * job. Returns None whenever the metadata cannot answer (caller
    * falls back to the Spark agg): a chunk without trustworthy stats, a
    * `ts` column whose physical unit is unknown, or a directory with
    * subdirectories (nested layouts the readers discover recursively
    * but this one-level listing would miss). Some(None) for an
    * empty/all-null feed; Some(Some(micros)) otherwise. The unit
    * normalization mirrors what [[graft.Tables.eventTsMicros]] reads: a
    * LongType feed is the raw int64 as nanos (div 1000); a timestamp
    * feed is decoded by its footer's TIMESTAMP unit. */
  private def minTsMicrosFromFooters(spark: SparkSession, path: String,
      tsType: org.apache.spark.sql.types.DataType): Option[Option[Long]] = try {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val (nested, files) =
      if (!fs.getFileStatus(p).isDirectory) (false, Seq(p))
      else {
        val visible = fs.listStatus(p).toSeq.filterNot { e =>
          val n = e.getPath.getName; n.startsWith("_") || n.startsWith(".")
        }
        (visible.exists(_.isDirectory),
          visible.map(_.getPath).filter(_.getName.endsWith(".parquet")))
      }
    if (nested) None
    else {
      val mins = files.map(footerMinMicros(_, conf, tsType))
      if (mins.exists(_.isEmpty)) None else Some(mins.flatMap(_.get).minOption)
    }
  } catch { case _: Exception => None }

  /** [[minTsMicrosFromFooters]] for one file. The raw int64 becomes
    * micros by the file's own `ts` annotation (MILLIS ×1000, NANOS
    * ÷1000); a timestamp feed without one is untrusted. */
  private def footerMinMicros(f: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration,
      tsType: org.apache.spark.sql.types.DataType): Option[Option[Long]] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
    try {
      val footer = rdr.getFooter
      val fileSchema = footer.getFileMetaData.getSchema
      val toMicros: Option[Long => Long] =
        fileSchema.getType(fileSchema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
          case _ if tsType == LongType => Some(_ / 1000) // raw nanos feed (legacy read)
          case t: TimestampLogicalTypeAnnotation => t.getUnit match {
            case TimeUnit.MILLIS => Some(_ * 1000)
            case TimeUnit.MICROS => Some(identity)
            case TimeUnit.NANOS => Some(_ / 1000)
          }
          case _ => None
        }
      toMicros.flatMap { conv =>
        val chunks = footer.getBlocks.asScala.toSeq.filter(_.getRowCount > 0).map { b =>
          val st = b.getColumns.asScala
            .find(_.getPath.toDotString == "ts").map(_.getStatistics).orNull
          if (st != null && st.hasNonNullValue)
            Some(Some(conv(st.genericGetMin.asInstanceOf[java.lang.Long].longValue())))
          else if (st != null && st.isNumNullsSet && st.getNumNulls >= b.getRowCount)
            Some(None) // a genuinely all-null chunk
          else None // stats absent: the metadata cannot answer
        }
        if (chunks.exists(_.isEmpty)) None else Some(chunks.flatMap(_.get).minOption)
      }
    } finally rdr.close()
  }

  /** 2000-01-01T00:00:00Z in epoch micros — the sanity floor. */
  private val Year2000Micros = 946684800000000L

  private[cdc] def assertEventTimeSane(spark: SparkSession, path: String,
      schema: StructType): Unit = {
    val tsType = schema("ts").dataType
    // null/absent min ⇒ the feed is EMPTY (or all-null ts) — a
    // legitimate state (fresh CDC slot, filtered-to-nothing
    // partition), not a unit mismatch: let it flow through to an empty
    // result (r11 empty-input sweep; the old guard blamed "ts
    // unit/schema mismatch" for an empty feed)
    val minMicros: Option[Long] = minTsMicrosFromFooters(spark, path, tsType)
      .getOrElse {
        // fallback: footer stats unavailable — the original r8 agg
        val batch = spark.read.schema(schema).parquet(path)
        val minTs = batch
          .agg(min(graft.Tables.eventTs(tsType)).as("min_ts"))
          .head.getTimestamp(0)
        Option(minTs).map(t => t.getTime * 1000 + t.getNanos / 1000 % 1000)
      }
    require(minMicros.forall(_ > Year2000Micros),
      s"event feed at $path has min event-time " +
        minMicros.map(us => java.time.Instant.EPOCH
          .plus(us, java.time.temporal.ChronoUnit.MICROS).toString).orNull +
        " (pre-2000) — ts unit/schema mismatch; see Tables.eventTsMicros")
  }

  /** Write the 1-row end-of-stream sentinel parquet with parquet-java
    * (no Spark job — see the call site). The ts column carries the
    * FEED's physical representation: plain int64 nanos for a LongType
    * feed, TIMESTAMP(MICROS) with the matching isAdjustedToUTC flag
    * for the timestamp feeds — exactly what the old
    * `lit(...).write.parquet` produced for each branch of the declared
    * schema. */
  private[cdc] def writeSentinelFile(dst: java.nio.file.Path,
      tsType: org.apache.spark.sql.types.DataType): Unit = {
    import org.apache.parquet.schema.{MessageType, Types}
    import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val tsField = tsType match {
      case LongType => Types.required(INT64).named("ts")
      case TimestampNTZType => Types.required(INT64)
        .as(LTA.timestampType(false, LTA.TimeUnit.MICROS)).named("ts")
      case _ => Types.required(INT64)
        .as(LTA.timestampType(true, LTA.TimeUnit.MICROS)).named("ts")
    }
    val schema = new MessageType("spark_schema",
      Types.required(INT64).named("event_id"),
      tsField,
      Types.required(INT64).named("user_id"),
      Types.required(BINARY).as(LTA.stringType()).named("event_type"),
      Types.required(DOUBLE).named("value"),
      Types.required(BINARY).as(LTA.stringType()).named("props"))
    val conf = new org.apache.hadoop.conf.Configuration()
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(new org.apache.hadoop.fs.Path(dst.toUri), conf))
      .withConf(conf)
      .build()
    val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
    g.add("event_id", -1L)
    g.add("ts", tsType match {
      case LongType => 4102444800000000000L // 2100-01-01 in nanos
      case _ => 4102444800000000L // 2100-01-01 in micros
    })
    g.add("user_id", -1L)
    g.add("event_type", "sentinel")
    g.add("value", 0.0)
    g.add("props", "{}")
    try w.write(g) finally w.close()
  }

  /** Publish the sentinel into the live stream directory `inDir`: it
    * is written under a dot-prefixed name, which the file source
    * ignores, then moved to `01_sentinel.parquet` in one rename, so the
    * running query can never list a half-written file. */
  private[cdc] def publishSentinel(inDir: java.nio.file.Path,
      tsType: org.apache.spark.sql.types.DataType): Unit = {
    val tmp = inDir.resolve(".01_sentinel.parquet.tmp")
    writeSentinelFile(tmp, tsType)
    java.nio.file.Files.move(tmp, inDir.resolve("01_sentinel.parquet"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Run a watermarked APPEND-mode streaming aggregation over the
    * events file with end-of-stream punctuation: the events parquet is
    * batch 1; a far-future sentinel event (user −1, year 2100) arrives
    * as batch 2 and advances the watermark past every real window, so
    * append mode finalizes and emits each window exactly once. This is
    * the unbounded-safe pattern (state bounded by the watermark, no
    * per-batch full-result rewrite); a real CDC feed closes windows the
    * same way via source heartbeats. `build` receives the event stream
    * (event_id, ts, user_id, event_type, value, props) with `ts`
    * already normalized to TIMESTAMP micros ([[graft.Tables.eventTs]]);
    * callers filter the sentinel out of the result. */
  def runPunctuatedAppend(spark: SparkSession, dir: String)
      (build: DataFrame => DataFrame): DataFrame = {
    val schema = graft.Tables.eventsSchema(spark, dir)
    val tsType = schema("ts").dataType
    val inDir = graft.Scratch.dir("graft_punct_in")
    // events.parquet may be one file (driver test data) or a directory
    // of part files (ScaleUp replicas) — stage every data file first.
    // Staged via HARDLINK where the filesystem allows (a bench JVM
    // calls this per punctuated query per run — full copies of an sf1
    // feed accumulated gigabytes in scratch before the exit hook;
    // r10 review finding), falling back to copy across filesystems.
    //
    // ALL data files must land in ONE micro-batch (no
    // maxFilesPerTrigger): part files are not time-ordered (ScaleUp
    // replicas are round-robin repartitioned, every part spans the
    // full event-time range), so a file-per-batch read advances the
    // watermark to max−delay after the FIRST part and every later
    // part's rows are silently dropped as late by the watermarked
    // aggregation — measured at sf1: the A24 as-of emitted 12,874 of
    // ~19,810 expected rows under file-per-batch staging, while the
    // single-file gates (sf0.001–0.1) never exercised the path (the
    // r8 silent-garbage class again; caught by the r10 review, pinned
    // by CdcStreamSpec's out-of-order two-part feed). The sentinel
    // still arrives in its OWN later batch — it is moved in only
    // after the first processAllAvailable() has drained the data —
    // so watermark punctuation and APPEND finalization are unchanged.
    val src = java.nio.file.Paths.get(dir, "events.parquet")
    def stage(p: java.nio.file.Path, to: String): Unit = {
      val dst = inDir.resolve(to)
      try java.nio.file.Files.createLink(dst, p)
      catch { case _: Exception => java.nio.file.Files.copy(p, dst); () }
    }
    if (java.nio.file.Files.isDirectory(src)) {
      val listing = java.nio.file.Files.list(src)
      val parts =
        try listing.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
          .sortBy(_.getFileName.toString)
        finally listing.close()
      parts.zipWithIndex.foreach { case (p, i) =>
        stage(p, f"0${i}%05d_events.parquet")
      }
    } else {
      stage(src, "000000_events.parquet")
    }
    assertEventTimeSane(spark, inDir.toString, schema)
    val name = "graft_punct_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val agg = build(spark.readStream.schema(schema)
      .parquet(inDir.toString)
      .withColumn("ts", graft.Tables.eventTs(tsType)))
    withStatePartitions(spark) {
      val q = agg.writeStream
        .outputMode(OutputMode.Append).format("memory").queryName(name).start()
      try {
        q.processAllAvailable()
        // sentinel ts must carry the FILE's representation (2100-01-01).
        // Written with parquet-java directly: a Spark write JOB (plan +
        // schedule + commit protocol) buys nothing for a constant row,
        // and the declared read schema is per-column name/type-matched,
        // so the stream decodes it like a Spark-written file.
        publishSentinel(inDir, tsType)
        q.processAllAvailable()
      } finally q.stop()
    }
    spark.table(name)
  }

  /** Streaming tumbling-window aggregate (1h) per event_type:
    * watermark + APPEND mode with end-of-stream punctuation
    * ([[runPunctuatedAppend]]) — each window is emitted once when the
    * watermark passes it, state is GC'd behind the watermark. The
    * bounded result equals the batch oracle because the sentinel
    * finalizes every real window. */
  def runWindowedBounded(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    runPunctuatedAppend(spark, dir) { raw =>
      raw.select($"ts", $"event_type", $"value")
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n_events"),
          (floor(sum($"value") * 100 + 0.5) / 100).as("total_value"))
    }
      // null-SAFE sentinel drop: a NULL event_type is a real group in
      // a dirty feed; `=!= "sentinel"` alone silently swallows it
      .filter($"event_type".isNull || $"event_type" =!= "sentinel")
      .select(date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        $"event_type", $"n_events", $"total_value")
  }
}
