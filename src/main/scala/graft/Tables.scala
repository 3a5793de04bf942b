package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated test tables (TESTDATA.md). */
object Tables {

  /** Half-up rounding to 4 decimals, `floor(x * 10000 + 0.5) / 10000`:
    * the rounding the query results and their DuckDB oracles share. */
  def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000

  /** The session confs Spark's parquet schema inference reads. */
  private val InferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  /** What an inferred schema depends on: the file's status and the
    * inference confs' session values. */
  private final case class SchemaKey(length: Long, mtime: Long, confs: Seq[Option[String]])

  /** One entry per qualified file path: the key it was inferred under
    * and the `StructType` Spark's own inference returned. */
  private val inferred = new ConcurrentHashMap[String, (SchemaKey, StructType)]()

  /** The table `<dir>/<name>.parquet`, read with the schema Spark
    * inferred for the same file before, so a repeated read starts no
    * inference job (one `parquet at` job per call otherwise).
    *
    * The cache key is the qualified path, the file's length and
    * modification time, and the session values of [[InferenceConfs]].
    * A hit reads `s.read.schema(known).parquet(path)`. Everything else
    * — a first read, a changed status or conf, a directory, a missing
    * file, a status that cannot be read — is a plain
    * `s.read.parquet(path)`, so its errors are Spark's own, and a
    * successful one replaces the path's entry. No footer is parsed
    * here: the only schema ever reused is the one Spark returned. */
  def table(s: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    fileKey(s, p) match {
      case Some((path, key)) =>
        Option(inferred.get(path)) match {
          case Some((k, schema)) if k == key => s.read.schema(schema).parquet(p)
          case _ =>
            val df = s.read.parquet(p)
            inferred.put(path, (key, df.schema))
            df
        }
      case None => s.read.parquet(p)
    }
  }

  /** (qualified path, schema key) of a regular file, None otherwise. */
  private def fileKey(s: SparkSession, p: String): Option[(String, SchemaKey)] =
    Try {
      val path = new Path(p)
      val fs = path.getFileSystem(s.sessionState.newHadoopConf())
      val st = fs.getFileStatus(path)
      if (!st.isFile) None
      else Some(fs.makeQualified(path).toString ->
        SchemaKey(st.getLen, st.getModificationTime, InferenceConfs.map(s.conf.getOption)))
    }.toOption.flatten

  /** Spread a frame across the session's cores ONLY when its planned
    * partition count is below them (r16 optimization pass, guide §2.3/
    * §2.4). The CPU-heavy per-row ops (shingling, gram hashing,
    * winnowing) used an unconditional
    * `repartition(defaultParallelism)`: right at test SF — the tables
    * arrive as one or two parquet splits, and without the spread the
    * per-row work serializes on the scan — but at corpus scale the
    * scan already carries ≥ thousands of splits and the repartition
    * becomes a full shuffle of the TEXT PAYLOAD that exists only to
    * re-balance already-parallel work (the §8 anti-pattern: heavy
    * bytes moved to make a decision the scan layout already made).
    * The partition count comes from the PHYSICAL plan (no job runs),
    * so the cutover is input-derived: small inputs keep today's exact
    * plan, large inputs lose one corpus-sized exchange.
    * DeterminismSweep's scan-split axis pins that both shapes agree.
    *
    * PRECONDITION (r16 ADVICE): `df` must be SCAN-ADJACENT — a narrow
    * chain over a file source. `df.rdd.getNumPartitions` forces
    * physical planning and builds a discarded RDD conversion per call
    * (job-free but not cost-free), and for any plan containing a
    * SHUFFLE it returns `spark.sql.shuffle.partitions` rather than the
    * scan split count — a post-shuffle caller would silently skip the
    * spread whenever the session default exceeds the core count. All
    * current callers sit directly over a parquet scan. */
  def spread(s: SparkSession, df: DataFrame): DataFrame = {
    val cores = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
  }

  /** `events.ts`'s physical parquet type has drifted across test-data
    * generations: TIMESTAMP(NANOS) — which Spark refuses natively
    * ([PARQUET_TYPE_ILLEGAL]) and only reads as a raw nanos BIGINT via
    * the legacy `nanosAsLong` conf — versus
    * TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark ≥3.4
    * resolves natively as TIMESTAMP_NTZ. Read whatever is on disk and
    * let [[eventTs]]/[[eventTsMicros]] normalize from the RESOLVED
    * type; never assume the int64's unit (a micros column read through
    * a nanos-era `ts div 1000` collapses event-time by 1000× and
    * passes silently — round-8 postmortem). */
  /** True only for the specific failure the legacy retry exists for:
    * Spark refusing a TIMESTAMP(NANOS) parquet footer. Retrying on ANY
    * error would set the session-wide legacy conf on e.g. a missing
    * directory, silently changing how every LATER nanos-era read in
    * the session resolves (r10 review finding). */
  private def isNanosFooterError(t: Throwable): Boolean = {
    val m = Option(t.getMessage).getOrElse("")
    m.contains("PARQUET_TYPE_ILLEGAL") || m.contains("NANOS")
  }

  def eventsRaw(s: SparkSession, dir: String): DataFrame =
    try table(s, dir, "events") catch {
      case first: Throwable if isNanosFooterError(first) =>
        // nanos footer: retry with the legacy raw-long read (older
        // Sparks); if that conf is gone too, surface the original
        // error. The conf is DELIBERATELY left set for the session:
        // the streaming readers over the same feed must resolve the
        // same footer the same way, and it is only ever set after the
        // nanos error was actually observed.
        try {
          s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          table(s, dir, "events")
        } catch { case _: Throwable => throw first }
    }

  /** Resolved on-disk schema of the events table — streaming file
    * sources must declare it explicitly, and it MUST match the footer
    * (a mismatched int64 reinterpretation is silent garbage). */
  def eventsSchema(s: SparkSession, dir: String): StructType =
    eventsRaw(s, dir).schema

  /** Column expression turning an events `ts` column of resolved type
    * `dt` into microseconds since the epoch (UTC), truncating nanos —
    * exactly DuckDB's ns→µs TIMESTAMP coercion, so oracle comparisons
    * stay exact. The session timezone is UTC (GraftSession), which
    * makes the NTZ→TIMESTAMP cast value-preserving. */
  def eventTsMicros(dt: DataType): Column = dt match {
    case LongType         => expr("ts div 1000") // raw nanos (legacy read)
    case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
    case TimestampType    => unix_micros(col("ts"))
    case other => throw new IllegalStateException(
      s"unexpected events.ts type $other — extend Tables.eventTsMicros")
  }

  /** [[eventTsMicros]] as a session-UTC TIMESTAMP column. */
  def eventTs(dt: DataType): Column = timestamp_micros(eventTsMicros(dt))

  /** The events table with `ts` normalized to TIMESTAMP at microsecond
    * precision regardless of the on-disk representation. */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = eventsRaw(s, dir)
    raw.withColumn("ts", eventTs(raw.schema("ts").dataType))
  }
}
