package graft.sinks

import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.cdc.ChangeRecord

/** Upsert sink: maintains a materialized latest-state table on plain
  * parquet from a change stream — the "turn the database inside out"
  * materialized view the reference's presentation builds toward,
  * without requiring a table format.
  *
  * Snapshot-per-batch MVCC: each micro-batch writes a full new snapshot
  * `v{batchId}` (previous snapshot ∪ batch, latest row per key), then
  * atomically flips a `_LATEST` pointer file. Readers resolve the
  * pointer, so they never observe a half-written snapshot, and old
  * snapshots remain for time travel / debugging until vacuumed.
  *
  * Tombstones (op = "d") are RETAINED in snapshots so a late-arriving
  * lower-seq change can never resurrect a deleted key across batches;
  * [[readLatest]] filters them out.
  *
  * Known schema: the sink writes exactly the [[ChangeRecord]] columns,
  * so every snapshot read declares [[Schema]] instead of inferring it
  * from a footer (inference is a Spark job of its own). File sources
  * read a declared schema as nullable, as they do an inferred one.
  *
  * Job budget: a micro-batch is the snapshot write (one shuffle on the
  * key, the same cost as the batch operator); a [[readLatest]] lookup
  * is the lookup's own job. With key-range partitioned snapshots only
  * touched partitions would rewrite — [[PartitionedTable]] is that
  * upgrade path. The pointer flip is the only coordination point and
  * parquet files are immutable, exactly the log-structured pattern
  * table formats formalize.
  */
object MaterializedTable {

  /** The layout's row schema: every snapshot holds exactly these
    * columns (plus the `__b` partition dir in [[PartitionedTable]]). */
  private[sinks] val Schema: StructType = Encoders.product[ChangeRecord].schema

  /** The batch's [[ChangeRecord]] columns, in [[Schema]] order — what
    * the sink writes, whatever else the batch's plan carries. */
  private[sinks] def changeColumns(batch: Dataset[ChangeRecord]): DataFrame =
    batch.toDF().select(Schema.fieldNames.toIndexedSeq.map(col): _*)

  /** Read sink-written parquet under the known [[Schema]] (no
    * inference job). */
  private[sinks] def readParquet(s: SparkSession, paths: String*): DataFrame =
    s.read.schema(Schema).parquet(paths: _*)

  private[sinks] def fs(s: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def pointerPath(table: String) = new Path(table, "_LATEST")

  /** Where the pointer is read and written. On `file:` that is the raw
    * local file system: the checksummed one keeps a `.crc` sidecar that
    * it renames separately from the pointer, so a reader could pair the
    * new pointer with the old checksum. */
  private def pointerFs(s: SparkSession, table: String): FileSystem =
    fs(s, table) match {
      case l: LocalFileSystem => l.getRaw
      case f => f
    }

  /** Small-file read shared by the pointer and manifest readers. */
  private[sinks] def readSmallFile(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
      out.toString("UTF-8")
    } finally in.close()
  }

  private[sinks] def readPointer(s: SparkSession, table: String): Option[String] = {
    val f = pointerFs(s, table)
    val p = pointerPath(table)
    if (!f.exists(p)) None
    else Some(readSmallFile(f, p).trim)
  }

  /** Publish `version` as the table's current state: write a temp file,
    * then replace `_LATEST` with it in one step, so a concurrent reader
    * sees either the old pointer or the new one, never neither. */
  private[sinks] def writePointer(s: SparkSession, table: String, version: String): Unit = {
    val f = pointerFs(s, table)
    val tmp = new Path(table, "_LATEST.tmp")
    val out = f.create(tmp, true)
    try out.write(version.getBytes("UTF-8")) finally out.close()
    f match {
      case raw: RawLocalFileSystem =>
        // POSIX rename(2) replaces the destination atomically
        Files.move(raw.pathToFile(tmp).toPath, raw.pathToFile(pointerPath(table)).toPath,
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      case _ =>
        // FileSystem.rename refuses existing destinations; FileContext's
        // OVERWRITE rename is the atomic pointer-flip primitive on HDFS
        FileContext.getFileContext(tmp.toUri, s.sparkContext.hadoopConfiguration)
          .rename(tmp, pointerPath(table), Options.Rename.OVERWRITE)
    }
  }

  /** Current snapshot including tombstones; empty if none yet. */
  def readSnapshot(s: SparkSession, table: String): Option[DataFrame] =
    readPointer(s, table).map(readVersion(s, table, _))

  /** Current materialized state (tombstones filtered). */
  def readLatest(s: SparkSession, table: String): DataFrame =
    readSnapshot(s, table)
      .map(_.filter(col("op") =!= "d"))
      .getOrElse(throw new IllegalStateException(s"no snapshot at $table"))

  /** Latest row per key, KEEPING delete tombstones. `partition` must
    * include `key`; a caller may lead with a function of the key (the
    * bucket) so the window reuses a clustering the input already has. */
  private[sinks] def latestWithTombstones(changes: DataFrame,
      partition: Column*): DataFrame = {
    val w = Window.partitionBy(partition: _*).orderBy(col("seq").desc)
    changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Sort key for `v{batch}_{millis}` snapshot names: the wall-clock
    * suffix FIRST (it is the only component monotone across checkpoint
    * restarts — batch ids reset to 0 on a fresh checkpoint, so a
    * batch-id-first sort would rank a restarted job's new snapshots
    * below the old run's and make vacuum delete the NEWEST dirs while
    * retaining stale ones), then the numeric batch id (two batches can
    * share a millisecond in a fast loop; same-run batch ids are
    * monotone), then the name. Lexicographic-only order would also put
    * v10 before v2. */
  private[sinks] def versionKey(v: String): (Long, Long, String) = {
    val digits = v.drop(1).takeWhile(_.isDigit)
    val ts = v.split('_').lift(1).filter(t => t.nonEmpty && t.forall(_.isDigit))
      .map(_.toLong).getOrElse(Long.MaxValue)
    (ts, if (digits.isEmpty) Long.MaxValue else digits.toLong, v)
  }

  /** Snapshot versions present, oldest → newest — the time-travel
    * handles (see [[versionKey]] for the restart-safe ordering). */
  def versions(s: SparkSession, table: String): Seq[String] =
    fs(s, table).listStatus(new Path(table)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v"))
      .map(_.getPath.getName)
      .sortBy(versionKey)

  /** Read a specific (immutable) snapshot — time travel. Includes
    * tombstones; filter `op <> 'd'` for the visible state. */
  def readVersion(s: SparkSession, table: String, version: String): DataFrame =
    readParquet(s, s"$table/$version")

  /** Delete all snapshots except the `keep` most recent (never the
    * current pointer target). Returns the deleted version names.
    * REFUSES a [[PartitionedTable]] layout (pointer names an
    * `m…` manifest, not a version dir): there, untouched buckets
    * reference OLD version dirs by design, so keep-newest deletion
    * would destroy data the current manifest still reads — use
    * [[PartitionedTable.vacuum]], which retains every referenced dir. */
  def vacuum(s: SparkSession, table: String, keep: Int = 2): Seq[String] = {
    val f = fs(s, table)
    val current = readPointer(s, table)
    current.filter(_.startsWith("m")).foreach { m =>
      throw new IllegalStateException(
        s"vacuum: $table is a PartitionedTable layout (pointer → manifest $m); " +
          "its manifest references old version dirs by design — use " +
          "PartitionedTable.vacuum")
    }
    val doomed = versions(s, table).dropRight(keep).filterNot(current.contains)
    doomed.foreach(v => f.delete(new Path(table, v), true))
    doomed
  }

  /** Start the streaming upsert sink; one snapshot per micro-batch. */
  def upsertSink(changes: Dataset[ChangeRecord], table: String,
      checkpoint: String): StreamingQuery = {
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[ChangeRecord], batchId: Long) =>
        val s = batch.sparkSession
        val changes = changeColumns(batch)
        val all = readSnapshot(s, table).map(_.unionByName(changes)).getOrElse(changes)
        // batch ids restart at 0 with a fresh checkpoint — suffix with
        // wall time so a restarted job can never overwrite a snapshot
        // a reader may currently hold (immutable snapshots = MVCC)
        val version = s"v${batchId}_${System.currentTimeMillis()}"
        latestWithTombstones(all, col("key")).write.mode("overwrite")
          .parquet(s"$table/$version")
        writePointer(s, table, version)
        ()
      }
      .start()
  }
}
