package graft.sinks

import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.cdc.{ApplyChanges, ChangeRecord}

/** Upsert sink: maintains a materialized latest-state table on plain
  * parquet from a change stream — the "turn the database inside out"
  * materialized view the reference's presentation builds toward,
  * without requiring a table format. Keys hash into `buckets`
  * partitions and a micro-batch rewrites ONLY the buckets its keys
  * touch; untouched buckets carry forward by reference.
  *
  * Layout (a minimal log-structured table format, the pattern
  * Iceberg/Delta formalize):
  * {{{
  *   table/_LATEST              name of the current manifest (the only
  *                              mutable file; replaced atomically)
  *   table/m{batch}_{ts}        immutable manifest: "<bucket>\t<dir>"
  *                              per line — bucket → version dir
  *   table/v{batch}_{ts}/__b=K/ immutable parquet, one dir per bucket
  * }}}
  * Readers resolve pointer → manifest → bucket dirs once per read, so
  * they see one consistent version end-to-end (MVCC). Every manifest
  * stays a readable snapshot until vacuumed: [[versions]] lists them
  * and [[readVersion]] reads one (time travel). A manifest listing no
  * bucket is an empty table; only a table without `_LATEST` has no
  * snapshot.
  *
  * Tombstones (op = "d") are RETAINED in the buckets so a late-arriving
  * lower-seq change can never resurrect a deleted key across batches;
  * [[readLatest]] filters them out.
  *
  * Known schema: bucket files hold exactly the [[ChangeRecord]]
  * columns, so every read declares [[Schema]] and Spark runs no
  * inference job.
  *
  * Job budget per micro-batch: one job materializes the persisted batch
  * and collects its touched buckets; the write is one shuffle — hash
  * clustering on the bucket, which also satisfies the latest-row window
  * on (bucket, key) and, sorted by (bucket, key, seq), the writer's
  * partition ordering — so two jobs under AQE. A [[readLatest]] lookup
  * is the lookup's own job.
  *
  * 100 TB: per batch, write cost ∝ size of touched buckets, not table
  * size — with enough buckets that approaches the change volume, which
  * is the whole point of incremental materialization. The same bucket
  * function co-locates the upsert window's shuffle and any downstream
  * key-equi join (bucket-join without an exchange).
  *
  * [[compact]] is the maintenance pass: drops delete tombstones at or
  * below an acked sequence horizon (safe exactly when the ingest
  * guarantees no change ≤ horizon can still arrive — the LSN-ack
  * contract of A19's resume bookkeeping) and merges each bucket's
  * accumulated files back to ~one, under a fresh manifest.
  */
object PartitionedTable {

  /** The layout's row schema: every bucket file holds exactly these
    * columns (the `__b` partition column lives in the dir name),
    * nullable as a file source reads any schema, so an empty version
    * and a read of files have one schema. */
  private val Schema: StructType = StructType(
    Encoders.product[ChangeRecord].schema.map(_.copy(nullable = true)))

  /** The batch's [[ChangeRecord]] columns, in [[Schema]] order — what
    * the sink writes, whatever else the batch's plan carries. */
  private def changeColumns(batch: Dataset[ChangeRecord]): DataFrame =
    batch.toDF().select(Schema.fieldNames.toIndexedSeq.map(col): _*)

  /** Read sink-written parquet under the known [[Schema]] (no
    * inference job). */
  private def readParquet(s: SparkSession, paths: Seq[String]): DataFrame =
    s.read.schema(Schema).parquet(paths: _*)

  private def fs(s: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def bucketCol(buckets: Int) = pmod(hash(col("key")), lit(buckets))

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
  private def readSmallFile(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
      out.toString("UTF-8")
    } finally in.close()
  }

  /** The current manifest's name; None before the first commit. */
  private def readPointer(s: SparkSession, table: String): Option[String] = {
    val f = pointerFs(s, table)
    val p = pointerPath(table)
    if (!f.exists(p)) None
    else Some(readSmallFile(f, p).trim)
  }

  /** Publish `manifest` as the table's current state: write a temp
    * file, then replace `_LATEST` with it in one step, so a concurrent
    * reader sees either the old pointer or the new one, never neither. */
  private def writePointer(s: SparkSession, table: String, manifest: String): Unit = {
    val f = pointerFs(s, table)
    val tmp = new Path(table, "_LATEST.tmp")
    val out = f.create(tmp, true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
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

  /** Sort key for `m{batch}_{millis}` manifest and `v{batch}_{millis}`
    * version names: the wall-clock suffix FIRST (it is the only
    * component monotone across checkpoint restarts — batch ids reset
    * to 0 on a fresh checkpoint, so a batch-id-first sort would rank a
    * restarted job's new manifests below the old run's and make vacuum
    * delete the NEWEST while retaining stale ones), then the numeric
    * batch id (two batches can share a millisecond in a fast loop;
    * same-run batch ids are monotone), then the name. Lexicographic-only
    * order would also put m10 before m2. */
  private def versionKey(v: String): (Long, Long, String) = {
    val digits = v.drop(1).takeWhile(_.isDigit)
    val ts = v.split('_').lift(1).filter(t => t.nonEmpty && t.forall(_.isDigit))
      .map(_.toLong).getOrElse(Long.MaxValue)
    (ts, if (digits.isEmpty) Long.MaxValue else digits.toLong, v)
  }

  /** Parse a manifest body: header line `buckets\t<N>` (the persisted
    * layout contract — see [[readManifestChecked]]) + `<bucket>\t<dir>`
    * rows. The header is optional on read so pre-header tables still
    * open (they just skip the layout check). */
  private def parseManifest(text: String): (Option[Int], Map[Int, String]) = {
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    val declared = lines.collectFirst {
      case l if l.startsWith("buckets\t") => l.split('\t')(1).toInt
    }
    val entries = lines.filterNot(_.startsWith("buckets\t")).map { l =>
      val Array(b, v) = l.split('\t'); b.toInt -> v
    }.toMap
    (declared, entries)
  }

  private def readManifestNamed(s: SparkSession, table: String,
      name: String): (Option[Int], Map[Int, String]) =
    parseManifest(readSmallFile(fs(s, table), new Path(table, name)))

  /** bucket → version-dir map of the current manifest (empty if none). */
  def readManifest(s: SparkSession, table: String): Map[Int, String] =
    readPointer(s, table).fold(Map.empty[Int, String])(readManifestNamed(s, table, _)._2)

  /** The layout's persisted bucket count, if a manifest exists. */
  def declaredBuckets(s: SparkSession, table: String): Option[Int] =
    readPointer(s, table).flatMap(m => readManifestNamed(s, table, m)._1)

  /** The entries of manifest `name`, validating its layout. FAILS FAST
    * when the caller's bucket count disagrees with the one the table
    * was written with: `pmod(hash(key), buckets)` routes keys, so a
    * mismatched count silently splits a key's history across two
    * buckets — the upsert window then never sees the key's prior row
    * and readLatest returns DUPLICATE rows per key. */
  private def readManifestChecked(s: SparkSession, table: String, name: String,
      buckets: Int): Map[Int, String] = {
    val (declared, entries) = readManifestNamed(s, table, name)
    declared.foreach { d =>
      if (d != buckets) throw new IllegalArgumentException(
        s"$table was written with buckets=$d but caller passed buckets=$buckets — " +
          "a mismatched bucket count splits keys across buckets and corrupts upserts")
    }
    entries
  }

  private def writeManifest(s: SparkSession, table: String, name: String,
      manifest: Map[Int, String], buckets: Int): Unit = {
    val f = fs(s, table)
    val body = (s"buckets\t$buckets" +:
      manifest.toSeq.sorted.map { case (b, v) => s"$b\t$v" })
      .mkString("\n")
    val out = f.create(new Path(table, name), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    writePointer(s, table, name) // manifests immutable; pointer flips
  }

  /** The listed buckets of `m` under the known schema; `__b` is
    * recomputed from the key (partition-dir reads drop the partition
    * column). No bucket is an empty local relation: no file, no job. */
  private def readBuckets(s: SparkSession, table: String, buckets: Int,
      m: Map[Int, String]): DataFrame = {
    val rows =
      if (m.isEmpty) s.createDataFrame(java.util.List.of[Row](), Schema)
      else readParquet(s, m.toSeq.sorted.map { case (b, v) => s"$table/$v/__b=$b" })
    rows.withColumn("__b", bucketCol(buckets))
  }

  /** Committed manifests, oldest → newest — the time-travel handles
    * (see [[versionKey]] for the restart-safe ordering). */
  def versions(s: SparkSession, table: String): Seq[String] =
    fs(s, table).listStatus(new Path(table)).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("m"))
      .map(_.getPath.getName)
      .sortBy(versionKey)

  /** The table as manifest `manifest` committed it — time travel.
    * Includes tombstones and the `__b` bucket column; filter
    * `op <> 'd'` for the visible state. */
  def readVersion(s: SparkSession, table: String, manifest: String,
      buckets: Int): DataFrame =
    readBuckets(s, table, buckets, readManifestChecked(s, table, manifest, buckets))

  /** Current table state incl. tombstones (None before first commit). */
  def readSnapshot(s: SparkSession, table: String, buckets: Int): Option[DataFrame] =
    readPointer(s, table).map(readVersion(s, table, _, buckets))

  /** Current materialized state (tombstones filtered, bucket dropped). */
  def readLatest(s: SparkSession, table: String, buckets: Int): DataFrame =
    readSnapshot(s, table, buckets)
      .map(_.filter(col("op") =!= "d").drop("__b"))
      .getOrElse(throw new IllegalStateException(s"no snapshot at $table"))

  /** Streaming upsert sink; each micro-batch rewrites touched buckets
    * only and republishes the manifest. */
  def upsertSink(changes: Dataset[ChangeRecord], table: String,
      checkpoint: String, buckets: Int): StreamingQuery = {
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[ChangeRecord], batchId: Long) =>
        val s = batch.sparkSession
        val manifest = readPointer(s, table)
          .fold(Map.empty[Int, String])(readManifestChecked(s, table, _, buckets))
        // persisted: the touched-bucket collect AND the bucket write
        // both act on the micro-batch; unpersisted, a file-backed source
        // would re-read and re-parse its segments twice per batch
        val b = changeColumns(batch).withColumn("__b", bucketCol(buckets)).persist()
        try {
          // ≤ `buckets` ints, deduplicated per partition inside the job
          // that fills the cache (a distinct() would add an exchange)
          val touched = b.select("__b").as(Encoders.scalaInt)
            .mapPartitions(_.toSet.iterator)(Encoders.scalaInt)
            .collect().distinct.sorted
          val prior = manifest.filter { case (p, _) => touched.contains(p) }
          val all =
            if (prior.isEmpty) b
            else readBuckets(s, table, buckets, prior).unionByName(b)
          val version = s"v${batchId}_${System.currentTimeMillis()}"
          // the batch's only exchange: clustering on the bucket puts each
          // bucket in one task (one file per bucket, so the next prior
          // read opens few files), the window on (bucket, key) reuses it,
          // and the (bucket, key, seq) sort meets the writer's ordering
          ApplyChanges.latestWithTombstones(all.repartition(col("__b")),
              Seq(col("__b"), col("key")), Seq(col("seq")))
            .sortWithinPartitions(col("__b"), col("key"), col("seq"))
            .write.partitionBy("__b")
            .mode("overwrite").parquet(s"$table/$version")
          writeManifest(s, table, s"m${batchId}_${System.currentTimeMillis()}",
            manifest ++ touched.map(_ -> version), buckets)
        } finally b.unpersist()
        ()
      }
      .start()
  }

  /** Maintenance compaction: drop tombstones with seq ≤ `horizon`
    * (the acked replication position — nothing at or below it can
    * still arrive), merge every bucket back to ~one file, publish a
    * fresh manifest. Returns the new version dir name. */
  def compact(s: SparkSession, table: String, buckets: Int,
      horizon: Long): String = {
    val snap = readSnapshot(s, table, buckets)
      .getOrElse(throw new IllegalStateException(s"no snapshot at $table"))
    val version = s"vc_${System.currentTimeMillis()}"
    snap.filter(!(col("op") === "d" && col("seq") <= horizon))
      .repartition(buckets, col("__b")).write.partitionBy("__b")
      .mode("overwrite").parquet(s"$table/$version")
    // the written partition dirs name exactly the buckets that still
    // hold rows (a bucket whose every row was a dropped tombstone
    // writes no dir; a table of nothing but such rows publishes an
    // empty manifest, which reads as an empty table)
    val present = fs(s, table)
      .listStatus(new Path(s"$table/$version")).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("__b="))
      .map(_.getPath.getName.stripPrefix("__b=").toInt)
    writeManifest(s, table, s"mc_${System.currentTimeMillis()}",
      present.map(_ -> version).toMap, buckets)
    version
  }

  /** Manifest-aware vacuum: keeps the `keep` most recent manifests
    * (plus the pointer target) and EVERY version dir any kept manifest
    * references — untouched buckets point at old version dirs by
    * design, so "keep the newest version dirs" would delete data the
    * current manifest still reads. Deletes older manifests and
    * unreferenced version dirs; returns the deleted names, version
    * dirs then manifests, each oldest first. */
  def vacuum(s: SparkSession, table: String, keep: Int = 2): Seq[String] = {
    val f = fs(s, table)
    val manifests = versions(s, table)
    val keptManifests =
      (manifests.takeRight(keep) ++ readPointer(s, table).toSeq).distinct
    val referenced = keptManifests
      .flatMap(m => readManifestNamed(s, table, m)._2.values).toSet
    val doomedV = f.listStatus(new Path(table)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v"))
      .map(_.getPath.getName)
      .filterNot(referenced)
      .sortBy(versionKey)
    val doomedM = manifests.filterNot(keptManifests.contains)
    val doomed = doomedV ++ doomedM
    doomed.foreach(n => f.delete(new Path(table, n), true))
    doomed
  }
}
