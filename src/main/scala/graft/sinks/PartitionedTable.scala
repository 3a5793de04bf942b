package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.ChangeRecord

/** Bucket-partitioned incremental upsert sink — the compaction/scale
  * upgrade path [[MaterializedTable]]'s Scaladoc promises: instead of
  * rewriting the whole table every micro-batch, keys hash into
  * `buckets` partitions and a batch rewrites ONLY the buckets its keys
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
  * they see one consistent version end-to-end (MVCC); old manifests
  * remain valid snapshots until vacuumed.
  *
  * Known schema: bucket files hold exactly the [[ChangeRecord]]
  * columns, so every read declares [[MaterializedTable.Schema]] and
  * Spark runs no inference job.
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

  import MaterializedTable.{changeColumns, fs, latestWithTombstones, readParquet,
    readPointer, readSmallFile, writePointer}

  private def bucketCol(buckets: Int) = pmod(hash(col("key")), lit(buckets))

  /** Parse a manifest body: header line `buckets\t<N>` (the persisted
    * layout contract — see [[currentManifest]]) + `<bucket>\t<dir>`
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
    readPointer(s, table) match {
      case None => Map.empty
      case Some(m) => readManifestNamed(s, table, m)._2
    }

  /** The layout's persisted bucket count, if a manifest exists. */
  def declaredBuckets(s: SparkSession, table: String): Option[Int] =
    readPointer(s, table).flatMap(m => readManifestNamed(s, table, m)._1)

  /** The current manifest (empty if none), resolving the pointer once
    * and validating that same manifest's layout. FAILS FAST when the
    * caller's bucket count disagrees with the one the table was
    * written with: `pmod(hash(key), buckets)` routes keys, so a
    * mismatched count silently splits a key's history across two
    * buckets — the upsert window then never sees the key's prior row
    * and readLatest returns DUPLICATE rows per key. */
  private def currentManifest(s: SparkSession, table: String,
      buckets: Int): Map[Int, String] =
    readPointer(s, table).fold(Map.empty[Int, String]) { m =>
      val (declared, entries) = readManifestNamed(s, table, m)
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
    * column). */
  private def readBuckets(s: SparkSession, table: String, buckets: Int,
      m: Map[Int, String]): DataFrame =
    readParquet(s, m.toSeq.sorted.map { case (b, v) => s"$table/$v/__b=$b" }: _*)
      .withColumn("__b", bucketCol(buckets))

  /** Current table state incl. tombstones (None before first batch). */
  def readSnapshot(s: SparkSession, table: String, buckets: Int): Option[DataFrame] = {
    val m = currentManifest(s, table, buckets)
    if (m.isEmpty) None else Some(readBuckets(s, table, buckets, m))
  }

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
        val manifest = currentManifest(s, table, buckets)
        // persisted: the touched-bucket collect AND the snapshot write
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
          latestWithTombstones(all.repartition(col("__b")), col("__b"), col("key"))
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
    // writes no dir)
    val present = fs(s, table)
      .listStatus(new Path(s"$table/$version")).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("__b="))
      .map(_.getPath.getName.stripPrefix("__b=").toInt)
    val manifest =
      if (present.nonEmpty) present.map(_ -> version).toMap
      else {
        // every row was a GC-able tombstone: an empty manifest reads as
        // "no snapshot", so publish one schema-bearing empty bucket and
        // readLatest returns a legitimately empty table
        s.emptyDataset(Encoders.product[ChangeRecord]).write
          .mode("overwrite").parquet(s"$table/$version/__b=0")
        Map(0 -> version)
      }
    writeManifest(s, table, s"mc_${System.currentTimeMillis()}", manifest, buckets)
    version
  }

  /** Manifest-aware vacuum — the maintenance pass
    * [[MaterializedTable.vacuum]] refuses to run on this layout:
    * keeps the `keep` most recent manifests (plus the pointer target)
    * and EVERY version dir any kept manifest references — untouched
    * buckets point at old version dirs by design, so "keep the newest
    * version dirs" would delete data the current manifest still
    * reads. Deletes older manifests and unreferenced version dirs;
    * returns the deleted names. */
  def vacuum(s: SparkSession, table: String, keep: Int = 2): Seq[String] = {
    val f = fs(s, table)
    val entries = f.listStatus(new Path(table)).toSeq
    val manifests = entries
      .filter(st => st.isFile && st.getPath.getName.startsWith("m"))
      .map(_.getPath.getName)
      .sortBy(m => MaterializedTable.versionKey(m)) // m{batch}_{ts}: same shape
    val keptManifests =
      (manifests.takeRight(keep) ++ readPointer(s, table).toSeq).distinct
    val referenced = keptManifests
      .flatMap(m => readManifestNamed(s, table, m)._2.values).toSet
    val doomedV = entries
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v"))
      .map(_.getPath.getName)
      .filterNot(referenced)
    val doomedM = manifests.filterNot(keptManifests.contains)
    val doomed = doomedV ++ doomedM
    doomed.foreach(n => f.delete(new Path(table, n), true))
    doomed
  }
}
