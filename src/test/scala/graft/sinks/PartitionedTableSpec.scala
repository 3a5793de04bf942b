package graft.sinks

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.spark
import graft.cdc.ChangeRecord

/** Mechanics of the bucket-partitioned incremental sink: touched-bucket
  * rewrite, untouched-bucket carry-forward, tombstone GC at the horizon,
  * file merge, and state preservation across compaction. */
class PartitionedTableSpec extends AnyFunSuite {

  private val Buckets = 16

  private def rec(key: Long, seq: Long, op: String): ChangeRecord =
    ChangeRecord(key, seq, op, s"t$seq", Some(seq * 1.0), seq * 1000L)

  private def runTwoBatches(tag: String,
      b1: Seq[ChangeRecord], b2: Seq[ChangeRecord]): String = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val table = graft.Scratch.dir(s"pt_${tag}_tbl").toString
    val ckpt = graft.Scratch.dir(s"pt_${tag}_ck").toString
    val mem = MemoryStream[ChangeRecord]
    val q = PartitionedTable.upsertSink(mem.toDS(), table, ckpt, Buckets)
    try {
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
    } finally q.stop()
    table
  }

  test("untouched buckets carry forward by manifest reference") {
    val b1 = (0L until 100L).map(k => rec(k, k + 1, "i"))
    val b2 = Seq(rec(0L, 1000L, "u")) // touches exactly one bucket
    val table = runTwoBatches("carry", b1, b2)
    val manifest = PartitionedTable.readManifest(spark, table)
    val dirs = manifest.values.toSet
    assert(dirs.size === 2, s"expected carry-forward + rewrite, got $dirs")
    val newDir = dirs.filter(_.startsWith("v1")).head
    // only key 0's bucket points at the batch-1 version
    val rewritten = manifest.filter(_._2 == newDir).keys.toSet
    val bucketOf0 = manifest.keys.toSeq.sorted
      .find { b =>
        spark.read.parquet(s"$table/${manifest(b)}/__b=$b")
          .filter(org.apache.spark.sql.functions.col("key") === 0L)
          .count() > 0
      }.get
    assert(rewritten === Set(bucketOf0), s"rewrote $rewritten")
    // the carried-forward state is still complete and correct
    val state = PartitionedTable.readLatest(spark, table, Buckets)
    assert(state.count() === 100)
    import spark.implicits._
    val k0 = state.filter($"key" === 0L).as[ChangeRecord].head()
    assert(k0.seq === 1000L)
  }

  test("compaction drops horizon-acked tombstones, merges files, keeps state") {
    import spark.implicits._
    val b1 = (0L until 50L).map(k => rec(k, k + 1, "i"))
    val b2 = Seq(rec(7L, 200L, "d"), rec(8L, 201L, "u"))
    val table = runTwoBatches("gc", b1, b2)
    val before = PartitionedTable.readLatest(spark, table, Buckets)
      .as[ChangeRecord].collect().sortBy(_.key)
    assert(!before.map(_.key).contains(7L)) // delete already hidden
    // tombstone is physically present pre-compaction
    val rawBefore = PartitionedTable.readSnapshot(spark, table, Buckets).get
    assert(rawBefore.filter($"op" === "d").count() === 1)

    PartitionedTable.compact(spark, table, Buckets, horizon = 500L)

    val rawAfter = PartitionedTable.readSnapshot(spark, table, Buckets).get
    assert(rawAfter.filter($"op" === "d").count() === 0, "tombstone not GC'd")
    val manifest = PartitionedTable.readManifest(spark, table)
    assert(manifest.values.toSet.size === 1, "compaction publishes one version")
    assert(manifest.values.head.startsWith("vc_"))
    val after = PartitionedTable.readLatest(spark, table, Buckets)
      .as[ChangeRecord].collect().sortBy(_.key)
    assert(after.toSeq === before.toSeq, "compaction changed visible state")
  }

  test("compacting a fully-deleted table yields an empty readable snapshot") {
    import spark.implicits._
    // every row deleted, every tombstone at/below the horizon: the
    // surviving set is empty, but the table must stay readable as
    // "legitimately empty", not throw "no snapshot"
    val b1 = (0L until 10L).map(k => rec(k, k + 1, "i"))
    val b2 = (0L until 10L).map(k => rec(k, 100L + k, "d"))
    val table = runTwoBatches("empty", b1, b2)
    PartitionedTable.compact(spark, table, Buckets, horizon = 500L)
    val raw = PartitionedTable.readSnapshot(spark, table, Buckets)
    assert(raw.isDefined, "empty table lost its snapshot")
    assert(raw.get.count() === 0)
    val state = PartitionedTable.readLatest(spark, table, Buckets)
    assert(state.count() === 0)
    assert(state.columns.contains("key"), "schema lost on empty compaction")
  }

  test("crash between version write and pointer flip leaves readers on the old snapshot") {
    import spark.implicits._
    val b1 = (0L until 50L).map(k => rec(k, k + 1, "i"))
    val b2 = Seq(rec(1L, 500L, "u"))
    val table = runTwoBatches("crash", b1, b2)
    val goodManifest = PartitionedTable.readManifest(spark, table)
    val goodState = PartitionedTable.readLatest(spark, table, Buckets)
      .as[ChangeRecord].collect().sortBy(_.key).toSeq
    // simulate a writer that died mid-publish: a full version dir is on
    // disk, and even its manifest file — but the _LATEST pointer (the
    // single commit point) never flipped
    val staleVer = "v9_9999999999999"
    (0 until Buckets).foreach { b =>
      Seq(rec(999L, 9999L, "i")).toDS().toDF()
        .write.mode("overwrite").parquet(s"$table/$staleVer/__b=$b")
    }
    val staleManifest = s"m9_9999999999999"
    val f = java.nio.file.Paths.get(table, staleManifest)
    java.nio.file.Files.write(f,
      (0 until Buckets).map(b => s"$b\t$staleVer").mkString("\n").getBytes("UTF-8"))
    // readers resolve pointer → manifest → dirs: the stale version and
    // orphan manifest are invisible
    assert(PartitionedTable.readManifest(spark, table) === goodManifest)
    val after = PartitionedTable.readLatest(spark, table, Buckets)
      .as[ChangeRecord].collect().sortBy(_.key).toSeq
    assert(after === goodState)
    assert(!after.exists(_.key == 999L), "phantom row from uncommitted version")
  }

  test("tombstones above the horizon are retained") {
    import spark.implicits._
    val b1 = (0L until 20L).map(k => rec(k, k + 1, "i"))
    val b2 = Seq(rec(3L, 900L, "d"))
    val table = runTwoBatches("keep", b1, b2)
    PartitionedTable.compact(spark, table, Buckets, horizon = 100L)
    val raw = PartitionedTable.readSnapshot(spark, table, Buckets).get
    // seq 900 > horizon 100: a lower-seq straggler could still arrive,
    // so the tombstone must survive compaction
    assert(raw.filter($"op" === "d").count() === 1)
  }

  test("a mismatched bucket count fails fast by name (layout persisted in the manifest)") {
    // r10 review finding: pmod(hash(key), buckets) routes keys, so a
    // caller passing a different count would silently split a key's
    // history across two buckets and read duplicate rows — the count
    // is persisted in every manifest header and validated on use
    val b1 = (0L until 20L).map(k => rec(k, k + 1, "i"))
    val table = runTwoBatches("bmis", b1, Seq(rec(0L, 100L, "u")))
    assert(PartitionedTable.declaredBuckets(spark, table) === Some(Buckets))
    val e = intercept[IllegalArgumentException] {
      PartitionedTable.readLatest(spark, table, Buckets * 2)
    }
    assert(e.getMessage.contains("buckets"), e.getMessage)
  }

  test("manifest-aware vacuum keeps referenced dirs") {
    // r10 review finding: keep-newest vacuum on this layout would
    // delete version dirs the CURRENT manifest still references for
    // untouched buckets
    val b1 = (0L until 100L).map(k => rec(k, k + 1, "i"))
    val table = runTwoBatches("ptvac", b1, Seq(rec(0L, 1000L, "u")))
    // both version dirs are referenced by the current manifest (batch-2
    // rewrote one bucket; 15 carry forward) — only the old manifest
    // may be deleted
    val deleted = PartitionedTable.vacuum(spark, table, keep = 1)
    assert(deleted.nonEmpty && deleted.forall(_.startsWith("m")),
      s"deleted a referenced dir: $deleted")
    assert(PartitionedTable.readLatest(spark, table, Buckets).count() === 100)
    // after compaction rewrites every bucket under one fresh version,
    // the old version dirs fall out of every kept manifest and go
    PartitionedTable.compact(spark, table, Buckets, horizon = 0L)
    val deleted2 = PartitionedTable.vacuum(spark, table, keep = 1)
    assert(deleted2.exists(_.startsWith("v")),
      s"expected unreferenced v-dirs deleted: $deleted2")
    assert(PartitionedTable.readLatest(spark, table, Buckets).count() === 100)
  }

  test("an older manifest reads the state it committed (time travel)") {
    import spark.implicits._
    val b1 = (0L until 30L).map(k => rec(k, k + 1, "i"))
    val b2 = Seq(rec(2L, 500L, "u"), rec(5L, 501L, "d"), rec(40L, 502L, "i"))
    val table = runTwoBatches("tt", b1, b2)
    val ms = PartitionedTable.versions(spark, table)
    assert(ms.size === 2, s"expected one manifest per batch, got $ms")
    val first = PartitionedTable.readVersion(spark, table, ms.head, Buckets)
      .drop("__b").as[ChangeRecord].collect().sortBy(_.key).toSeq
    assert(first === b1, "the first manifest must read the batch-0 state")
    val want = (b1.filterNot(r => Set(2L, 5L)(r.key)) ++
      Seq(rec(2L, 500L, "u"), rec(40L, 502L, "i"))).sortBy(_.key)
    val cur = PartitionedTable.readLatest(spark, table, Buckets)
      .as[ChangeRecord].collect().sortBy(_.key).toSeq
    assert(cur === want, "readLatest must read the batch-1 state")
    // the newest manifest is the pointer target: it reads the same
    // state, tombstone included
    val last = PartitionedTable.readVersion(spark, table, ms.last, Buckets)
    assert(last.filter($"op" =!= "d").count() === want.size)
    assert(last.filter($"op" === "d").select("key").as[Long].collect().toSeq === Seq(5L))
  }

  test("an empty first batch reads as an empty table without a job") {
    val table = runTwoBatches("empty1", Seq.empty, Seq.empty)
    assert(PartitionedTable.readManifest(spark, table).isEmpty)
    var rows = Array.empty[org.apache.spark.sql.Row]
    var columns = Array.empty[String]
    val jobs = graft.SparkEvents.jobCount(spark) {
      val state = PartitionedTable.readLatest(spark, table, Buckets)
      columns = state.columns
      rows = state.collect()
    }
    assert(rows.isEmpty)
    assert(columns.toSeq ===
      org.apache.spark.sql.Encoders.product[ChangeRecord].schema.fieldNames.toSeq)
    assert(jobs === 0, s"reading an empty manifest ran $jobs jobs")
  }
}
