package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.{spark, sf0001}

/** Storage-layout scale techniques (SURVEY.md §6): partition pruning on
  * partitioned writes, and bucketed tables joining without a shuffle —
  * asserted against the actual physical plans, not just claimed. */
class StorageLayoutSpec extends AnyFunSuite {

  private def executedPlan(df: org.apache.spark.sql.DataFrame) = {
    val plan = df.queryExecution.executedPlan
    plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  test("date-partitioned write prunes partitions at the scan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("part_events").toString
    Tables.events(spark, sf0001)
      .withColumn("event_date", to_date($"ts"))
      .write.mode("overwrite").partitionBy("event_date").parquet(dir)
    val oneDay = spark.read.parquet(dir)
      .filter($"event_date" === "2024-01-15")
    oneDay.count() // materialize
    val scans = executedPlan(oneDay.select($"event_id")).collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val pruned = scans.head.metadata("PartitionFilters")
    assert(pruned.contains("event_date"), s"no partition filter: $pruned")
    // and the scan reads only matching partition dirs
    val selected = scans.head.relation.location.listFiles(
      scans.head.partitionFilters, scans.head.dataFilters)
    assert(selected.size <= 1, s"expected <=1 partition, got ${selected.size}")
  }

  test("bucketed tables join with zero shuffle exchanges") {
    import spark.implicits._
    val wh = Files.createTempDirectory("bucket_wh").toString
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    val orders = Tables.table(s2, sf0001, "orders")
    val lineitem = Tables.table(s2, sf0001, "lineitem")
    orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").option("path", s"$wh/orders_b").saveAsTable("orders_b")
    lineitem.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").option("path", s"$wh/lineitem_b").saveAsTable("lineitem_b")
    val joined = s2.table("orders_b").join(s2.table("lineitem_b"),
      col("o_orderkey") === col("l_orderkey"))
    val n = joined.count()
    assert(n > 0)
    val shuffles = executedPlan(joined).collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty,
      s"bucketed join should be shuffle-free, found ${shuffles.size} exchanges")
    s2.sql("DROP TABLE IF EXISTS orders_b")
    s2.sql("DROP TABLE IF EXISTS lineitem_b")
  }

  /** A table dir holding, per name `v{batch}_{ts}`, a version dir and
    * its manifest `m{batch}_{ts}` (one bucket), pointer on `current`. */
  private def fabricateTable(prefix: String, names: Seq[String], current: String): String = {
    val table = Files.createTempDirectory(prefix).toString
    names.foreach { v =>
      new java.io.File(table, s"$v/__b=0").mkdirs()
      Files.write(java.nio.file.Paths.get(table, "m" + v.drop(1)),
        s"buckets\t1\n0\t$v".getBytes)
    }
    Files.write(java.nio.file.Paths.get(table, "_LATEST"), current.getBytes)
    table
  }

  test("vacuum keeps the pointer target and recent snapshots only") {
    // three committed manifests, pointer on the newest
    val table = fabricateTable("vac", Seq("v0_1", "v1_2", "v2_3"), "m2_3")
    val deleted = graft.sinks.PartitionedTable.vacuum(spark, table, keep = 1)
    assert(deleted === Seq("v0_1", "v1_2", "m0_1", "m1_2"))
    assert(new java.io.File(table, "v2_3").exists())
    assert(new java.io.File(table, "m2_3").exists())
  }

  test("vacuum survives a checkpoint restart that reset batch ids") {
    // r10 review finding: batch ids restart at 0 on a fresh checkpoint
    // while the wall-clock suffix keeps growing — a batch-id-first
    // sort would rank the restarted run's manifests below the dead
    // run's and vacuum would delete the NEWEST, keeping stale ones
    // run 1 committed m4_100/m5_101; the restarted job m0_200 (current)
    val table = fabricateTable("vac_restart", Seq("v4_100", "v5_101", "v0_200"), "m0_200")
    assert(graft.sinks.PartitionedTable.versions(spark, table) ===
      Seq("m4_100", "m5_101", "m0_200"))
    val deleted = graft.sinks.PartitionedTable.vacuum(spark, table, keep = 1)
    assert(deleted === Seq("v4_100", "v5_101", "m4_100", "m5_101"))
    assert(new java.io.File(table, "v0_200").exists())
    assert(new java.io.File(table, "m0_200").exists())
  }
}
