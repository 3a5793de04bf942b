package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.{spark, sf0001}

/** [[Tables.table]] reuses the schema Spark inferred for the same file:
  * a repeated query starts no `parquet at` inference job and returns
  * what the first call returned, while a rewritten file or a changed
  * inference conf is inferred afresh. */
class KnownSchemaSpec extends AnyFunSuite {

  private def inference(sites: Seq[String]): Seq[String] =
    sites.filter(_.startsWith("parquet at"))

  /** A second call of `q` on the same files: no inference job, and the
    * first call's result. */
  private def warmCallInfersNothing(q: String): Unit = {
    val warm = SparkEntry.queries(q)(spark, sf0001).collect().toSeq
    var again = Seq.empty[Row]
    val sites = SparkEvents.jobSites(spark) {
      again = SparkEntry.queries(q)(spark, sf0001).collect().toSeq
    }
    assert(sites.nonEmpty)
    assert(inference(sites).isEmpty, s"$q inferred a schema again: $sites")
    assert(warm.nonEmpty)
    assert(again === warm)
  }

  test("q5_region_revenue starts no schema-inference job after a warm call") {
    warmCallInfersNothing("q5_region_revenue")
  }

  test("ann_bruteforce starts no schema-inference job after a warm call") {
    warmCallInfersNothing("ann_bruteforce")
  }

  test("a table rewritten at the same path is read with its new schema") {
    import spark.implicits._
    val dir = Scratch.dir("known_schema").toString
    Scratch.writeSingleParquet(Seq(1L, 2L).toDF("a"), dir, "t")
    assert(Tables.table(spark, dir, "t").columns.toSeq === Seq("a"))
    Scratch.writeSingleParquet(Seq((3L, "x")).toDF("a", "b"), dir, "t")
    var rows = Array.empty[Row]
    val sites = SparkEvents.jobSites(spark) {
      val t = Tables.table(spark, dir, "t")
      assert(t.columns.toSeq === Seq("a", "b"))
      rows = t.collect()
    }
    assert(rows.toSeq === Seq(Row(3L, "x")))
    assert(inference(sites).size === 1, s"the rewrite must be inferred once: $sites")
    val reread = SparkEvents.jobSites(spark)(Tables.table(spark, dir, "t"))
    assert(inference(reread).isEmpty, s"the new schema was not reused: $reread")
  }

  test("changing an inference conf infers the schema afresh") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    Tables.table(spark, sf0001, "customer")
    val warm = SparkEvents.jobSites(spark)(Tables.table(spark, sf0001, "customer"))
    assert(inference(warm).isEmpty, s"warm read inferred: $warm")
    spark.conf.set(key, if (prev.contains("true")) "false" else "true")
    try {
      val flipped = SparkEvents.jobSites(spark)(Tables.table(spark, sf0001, "customer"))
      assert(inference(flipped).size === 1, s"$key did not re-key the schema: $flipped")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
