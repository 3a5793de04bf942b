package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM), built
  * the way the engine ships it: [[GraftSession.builder]], so the graft
  * extensions plan every query the specs run. */
object SparkFixture {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4)
    .appName("graft-test")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf0001 = "/root/testdata/sf0.001"
}
