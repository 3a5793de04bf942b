package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.spark

class TopKAggSpec extends AnyFunSuite {

  test("topk_agg edge cases: k > group size, ties, negatives, nulls") {
    import spark.implicits._
    val df = Seq(
      // group 1: 2 rows with k=3 (k > size), tie on score -> lower id first
      (1L, 5.0, 10L), (1L, 5.0, 9L),
      // group 2: negatives rank correctly
      (2L, -1.0, 1L), (2L, -3.0, 2L), (2L, -2.0, 3L), (2L, -0.5, 4L))
      .toDF("g", "score", "id")
      // a null score row must be ignored, not crash or rank
      .unionByName(Seq((1L, Option.empty[Double], 99L)).toDF("g", "score", "id"))
    val out = df.groupBy($"g")
      .agg(expr("topk_agg(struct(score, id), 3)").as("top"))
      .select($"g", expr("transform(top, e -> e.id)").as("ids"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(out(1L) === Seq(9L, 10L)) // both kept, tie -> id asc; null ignored
    assert(out(2L) === Seq(4L, 1L, 3L)) // -0.5 > -1 > -2; -3 evicted
  }

  test("topk_agg survives repartitioned partial merges") {
    import spark.implicits._
    // 1000 rows over 8 partitions: merge path must produce the global top
    val out = spark.range(1000)
      .select(lit(1L).as("g"), ($"id" % 7).cast("double").as("score"), $"id")
      .repartition(8)
      .groupBy($"g").agg(expr("topk_agg(struct(score, id), 4)").as("top"))
      .select(expr("transform(top, e -> e.id)")).as[Seq[Long]].head()
    // score 6 occurs at id % 7 == 6; best ids ascending: 6, 13, 20, 27
    assert(out === Seq(6L, 13L, 20L, 27L))
  }
}
