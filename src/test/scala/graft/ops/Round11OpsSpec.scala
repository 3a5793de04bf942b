package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.spark

/** Round-11 additions. */
class Round11OpsSpec extends AnyFunSuite {

  test("iterated star pass links a 3-chained >cap LSH cluster end to end") {
    // r10 verdict task 5: the single-star form guaranteed completeness
    // only up to star-reachability through the bucket min — a CHAINED
    // oversize cluster (tail < 0.8 vs the first min, ≥ 0.8 vs a later
    // member) silently lost its tail pairs/losers. The iterated pass
    // elects successive min-remaining reps and candidates each against
    // EVERY bucket member, so later sub-clusters link back through the
    // cross-star candidates. Feed: 3 groups × 23 identical docs over a
    // 190-shingle common core with group extras sized so
    // J(G1,G2)=0.879 ≥ 0.8, J(G2,G3)=0.887 ≥ 0.8, J(G1,G3)=0.779 < 0.8
    // (probe-verified deterministic band collision: all 69 docs share
    // at least one (band, bh) bucket — 69 > BucketCap 64).
    val core = (1 to 190).map(i => s"c$i")
    val e = 27
    val nb = (e * 13) / 25; val shared = e - nb
    val g1x = (1 to e).map(i => s"cA$i")
    val g2x = (1 to shared).map(i => s"cA$i") ++ (1 to nb).map(i => s"cB$i")
    val g3x = (1 to nb).map(i => s"cB$i") ++ (1 to shared).map(i => s"cD$i")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("sh", ArrayType(StringType))))
    val rows: Seq[Row] =
      (0 until 23).map(i => Row(i.toLong, core ++ g1x)) ++
      (0 until 23).map(i => Row(100L + i, core ++ g2x)) ++
      (0 until 23).map(i => Row(200L + i, core ++ g3x))
    val feed = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)

    // precondition: the shared-core band really does put all 69 docs in
    // one bucket (otherwise the chain test would pass vacuously through
    // under-cap per-group buckets)
    val maxBucket = feed
      .withColumn("sig", expr("minhash_sig(sh, 128)"))
      .select(explode(array((0 until 16).map(b =>
        xxhash64(lit(b), slice(col("sig"), b * 8 + 1, 8))): _*)).as("bb"))
      .groupBy(col("bb")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    assert(maxBucket === 69L, s"expected one 69-member bucket, max=$maxBucket")

    val pairs = Dedup.minhashPairs(spark, feed)
      .select(col("d1"), col("d2")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def group(d: Long) = d / 100
    // precision: no direct G1–G3 pair (their Jaccard is below 0.8)
    assert(!pairs.exists(p => Set(group(p._1), group(p._2)) == Set(0L, 2L)),
      "G1-G3 pair emitted below the confirm threshold")
    // the chain links exist: G1–G2 and G2–G3 pairs both present
    assert(pairs.exists(p => Set(group(p._1), group(p._2)) == Set(0L, 1L)))
    assert(pairs.exists(p => Set(group(p._1), group(p._2)) == Set(1L, 2L)))
    // completeness: every doc participates (nobody silently dropped)
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val all = rows.map(_.getLong(0)).toSet
    assert((all -- inPairs).isEmpty, s"unpaired docs: ${(all -- inPairs).take(5)}")
    // C22 continuity: the pair graph is ONE connected component, so
    // transitive closure resolves the chained cluster to one canonical
    val parent = scala.collection.mutable.Map(all.toSeq.map(d => d -> d): _*)
    def find(d: Long): Long =
      if (parent(d) == d) d else { val r = find(parent(d)); parent(d) = r; r }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    assert(all.map(find).size === 1,
      s"expected 1 component, got ${all.map(find).size}")
  }
}
