package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.{spark, sf0001}

/** r14 verdict task 5: the SHJ pin envelope (per-task build =
  * frame_bytes / shuffle.partitions must fit in task memory because
  * shuffle_hash builds cannot spill) must be SELF-ENFORCING, not
  * prose. ShjEnvelope.check runs the arithmetic at plan time on every
  * pinned build frame. */
class ShjEnvelopeSpec extends AnyFunSuite {
  import spark.implicits._

  test("a large frame at artificially-low partitions triggers the guard") {
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      // Range stats are exact (8 bytes/row): 200M rows ≈ 1.6 GB frame,
      // 800 MB/task at 2 partitions — far past the 128 MiB budget.
      // Plan-time only: nothing executes.
      val big = spark.range(200L * 1000 * 1000).toDF("doc_id")
      ShjEnvelope.check(big, "spec-big")
      assert(ShjEnvelope.lastBreach.isDefined, "guard must flag 800 MB/task")
      val (stage, est, parts) = ShjEnvelope.lastBreach.get
      assert(stage === "spec-big" && parts === 2)
      assert(est / parts > ShjEnvelope.BudgetBytes)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      ShjEnvelope.resetBreach()
    }
  }

  test("the pinned operators pass through the guard clean at fixture scale") {
    // wiring proof: real pinned operators plan and run with no breach
    // at sf0.001/32. lastBreach is STICKY (a clean check never clears
    // it — r15 review: the old clean-clear let a later clean check in
    // the same multi-pin operator erase an inner breach), so the
    // explicit reset + run + isEmpty pattern here observes a breach at
    // ANY of the operator's pins, not just the last one.
    ShjEnvelope.resetBreach()
    val n = Dedup.dedupContainment(spark, sf0001).count()
    val w = TextOps.textWinnowing(spark, sf0001).count()
    // r15 ADVICE: c33 is the ONLY pin whose check wraps a join output —
    // before the children-sum estimate its product-shaped stat read 96%
    // of budget at fixture scale (false-breaching at any larger SF), so
    // its absence here made the misfire unobservable
    val sub = Dedup.dedupSubstring(spark, sf0001).count()
    spark.catalog.clearCache()
    assert(n >= 0 && w >= 0 && sub >= 0)
    assert(ShjEnvelope.lastBreach.isEmpty,
      s"unexpected envelope breach at fixture scale: ${ShjEnvelope.lastBreach}")
  }

  test("a join output is estimated by its children's sum, not the stats product (r15 ADVICE)") {
    // filter-shaped join: 10M × 10M rows. The size-only output stat is
    // the ~TB-scale product; what SHJ would build from this frame is
    // bounded by what was shuffled in — 2 × 80 MB, whose per-task share
    // is clean at the fixture's partition count while the product
    // breaches by orders of magnitude.
    ShjEnvelope.resetBreach()
    val a = spark.range(10L * 1000 * 1000).toDF("doc_id")
    val b = spark.range(10L * 1000 * 1000).toDF("doc_id")
    val joined = a.join(b, "doc_id")
    val est = ShjEnvelope.estimateBytes(joined)
    val product = joined.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est < product / 1000, s"children-sum $est should be far under product $product")
    ShjEnvelope.check(joined, "spec-join-sum")
    assert(ShjEnvelope.lastBreach.isEmpty,
      s"filter-shaped join false-breached on the stats product: ${ShjEnvelope.lastBreach}")
    // and a join whose INPUTS genuinely exceed the envelope still flags
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      val big = spark.range(200L * 1000 * 1000).toDF("doc_id")
      ShjEnvelope.check(big.join(big.select($"doc_id"), "doc_id"), "spec-join-big")
      assert(ShjEnvelope.lastBreach.exists(_._1 == "spec-join-big"),
        "oversized join inputs must still breach through the children-sum path")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      ShjEnvelope.resetBreach()
    }
  }

  test("AQE coalescing floors the per-task estimate at the advisory size (r15 ADVICE)") {
    // est/staticParts is clean (a 320 MB frame split across the static
    // partitions), but with the advisory raised to 512 MB AQE may merge
    // those shuffle partitions into tasks up to the whole frame — past
    // the 128 MiB budget. The static divisor alone is a false negative.
    val prevAdv = spark.conf.get(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
    try {
      ShjEnvelope.resetBreach()
      val frame = spark.range(40L * 1000 * 1000).toDF("doc_id") // 320 MB exact stats
      ShjEnvelope.check(frame, "spec-aqe-default")
      assert(ShjEnvelope.lastBreach.isEmpty,
        "default 64MB advisory must stay under the budget (AQE alone cannot breach)")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512MB")
      ShjEnvelope.check(frame, "spec-aqe-coalesced")
      assert(ShjEnvelope.lastBreach.exists(_._1 == "spec-aqe-coalesced"),
        "a 512MB coalescing target must breach the 128 MiB per-task budget")
    } finally {
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", prevAdv)
      ShjEnvelope.resetBreach()
    }
  }

  test("a later clean check does not erase an earlier breach (sticky observable)") {
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      ShjEnvelope.resetBreach()
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      ShjEnvelope.check(spark.range(200L * 1000 * 1000).toDF("doc_id"), "spec-inner")
      assert(ShjEnvelope.lastBreach.exists(_._1 == "spec-inner"))
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      ShjEnvelope.check(spark.range(10).toDF("doc_id"), "spec-outer-clean")
      assert(ShjEnvelope.lastBreach.exists(_._1 == "spec-inner"),
        "clean outer check must not clear the inner breach")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      ShjEnvelope.resetBreach()
    }
  }
}
