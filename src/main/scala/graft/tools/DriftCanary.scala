package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Fixed synthetic CPU+shuffle probe for separating BOX DRIFT from
  * code changes in bench sweeps (r12 verdict task 1: three straight
  * rounds burned investigation time attributing total swings — r10
  * embeddings, r11 drop_ledger, r12's +12% sf1 — to the box's
  * documented diurnal drift; a canary timed at sweep start/end turns
  * the next cross-window comparison into a one-line read).
  *
  * The probe is deliberately DATA-FREE (no file IO — cold-page effects
  * are a separate, per-query phenomenon the two-sweep protocol already
  * handles): `range` → per-row md5 + xxhash64 (CPU) → a 64-key
  * groupBy count_distinct (one real exchange + hash-agg) → count.
  * Same plan, same row count, every invocation; the only variable is
  * the box. Callers time [[run]] AFTER one discarded warm call
  * ([[warmThenTime]]) so whole-stage-codegen javac doesn't pollute the
  * first reading. ~2-3 s on an idle local[32] (sized down from
  * 24M rows after the first smoke read 8-12 s: the per-row md5 costs
  * more than estimated) - big enough that a 1.5x box slowdown moves
  * it well past jitter, small enough to add ~6-9 s per sweep. */
object DriftCanary {
  val Rows = 6L * 1000 * 1000

  def run(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, Rows, 1L, 32)
      .select((xxhash64(col("id")) % 64).as("k"),
        md5(col("id").cast("string")).as("h"))
      .groupBy(col("k")).agg(count_distinct(col("h")).as("n"))
      .agg(sum(col("n"))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** One discarded codegen-warm call, then the timed probe. */
  def warmThenTime(spark: SparkSession): Double = { run(spark); run(spark) }

  /** The probe classes that drifted within one run: a class whose
    * timings' max/min exceeds 1.5× — the same threshold Bench's
    * per-query noise gate uses — either way. An empty result certifies
    * a stable window; a non-empty one names the query classes whose
    * cross-window deltas are unattributable (scan/agg shapes vs
    * shuffle-heavy self-joins). Within-run only by design: an absolute
    * idle baseline would hardcode the box. */
  def driftedClasses(timings: Seq[(String, Seq[Double])]): Seq[String] =
    timings.collect { case (cls, t) if t.min > 0 && t.max / t.min > 1.5 => cls }

  /** Shuffle-class probe (r15, from the r14 verdict: the scan-shape
    * canary above is blind to CLASS-selective drift — r14's sf1 sweep
    * moved the shingle-self-join class +46–47% on untouched code while
    * [[run]] held flat, and the control existed only as prose). This
    * probe reproduces that class's plan shape with fixed synthetic
    * data: explode a per-doc shingle set, self-join on the shingle,
    * co-count per doc pair — a GenerateExec feeding a shuffled
    * equi-join whose both sides are exploded, plus a wide pair-keyed
    * aggregation. Deterministic (hash-derived shingles), data-free,
    * same plan and cardinalities every invocation: movement here and
    * not in [[run]] says the box's shuffle/join path drifted, and a
    * sweep bracketed by both canaries separates scan-class from
    * join-class window effects in one read. ~2–3 s idle local[32]. */
  val JoinDocs = 40L * 1000
  val JoinShingles = 40
  val JoinVocab = 200L * 1000

  def runJoin(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    val ex = spark.range(0L, JoinDocs, 1L, 32)
      .select(col("id").as("d"),
        explode(sequence(lit(0), lit(JoinShingles - 1))).as("i"))
      .select(col("d"),
        pmod(xxhash64(col("d") * JoinShingles + col("i")), lit(JoinVocab)).as("s"))
    ex.select(col("d").as("d1"), col("s"))
      .join(ex.select(col("d").as("d2"), col("s")), Seq("s"))
      .where(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).count()
      .agg(sum(col("count"))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** One discarded codegen-warm call, then the timed join probe. */
  def warmThenTimeJoin(spark: SparkSession): Double = { runJoin(spark); runJoin(spark) }
}
