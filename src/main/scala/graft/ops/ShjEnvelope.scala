package graft.ops

import scala.annotation.tailrec

import org.apache.logging.log4j.LogManager
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}

/** Self-enforcing operating envelope for the `shuffle_hash` pins on
  * corpus-proportional build frames (r14 verdict task 5 — until now
  * the envelope lived only as prose arithmetic in SCALING.md and the
  * pin scaladocs). SHJ builds cannot spill, so per-task build =
  * frame_bytes / shuffle.partitions must keep fitting in executor task
  * memory; the safe setting is partitions ∝ corpus (≈ corpus_bytes /
  * 100 MiB — ~40k at 100 TB, an unremarkable cluster number), and the
  * spillable fallback is `shuffle_merge` at the measured 6.8× sort
  * premium.
  *
  * [[check]] evaluates that arithmetic AT PLAN TIME from Catalyst's
  * own size estimate for the build frame and warns loudly when the
  * estimated per-task build exceeds [[BudgetBytes]]. It warns, never
  * fails: Catalyst's estimate for these scan-derived frames is linear
  * in the corpus but was measured ~30× UNDER the in-memory build at
  * sf1 (executed-plan inventory), so an estimate BREACH means the
  * actual build is far past the envelope — while a hard fail on an
  * estimate would let planner quirks kill legitimate queries.
  *
  * Two estimate corrections (r15 ADVICE):
  *
  *  - '''Join outputs sum their children.''' Size-only stats estimate
  *    a join's output as the PRODUCT of its children's sizes, so
  *    checking a filter-shaped join (c33's df-cap semi filter: output
  *    ≤ probe side by construction) against the product false-breaches
  *    at any real scale — 4.1 GB "estimated" at sf0.001 where the true
  *    frame is ~5 MB, growing quadratically with SF, inverting the
  *    module's premise that a breach means the real build is far PAST
  *    the envelope. What SHJ actually builds from a join output is
  *    bounded by what was shuffled INTO the join, so [[check]] unwraps
  *    Project/Filter to the Join and sums the children's estimates —
  *    linear in the corpus, conservative for filter-shaped joins.
  *  - '''AQE coalescing floors the per-task divisor.''' Dividing by
  *    the static `spark.sql.shuffle.partitions` ignores that AQE
  *    partition coalescing (on in GraftSession) merges small shuffle
  *    partitions up to `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  *    — the real per-task build can reach ~the advisory size even when
  *    est/parts reads tiny. Per-task is therefore
  *    `max(est/parts, min(est, advisory))` when coalescing is enabled:
  *    the default 64 MiB advisory sits under the 128 MiB budget (AQE
  *    alone can never breach a default session), while a deployment
  *    that raises the advisory past the budget now hears about it.
  */
object ShjEnvelope {
  /** Conservative per-task build budget from the SCALING.md envelope:
    * sized so the ~30×-underestimating linear scan estimate still
    * flags long before a real executor OOM. */
  val BudgetBytes: Long = 128L * 1024 * 1024

  private val log = LogManager.getLogger("graft.ops.ShjEnvelope")

  /** Last breach observed (stage, estimatedBytes, partitions) — test
    * observable. STICKY: a clean check never clears it, because a
    * multi-pin operator (c33 checks two frames) would otherwise erase
    * an inner breach with a later clean check and the spec's
    * no-breach assertion would pass vacuously (r15 review). Clear
    * explicitly via [[resetBreach]]. */
  @volatile private[graft] var lastBreach: Option[(String, BigInt, Int)] = None
  private[graft] def resetBreach(): Unit = lastBreach = None

  @tailrec
  private def unwrap(p: LogicalPlan): LogicalPlan = p match {
    case Project(_, child) => unwrap(child)
    case Filter(_, child) => unwrap(child)
    case other => other
  }

  /** Frame-size estimate: Catalyst's own, except a join root (modulo
    * Project/Filter wrappers) sums its children instead of taking the
    * product-shaped output stat — see the scaladoc's first correction. */
  private[graft] def estimateBytes(df: DataFrame): BigInt =
    unwrap(df.queryExecution.optimizedPlan) match {
      case j: Join => j.children.map(_.stats.sizeInBytes).sum
      case p => p.stats.sizeInBytes
    }

  /** Plan-time envelope check for an SHJ build frame; returns the
    * frame unchanged so it chains into `.hint("shuffle_hash")`. */
  def check(df: DataFrame, stage: String): DataFrame = {
    val spark = df.sparkSession
    val est = estimateBytes(df)
    val parts = math.max(1,
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    val coalescing =
      spark.conf.get("spark.sql.adaptive.enabled", "true").toBoolean &&
      spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true").toBoolean
    val advisory = BigInt(JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")))
    val perTask =
      if (coalescing) (est / parts).max(est.min(advisory)) else est / parts
    if (perTask > BudgetBytes) {
      lastBreach = Some((stage, est, parts))
      val msg = s"SHJ envelope breach at '$stage': estimated build " +
        s"$est bytes over $parts shuffle partitions" +
        (if (coalescing) s" (AQE coalescing floor ${est.min(advisory)})" else "") +
        s" ≈ $perTask bytes/task > ${BudgetBytes} budget — shuffle_hash builds " +
        "cannot spill. Raise spark.sql.shuffle.partitions toward " +
        s"frame_bytes/100MiB (≈ ${est / (100L * 1024 * 1024) + 1}), keep " +
        "spark.sql.adaptive.advisoryPartitionSizeInBytes under the budget, or " +
        "flip this pin to shuffle_merge (spillable, ~6.8× sort premium)."
      log.warn(s"GRAFT WARN $msg")
    }
    df
  }
}
