package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.types.{BooleanType, DataType}

/** Injected first-attempt task failure: evaluates to `true` on every
  * row, but partition initialization THROWS on task attempt 0 for
  * every 5th partition (`partitionId % 5 == 2`). On a cluster, task
  * retry after a lost executor is a routine event, not an error path —
  * at 1000 executors SOME task of a 100 TB query is re-executed on
  * almost every run. A query whose answer changes when a task runs
  * twice (attempt-0 side effects, order-dependent folds replayed from
  * a different shuffle-fetch order, non-idempotent sink commits) is
  * silently wrong at scale and invisible on a clean local run.
  *
  * Nondeterministic keeps the optimizer from folding/pushing the
  * guard; CodegenFallback registers partition init in both the
  * interpreted and whole-stage-codegen paths, so the throw happens
  * BEFORE any row (empty partitions included) and before any state
  * mutation — the retry then exercises shuffle refetch, cache
  * recompute, and state-store reload with a clean slate.
  */
case class ChaosOnce() extends LeafExpression with Nondeterministic with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override protected def initializeInternal(partitionIndex: Int): Unit = {
    val tc = TaskContext.get()
    if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() % 5 == 2) {
      ChaosOnce.fired.increment()
      throw new RuntimeException(
        s"CHAOS: injected first-attempt failure (partition ${tc.partitionId()})")
    }
  }
  override protected def evalInternal(input: InternalRow): Any = true
}

object ChaosOnce {
  /** Injection counter — local-mode diagnostic only (driver and
    * executors share the JVM here, so a static adder is readable from
    * the sweep main; on a real cluster this would be an accumulator). */
  val fired = new LongAdder
}

/** Wraps every scan leaf and every Aggregate/Join output in
  * `Filter(ChaosOnce(), _)`. Scan wraps fail first-attempt source
  * tasks (IO retry, cache recompute); Aggregate/Join wraps evaluate in
  * the REDUCE stage, so their retries re-fetch map outputs — the
  * shuffle-reuse path a plain scan failure never touches. The tag
  * guard keeps the fixed-point optimizer from wrapping twice. */
object ChaosInjectRule extends Rule[LogicalPlan] {
  private val wrapped = TreeNodeTag[Boolean]("graft.chaos.wrapped")
  private def wrap(p: LogicalPlan): LogicalPlan = {
    p.setTagValue(wrapped, true)
    Filter(ChaosOnce(), p)
  }
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p if p.getTagValue(wrapped).contains(true) => p
    case r: LogicalRelation => wrap(r)
    case r: DataSourceV2Relation => wrap(r)
    case r: DataSourceV2ScanRelation => wrap(r)
    case a: Aggregate => wrap(a)
    case j: Join => wrap(j)
    case l: LocalRelation => l // driver-local literals: no task to fail
  }
}

/** Task-retry invariance sweep: every registered query runs once on a
  * clean session and once under `local[32,4]` (4 task-failure budget)
  * with [[ChaosInjectRule]] making 1-in-5 first-attempt tasks of every
  * scan/aggregate/join stage fail; the full result multisets must
  * content-hash identical. DeterminismSweep retired the
  * partition-count axis of execution-order dependence; this retires
  * the re-execution axis — together they are the two ways a
  * 1000-executor run differs from the driver's oracle run.
  *
  *   runMain graft.tools.ChaosRetrySweep <sfDir>
  */
object ChaosRetrySweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")

    def hashAll(master: String, chaos: Boolean): Map[String, Either[String, (Long, Long)]] = {
      val spark = graft.GraftSession.builder(master, 32)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      if (chaos) spark.experimental.extraOptimizations ++= Seq(ChaosInjectRule)
      val out = graft.SparkEntry.queries.keys.toSeq.sorted.map { name =>
        val r = try {
          Right(DeterminismSweep.contentHash(graft.SparkEntry.queries(name)(spark, sfDir)))
        } catch {
          case e: Exception =>
            Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(140)}")
        }
        graft.GraftSession.release(spark)
        name -> r
      }.toMap
      spark.stop()
      out
    }

    println("CHAOS pass 1/2: clean baseline (local[32])")
    val clean = hashAll("local[32]", chaos = false)
    println("CHAOS pass 2/2: injected retries (local[32,4])")
    val chaos = hashAll("local[32,4]", chaos = true)

    var bad = 0
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      (clean(name), chaos(name)) match {
        case (Right(a), Right(b)) if a == b => println(s"CHAOS ok   $name $a")
        case (Right(a), Right(b)) => bad += 1; println(s"CHAOS DIFF $name clean=$a chaos=$b")
        case (Left(e), _) => bad += 1; println(s"CHAOS BASE-ERR $name $e")
        case (_, Left(e)) => bad += 1; println(s"CHAOS ERR  $name $e")
      }
    }
    println(s"CHAOS injected failures fired: ${ChaosOnce.fired.sum()}")
    println(if (bad == 0) "CHAOS VERDICT: ALL RETRY-INVARIANT"
            else s"CHAOS VERDICT: $bad queries diverge or err under task retry")
  }
}
