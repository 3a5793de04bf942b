package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.spark

/** Concurrent-query contract: a production session serves many
  * queries at once (a shared long-lived SparkSession behind a query
  * service), so the batch surface must be safe to call from multiple
  * threads of ONE session — no fixed temp-view names (the registry
  * uses none), no scratch-path collisions (Scratch.dir is
  * createTempDirectory-unique), no cross-query interference from
  * expression registration (FunctionRegistry is synchronized;
  * registration is idempotent createOrReplace) or from concurrent
  * CacheManager persists of the same plan.
  *
  * The pinned set deliberately mixes shapes: persist-heavy LSH dedup,
  * expression-registering ANN/hash ops, window-heavy relational, and
  * scratch-writing shard manifest. Stateful streaming runners start
  * under a scoped state conf instead (their own test below): the conf
  * is set and restored around `start()` alone, under
  * [[graft.SessionConfLock]], since the started query runs on its own
  * clone of the session — so their starts serialize and their drains
  * overlap. Spark session conf is session-scoped by design, so an
  * UNRELATED query planning during a runner's `start()` sees its
  * partition override; deployments wanting full isolation run
  * concurrent tracks on `spark.newSession()` (standard Spark
  * practice), which shares the context, cache, and catalog. */
class ConcurrencySpec extends AnyFunSuite {

  private val dir = SparkFixture.sf0001

  private val names = Seq(
    "q1_pricing_summary", "q_topk_per_group", "text_entropy",
    "text_quality", "dedup_exact", "dedup_minhash_lsh",
    "ann_bruteforce", "emb_dim_stats", "pipeline_shard_manifest",
    "q_window_rank")

  private def run(name: String): Array[String] =
    SparkEntry.queries(name)(spark, dir)
      .collect().map(_.toString).sorted

  test("ten mixed-shape queries agree between sequential and 10-way concurrent runs") {
    val sequential = names.map(n => n -> run(n)).toMap
    spark.catalog.clearCache()

    val pool = Executors.newFixedThreadPool(names.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val concurrent = Await.result(
        Future.sequence(names.map(n => Future(n -> run(n)))), 10.minutes).toMap
      names.foreach { n =>
        assert(concurrent(n).sameElements(sequential(n)),
          s"$n diverged under concurrency: " +
            s"${concurrent(n).length} vs ${sequential(n).length} rows")
      }
    } finally {
      pool.shutdown()
      spark.catalog.clearCache()
    }
  }

  test("conf-scoped streaming runners serialize and restore the session conf") {
    // two bounded streaming runners racing on one session: the
    // SessionConfLock serializes their start-scoped shuffle-partition
    // override, so both must produce their sequential results and the
    // session conf must come back to its original value
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val streamingNames = Seq("cdc_stream_upserts", "cdc_stream_dedup")
    val sequential = streamingNames.map(n => n -> run(n)).toMap
    spark.catalog.clearCache()

    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val concurrent = Await.result(
        Future.sequence(streamingNames.map(n => Future(n -> run(n)))),
        10.minutes).toMap
      streamingNames.foreach { n =>
        assert(concurrent(n).sameElements(sequential(n)),
          s"$n diverged under concurrency")
      }
      assert(spark.conf.get("spark.sql.shuffle.partitions") === before,
        "conf-scoped runner leaked its shuffle-partition override")
    } finally {
      pool.shutdown()
      spark.catalog.clearCache()
    }
  }
}
