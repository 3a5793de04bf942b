package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.{spark, sf0001}

/** Regression-proofs the SURVEY §6 plan claims: filters/columns reach
  * the parquet scan, dims broadcast, single-shuffle materialization. */
class PlanAuditSpec extends AnyFunSuite {

  private def executed(df: org.apache.spark.sql.DataFrame) = {
    df.count()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  test("q1: filter pushed to scan, columns pruned") {
    val plan = executed(queries.Relational.q1PricingSummary(spark, sf0001))
    val scan = plan.collect { case s: FileSourceScanExec => s }.head
    assert(scan.metadata("PushedFilters").contains("l_shipdate"),
      scan.metadata("PushedFilters"))
    val read = scan.metadata("ReadSchema")
    assert(!read.contains("l_comment") && !read.contains("l_orderkey"), read)
  }

  test("q5: all five dimension joins broadcast") {
    val plan = executed(queries.Relational.q5RegionRevenue(spark, sf0001))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size === 5, s"expected 5 broadcast joins, got ${bhj.size}")
  }

  test("q6: every predicate pushed to the scan, 4-column ReadSchema") {
    val plan = executed(queries.Relational.q6ForecastRevenue(spark, sf0001))
    val scan = plan.collect { case s: FileSourceScanExec => s }.head
    val pushed = scan.metadata("PushedFilters")
    Seq("l_shipdate", "l_discount", "l_quantity").foreach(c =>
      assert(pushed.contains(c), s"$c not pushed: $pushed"))
    val read = scan.metadata("ReadSchema")
    Seq("l_extendedprice", "l_discount", "l_quantity", "l_shipdate")
      .foreach(c => assert(read.contains(c), read))
    assert(!read.contains("l_orderkey") && !read.contains("l_returnflag"),
      s"columns not pruned: $read")
  }

  test("q4: date window pushed to the orders scan; EXISTS is a semi-join") {
    val plan = executed(queries.Relational.q4OrderPriority(spark, sf0001))
    val orders = plan.collect { case s: FileSourceScanExec => s }
      .filter(_.metadata("Location").contains("orders"))
    assert(orders.nonEmpty)
    assert(orders.head.metadata("PushedFilters").contains("o_orderdate"),
      orders.head.metadata("PushedFilters"))
    // the EXISTS must not materialize matches (no inner-join + distinct)
    val semi = plan.collect {
      case j: BroadcastHashJoinExec
        if j.joinType.toString.contains("Semi") => j
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if j.joinType.toString.contains("Semi") => j
    }
    assert(semi.nonEmpty, s"no semi-join in plan:\n$plan")
  }

  test("q11: the fact table is scanned once (rollup cached for the scalar)") {
    val plan = executed(
      queries.Relational.q11ValueConcentration(spark, sf0001))
    val liScans = plan.collect { case s: FileSourceScanExec => s }
      .count(_.metadata("Location").contains("lineitem"))
    assert(liScans <= 1, s"expected ≤1 lineitem scan, got $liScans")
    val mem = plan.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => m
    }
    assert(mem.nonEmpty, "rollup cache missing — scalar branch re-scans")
  }

  test("q_correlated_scalar scans lineitem once (window, not agg+rejoin)") {
    val plan = executed(queries.Relational.qCorrelatedScalar(spark, sf0001))
    val liScans = plan.collect { case s: FileSourceScanExec => s }
      .count(_.metadata("Location").contains("lineitem"))
    assert(liScans === 1, s"expected 1 lineitem scan, got $liScans")
  }

  test("dedup_embedding never materializes all-pairs") {
    val plan = executed(ops.Dedup.dedupEmbedding(spark, sf0001))
    val bad = plan.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bad.isEmpty, s"quadratic join in plan:\n$plan")
  }

  test("q_band_range_join stays an equi-join (no BNLJ/cartesian)") {
    val plan = executed(queries.Relational.qBandRangeJoin(spark, sf0001))
    val bad = plan.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bad.isEmpty, s"non-equi join materialized as quadratic plan:\n$plan")
  }

  test("emb_cluster_assign shuffles only for the window + final sort") {
    val plan = executed(ops.Ann.embClusterAssign(spark, sf0001))
    // centroids broadcast (8 rows replicated — the intended cross join);
    // the corpus itself must shuffle exactly twice: argmax window + sort
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 2, s"got ${shuffles.size} exchanges:\n$plan")
  }

  test("latest-state materialization is a single data shuffle") {
    val plan = executed(cdc.CdcQueries.latestState(spark, sf0001))
    // one exchange for the key window + one for the presentation sort
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 2, s"got ${shuffles.size} exchanges:\n$plan")
  }

  test("bucketed upsert write is a single data shuffle") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def rec(k: Long, seq: Long) = cdc.ChangeRecord(k, seq, "u", "t", Some(1.0), seq)
    val table = Scratch.dir("audit_upsert_tbl").toString
    val ckpt = Scratch.dir("audit_upsert_ck").toString
    val mem = MemoryStream[cdc.ChangeRecord]
    val plans = SparkEvents.writePlans(spark) {
      val q = sinks.PartitionedTable.upsertSink(mem.toDS(), table, ckpt, 8)
      try {
        mem.addData((0L until 100L).map(rec(_, 1L))); q.processAllAvailable()
        // the second batch unions prior bucket files with the batch
        mem.addData((0L until 10L).map(rec(_, 2L))); q.processAllAvailable()
      } finally q.stop()
    }
    assert(plans.size === 2, s"expected one write per batch, got ${plans.size}")
    // one hash exchange on the bucket serves the latest-row window and
    // the partitioned writer alike
    plans.foreach { plan =>
      val shuffles = SparkEvents.collect(plan) { case e: ShuffleExchangeExec => e }
      assert(shuffles.size === 1, s"got ${shuffles.size} exchanges:\n$plan")
    }
  }

  test("Zipf head/tail splits resolve the hot-word join as a broadcast") {
    // C29 (and C24's round-6 port): the top-1k head must join map-side —
    // a plan with zero BroadcastHashJoins would mean the whole Zipf
    // token volume shuffles, the skew the split exists to avoid
    for (q <- Seq(ops.TextOps.textLmScore(spark, sf0001),
        ops.TextOps.textIdfRarity(spark, sf0001),
        ops.TextOps.textLmBigram(spark, sf0001))) {
      val plan = executed(q)
      val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
      assert(bhj.nonEmpty, s"head join not broadcast:\n$plan")
    }
  }

  test("q18: whale rollup broadcasts into the rejoins, top-100 is a take") {
    val plan = executed(queries.Relational.q18LargeOrders(spark, sf0001))
    // the HAVING-filtered rollup output is tiny → AQE must broadcast
    // both rejoins rather than shuffling orders/customer
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 2, s"expected 2 broadcast rejoins:\n$plan")
    val take = plan.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(take.nonEmpty, s"top-100 not TakeOrderedAndProject:\n$plan")
  }

  test("q_bucketed_join: no exchange or sort under the co-located join") {
    val plan = executed(queries.Relational.qBucketedJoin(spark, sf0001))
    val smj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.nonEmpty, s"expected a sort-merge join:\n$plan")
    // bucketed storage supplies the join's distribution: nothing below
    // the SMJ may shuffle. (A narrow in-bucket SortExec remains —
    // Spark 3+ ignores write-time sortBy on scans unless the legacy
    // outputOrdering conf is on; the exchange is the scale cost.)
    val bad = smj.head.collect { case e: ShuffleExchangeExec => e }
    assert(bad.isEmpty, s"exchange under the bucketed join:\n$plan")
    // the write must be task-per-bucket (round-6 verdict: repartition(1)
    // made it a single-task write): 8 parallel tasks, each owning one
    // bucket, still yields exactly ONE data file per bucket
    val scans = plan.collect { case s: FileSourceScanExec => s }
    for (scan <- scans; loc = scan.metadata("Location")) {
      val dir = new java.io.File(new java.net.URI(
        loc.substring(loc.indexOf('[') + 1, loc.length - 1)))
      val files = dir.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files === 8, s"expected 8 one-per-bucket files in $dir, got $files")
    }
  }

  test("pipeline_zorder_layout: equal-count bucketing never funnels data through one partition") {
    // round-6 verdict: both layouts bucketed via a global Window.orderBy
    // (Exchange SinglePartition). The fix ranks within deterministic
    // range partitions and rebases by collected per-partition counts —
    // so the executed plan must contain NO single-partition exchange,
    // and the rank windows must partition on the range key
    val plan = executed(ops.PipelineQueries.pipelineZorderLayout(spark, sf0001))
    val single = plan.collect { case e: ShuffleExchangeExec
        if e.outputPartitioning ==
          org.apache.spark.sql.catalyst.plans.physical.SinglePartition => e }
    assert(single.isEmpty, s"single-partition exchange in plan:\n$plan")
    assert(plan.toString.contains("hashpartitioning(__pid"),
      s"rank window not partitioned on the range key:\n$plan")
  }

  test("pipeline_stream_ingest: history anti-join side prunes to the batch's digest prefixes") {
    // round-6 verdict: each micro-batch anti-joined the ENTIRE history.
    // The table is now written partitionBy(pfx) and the batch's prefix
    // set filters the read — the predicate must land in the scan's
    // partition filters, so only matching pfx= directories are read
    import org.apache.spark.sql.functions._
    val dir = Scratch.dir("graft_prune_audit").toString
    spark.range(256).toDF("doc_id")
      .withColumn("text_md5", md5(col("doc_id").cast("string")))
      .withColumn("pfx", substring(col("text_md5"), 1, 1))
      .write.mode("overwrite").partitionBy("pfx").parquet(dir)
    val pruned = ops.PipelineQueries.prunedHistory(spark, dir, Seq("a", "b"))
    pruned.collect() // execute THIS plan instance so its metrics populate
    val scan = (pruned.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect { case s: FileSourceScanExec => s }.head
    assert(scan.partitionFilters.exists(_.toString.contains("pfx")),
      s"prefix predicate not in partition filters:\n${scan.metadata}")
    def filesUnder(p: String) = Option(new java.io.File(dir, p).listFiles())
      .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    assert(scan.metrics("numFiles").value === filesUnder("pfx=a") + filesUnder("pfx=b"),
      s"scan read ${scan.metrics("numFiles").value} files — not pruned to pfx=a,b")
  }

  test("pipeline_stream_neardup: both history reads prune to the batch's partitions") {
    // the C67 claim: the per-batch band join reads only the bh%16
    // partitions the batch's bands hash into, and the exact-confirm
    // fetches only the candidate partners' doc_id%8 shingle buckets —
    // both isin predicates must land in the scans' PartitionFilters
    // and the file counts must match exactly the named partitions
    import org.apache.spark.sql.functions._
    // r13 layout: ONE history table, band rows under p=b*, shingle
    // rows under p=s* (disjoint partitions — either reader scans only
    // its own files; see neardupHistSchema)
    val histDir = Scratch.dir("graft_neardup_audit_hist").toString
    spark.range(256).toDF("doc_id")
      .withColumn("band", (col("doc_id") % 16).cast("int"))
      .withColumn("bh", xxhash64(col("doc_id")))
      .withColumn("sh", lit(null).cast("array<string>"))
      .withColumn("p", concat(lit("b"), pmod(col("bh"), lit(16)).cast("string")))
      .unionByName(spark.range(256).toDF("doc_id")
        .withColumn("band", lit(null).cast("int"))
        .withColumn("bh", lit(null).cast("long"))
        .withColumn("sh", array(md5(col("doc_id").cast("string"))))
        .withColumn("p", concat(lit("s"), pmod(col("doc_id"), lit(8)).cast("string"))))
      .repartition(col("p"))
      .write.mode("overwrite").partitionBy("p").parquet(histDir)
    def auditScan(df: org.apache.spark.sql.DataFrame, dir: String,
        keyCol: String, keep: Seq[String]): Unit = {
      df.collect()
      val scan = (df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }).collect { case s: FileSourceScanExec => s }.head
      assert(scan.partitionFilters.exists(_.toString.contains(keyCol)),
        s"$keyCol predicate not in partition filters:\n${scan.metadata}")
      val expect = keep.map { v =>
        Option(new java.io.File(dir, s"$keyCol=$v").listFiles())
          .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
      }.sum
      assert(scan.metrics("numFiles").value === expect,
        s"scan read ${scan.metrics("numFiles").value} files, expected $expect")
    }
    auditScan(ops.PipelineQueries.prunedBands(spark, histDir, Seq("3", "7")),
      histDir, "p", Seq("b3", "b7"))
    auditScan(ops.PipelineQueries.prunedShingles(spark, histDir, Seq("0", "5")),
      histDir, "p", Seq("s0", "s5"))
  }

  test("q19: CNF extraction pushes bracket implications to BOTH scans") {
    // the B40 claim: no single OR bracket is pushable alone, but the
    // common implications are — brand/size reach the part scan and
    // the quantity envelope reaches the lineitem scan
    val plan = executed(queries.Relational.q19DisjunctiveBrackets(spark, sf0001))
    val scans = plan.collect { case s: FileSourceScanExec => s }
    val part = scans.find(_.metadata("Location").contains("part.parquet")).get
    val li = scans.find(_.metadata("Location").contains("lineitem")).get
    assert(part.metadata("PushedFilters").contains("p_brand"),
      s"no brand filter on part scan: ${part.metadata("PushedFilters")}")
    assert(li.metadata("PushedFilters").contains("l_quantity"),
      s"no quantity filter on lineitem scan: ${li.metadata("PushedFilters")}")
  }

  test("q_funnel_steps: chained windows + rollup ride ONE user exchange") {
    // the B32 claim: all three step windows AND the per-user rollup
    // share the user_id partitioning — one data exchange, plus only
    // the presentation sort
    val plan = executed(queries.Relational.qFunnelSteps(spark, sf0001))
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 2, s"got ${shuffles.size} exchanges:\n$plan")
  }

  test("q_retention_cohorts: two data shuffles, cohort join broadcasts") {
    // claim: one user_id shuffle (cohort agg), one (user, day) shuffle
    // (activity distinct); the cohort table re-joins broadcast-side and
    // the matrix-side aggs are days²-tiny (one matrix exchange + sort)
    val plan = executed(queries.Relational.qRetentionCohorts(spark, sf0001))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"cohort join did not broadcast:\n$plan")
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 5, s"got ${shuffles.size} exchanges:\n$plan")
  }

  test("pipeline_token_budget: rank + running sum + rollup share one source shuffle") {
    val plan = executed(ops.PipelineQueries.pipelineTokenBudget(spark, sf0001))
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 2, s"got ${shuffles.size} exchanges:\n$plan")
  }

  test("dedup_semantic: within-cluster pairs stay an equi-join (no cartesian/BNLJ)") {
    // the SemDeDup claim: cells BOUND the pair space — the self-join
    // must hash on cluster, never materialize all-pairs (the centroid
    // assignment crossJoin is the intended 8-row broadcast)
    val plan = executed(ops.Dedup.dedupSemantic(spark, sf0001))
    // the 8-row centroid-assignment broadcasts are the two intended
    // nested-loop joins; the PAIR join must be a cluster equi-join
    // and nothing may be a cartesian product
    val cart = plan.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(cart.isEmpty, s"cartesian in plan:\n$plan")
    val bnlj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    // `assigned` is persisted, so the one intended 8-row centroid
    // broadcast appears at most once (in the cache-build subtree)
    assert(bnlj.size <= 1, s"unexpected nested-loop joins:\n$plan")
    def onCluster(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      keys.exists(_.toString.contains("cluster"))
    val pairJoin = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if onCluster(j.leftKeys) => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
        if onCluster(j.leftKeys) => j
      case j: BroadcastHashJoinExec if onCluster(j.leftKeys) => j
    }
    assert(pairJoin.nonEmpty, s"within-cluster pair join is not an equi-join:\n$plan")
  }

  test("text_domain_signature: the token stream is aggregated once and cached") {
    // the (source, word) count is the ONLY pass over tokens — all four
    // consumers (word totals, source totals, N, the scored join) must
    // read the persisted distinct table, not re-explode the corpus
    val plan = executed(ops.TextOps.textDomainSignature(spark, sf0001))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"source-totals/N join not broadcast:\n$plan")
    val cached = plan.collect {
      case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => c
    }
    assert(cached.size >= 3, s"consumers not reading the cached sw table:\n$plan")
    val explodes = plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(explodes.size <= 1, s"token stream exploded ${explodes.size} times:\n$plan")
  }

  test("mm pair generation stays banded (no cartesian/BNLJ) for C38/C56") {
    // the shared phash pair generator behind mm_phash_neardup AND
    // mm_canonical: candidates must come from the 4×16-bit band
    // equi-join — all-pairs over assets must never materialize
    val plan = executed(ops.Multimodal.phashPairsProbe(spark, sf0001))
    val bad = plan.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bad.isEmpty, s"quadratic join in pair generation:\n$plan")
  }

  test("q_fuzzy_match: the length-band predicate runs below the levenshtein projection") {
    // r9 verdict item 6: a |len(a)−len(b)| > 2 pair can never reach
    // edit distance ≤ 2, so the cheap band filter must sit UNDER the
    // node that computes levenshtein — band survivors only pay the
    // O(len·k) scan
    // Catalyst folds both predicates into the broadcast join's single
    // condition; And evaluates (and codegens) left-to-right with
    // short-circuit, so "band first" means the band conjunct precedes
    // the levenshtein conjunct in the flattened conjunction
    import org.apache.spark.sql.catalyst.expressions.{And, Expression, Length, Levenshtein}
    val plan = executed(queries.Relational.qFuzzyMatch(spark, sf0001))
    val join = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.head
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val cs = conjuncts(join.condition.get)
    def has(e: Expression, p: PartialFunction[Expression, Boolean]) =
      e.exists(p.applyOrElse(_, (_: Expression) => false))
    val bandIdx = cs.indexWhere(c =>
      has(c, { case _: Length => true }) && !has(c, { case _: Levenshtein => true }))
    val levIdx = cs.indexWhere(c => has(c, { case _: Levenshtein => true }))
    assert(bandIdx >= 0, s"no length-band conjunct in: $cs")
    assert(levIdx >= 0, s"no levenshtein conjunct in: $cs")
    assert(bandIdx < levIdx,
      s"band conjunct ($bandIdx) must precede levenshtein ($levIdx) in: $cs")
  }

  test("C14/C80 composite near-dup gate runs the LSH path (no shingle self-join)") {
    // r9 verdict item 3: the composite pipelines must carry C3's banded
    // MinHash plan, not C2's PPJoin — at 100 TB the prefix self-join on
    // shingles is the part that cannot ship inside a larger pipeline.
    // Audited on the ANALYZED plan (the LSH branch is persisted, so the
    // executed plan hides it behind InMemoryTableScan): the MinHashSig
    // expression must be present, and no Join may touch a shingle
    // attribute ("s" — the PPJoin prefix/freq join key; shingle arrays
    // are "sh"/"sig" and never join keys).
    for (df <- Seq(ops.PipelineQueries.pipelineCleanCorpus(spark, sf0001),
                   ops.PipelineQueries.pipelineDropLedger(spark, sf0001))) {
      val analyzed = df.queryExecution.analyzed
      val hasMinhash = analyzed.exists(_.expressions.exists(_.exists {
        case _: graft.functions.GraftExpressions.MinHashSig => true
        case _ => false
      }))
      assert(hasMinhash, "MinHashSig absent — composite gate is not the LSH path")
      val shingleJoins = analyzed.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.condition.exists(_.references.exists(_.name == "s")) => j
      }
      assert(shingleJoins.isEmpty,
        s"shingle join in composite plan:\n${shingleJoins.mkString("\n")}")
    }
  }

  test("bucket caps live INSIDE the aggregate: no collect_list/collect_set in the dedup candidate plans") {
    // r10 bounded-buffer hardening: the LSH bucket caps must be MinK
    // aggregates (k-bounded partial buffers), never a sliced
    // collect_list — that form bounds only the OUTPUT, so a degenerate
    // bucket still materializes whole in one task's agg buffer.
    // Audited on the analyzed plans of C3 (min_k) and C5 (min_k_by).
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, CollectSet}
    for ((name, df) <- Seq(
        "dedup_minhash_lsh" -> ops.Dedup.dedupMinhashLsh(spark, sf0001),
        "dedup_embedding" -> ops.Dedup.dedupEmbedding(spark, sf0001))) {
      val analyzed = df.queryExecution.analyzed
      def anyExpr(p: PartialFunction[Expression, Boolean]): Boolean =
        analyzed.exists(_.expressions.exists(_.exists(
          p.applyOrElse(_, (_: Expression) => false))))
      assert(!anyExpr { case _: CollectList => true; case _: CollectSet => true },
        s"$name: unbounded collect aggregate in plan")
      assert(anyExpr {
        case _: graft.functions.MinKAgg => true
        case _: graft.functions.MinKPairAgg => true
      }, s"$name: no MinK aggregate found — bucket cap missing")
    }
  }

  test("C4 simhash candidates join fingerprint CLASSES, not docs") {
    // r10 ADVICE (closed r11): the chunk-blocked candidate self-join
    // must run over DISTINCT fingerprints — a doc-level join emits
    // O(clique² × 4 chunks) candidate rows per identical-text clique
    // (empty/whitespace pages on a real corpus). Audited on the
    // analyzed plan: every Join whose condition touches the chunk
    // value `cv` must have Distinct/Aggregate (the class projection)
    // on both input branches, and no such join may reference doc_id.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Distinct, Join}
    val analyzed = ops.Dedup.dedupSimhash(spark, sf0001).queryExecution.analyzed
    val chunkJoins = analyzed.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "cv")) => j
    }
    assert(chunkJoins.nonEmpty, "no chunk-blocked candidate join found")
    chunkJoins.foreach { j =>
      assert(!j.condition.get.references.exists(_.name == "doc_id"),
        s"chunk join still keyed by doc_id (doc-level blow-up form):\n$j")
      Seq(j.left, j.right).foreach { side =>
        val classed = side.exists {
          case _: Distinct => true
          case _: Deduplicate => true // .distinct() analyzes to Deduplicate
          case a: Aggregate => a.groupingExpressions.nonEmpty
          case _ => false
        }
        assert(classed,
          s"chunk-join input lacks the distinct fingerprint-class projection:\n$side")
      }
    }
  }

  test("q_window_gap_fill: spine join and fill ride the rollup's exchanges") {
    // the B36 claim: one (user, hour) rollup shuffle + one user
    // shuffle shared by the spine agg/join/window, + the presentation
    // sort — and never a single-partition funnel
    val plan = executed(queries.Relational.qWindowGapFill(spark, sf0001))
    val xs = plan.collect { case e: ShuffleExchangeExec => e }
    assert(xs.size <= 3, s"got ${xs.size} exchanges:\n$plan")
    val single = xs.filter(_.outputPartitioning ==
      org.apache.spark.sql.catalyst.plans.physical.SinglePartition)
    assert(single.isEmpty, s"single-partition exchange in plan:\n$plan")
  }

  test("cdc_snapshot_bootstrap: snapshot + merge are exactly two key shuffles") {
    // the A30 claim: one latest() fold per side — two hash exchanges
    // on the change key; everything else is the broadcast one-row
    // bounds scalar (SinglePartition on one row) and the final sort
    val plan = executed(cdc.CdcQueries.queries("cdc_snapshot_bootstrap")(spark, sf0001))
    val xs = plan.collect { case e: ShuffleExchangeExec => e }
    val keyed = xs.filter(_.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        h.expressions.exists(_.toString.contains("key"))
      case _ => false
    })
    assert(keyed.size === 2, s"expected 2 key shuffles, got ${keyed.size}:\n$plan")
  }

  test("runtime bloom filter injects on a selective shuffle join (100 TB scan-pruning path)") {
    // At cluster scale a selective dimension predicate should prune
    // the fact scan BEFORE the shuffle via Spark's runtime bloom
    // filter (InjectRuntimeFilter). Prove the engine's query shapes
    // are eligible: with broadcast off (forcing the shuffle join the
    // 100 TB fact side would take) and the size thresholds opened up
    // for toy data, the optimizer must plant a might_contain()
    // pre-filter on the application side.
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      import spark.implicits._
      val li = graft.Tables.table(spark, sf0001, "lineitem")
      val ord = graft.Tables.table(spark, sf0001, "orders")
        .filter($"o_orderpriority" === "1-URGENT")
      val q = li.join(ord, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(org.apache.spark.sql.functions.sum($"l_extendedprice").as("rev"))
      val plan = executed(q)
      assert(plan.toString.contains("might_contain"),
        s"no runtime bloom filter on the fact side:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed shuffle-join partition (runtime skew backstop)") {
    // B14/B24 salt the skew we KNOW about at plan time; for the whale
    // key nobody predicted, AQE's skew-join split is the runtime
    // backstop SCALING.md leans on. Prove the engine's join shapes
    // are eligible: one key holding ~90% of the left side, broadcast
    // off, thresholds scaled to toy bytes -> the final adaptive
    // sort-merge join must run with isSkewJoin (the whale partition
    // read as parallel sub-ranges instead of one straggler task).
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "512KB")
      import spark.implicits._
      import org.apache.spark.sql.functions._
      // payload must be id-derived AND incompressible: a constant
      // folds above the join, and a repeated pad lz4-compresses the
      // whale partition below the skew thresholds this test is about
      val skewed = spark.range(200000)
        .select((when($"id" % 10 =!= 0, lit(0L)).otherwise($"id")).as("k"),
          concat(md5($"id".cast("string")),
            md5(concat(lit("b"), $"id".cast("string")))).as("payload"))
      val dim = spark.range(20000).select($"id".as("k"),
        concat(lit("d"), $"id").as("dv"))
      // aggregate OVER the payload so column pruning can't drop it
      // from the join shuffle (a bare count would), and collect()
      // THIS DataFrame — count() builds a separate QueryExecution,
      // leaving this plan unexecuted and therefore never re-planned
      // by AQE
      val joined = skewed.join(dim, "k")
        .agg(sum(length($"payload")).as("bytes"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // the SMJ lives inside a ResultQueryStage (a leaf wrapper that
      // plan.collect can't descend into) — assert on the rendered plan
      assert(plan.toString.contains("SortMergeJoin(skew=true)"),
        s"no skew-split SMJ in adaptive plan:\n$plan")
      assert(plan.toString.contains("AQEShuffleRead coalesced and skewed"),
        s"whale partition not split into sub-reads:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q7: nation-pair predicate prunes supplier and customer scans") {
    val plan = executed(queries.Relational.q7VolumeShipping(spark, sf0001))
    // the IN-(two nations) halves of the pair predicate must reach the
    // supplier/customer sides as pushed filters on s_/c_nationkey
    val scans = plan.collect { case s: FileSourceScanExec => s }
    def pushed(tbl: String) = scans
      .filter(_.metadata("Location").contains(tbl))
      .exists(_.metadata("PushedFilters").contains("nationkey"))
    assert(pushed("supplier"), s"no nationkey filter on supplier scan:\n$plan")
    assert(pushed("customer"), s"no nationkey filter on customer scan:\n$plan")
  }

  test("bm25: query terms and the idf table join as broadcasts") {
    // the postings prune (terms) and the per-term idf both resolve
    // map-side — the corpus-sized tf table must never shuffle to meet
    // a table that fits in a broadcast
    val plan = executed(ops.TextOps.textBm25Topk(spark, sf0001))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 2, s"expected terms+idf broadcast joins:\n$plan")
  }

  test("DSIR: the 256-row log-ratio table joins the feature stream map-side") {
    val plan = executed(ops.PipelineQueries
      .pipelineImportanceWeights(spark, sf0001))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"log-ratio join did not broadcast:\n$plan")
  }

  test("bloom decontamination: membership is a broadcast join, never a shuffle") {
    val plan = executed(ops.TextOps.textBloomDecontaminate(spark, sf0001))
    // the set-bit table (≤ m rows) must broadcast onto the probe
    // positions; the corpus side shuffles only for its own rollups
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"bloom bit-set join did not broadcast:\n$plan")
  }

  test("winnowing selects fingerprints in-row (no WindowExec anywhere)") {
    // the window-minimum selection must compile to array ops at scan
    // parallelism, not a per-doc window function
    val plan = executed(ops.TextOps.textWinnowing(spark, sf0001))
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"winnowing fell back to a window:\n$plan")
  }

  test("q2/q9: the part filter semi-joins the fact BELOW the cost rollup") {
    // B38/B47 r10 change: the (part, supp) min-cost rollup must not
    // aggregate the whole fact only to discard ~97%/~83% of its keys
    // against the filtered part dim — the broadcast LeftSemi prune has
    // to sit UNDER the aggregate so the rollup shuffles only surviving
    // partkeys. Assert some aggregate's subtree contains the semi join.
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    Seq(
      queries.Relational.q2MinCostSupp(spark, sf0001),
      queries.Relational.q9ProductProfit(spark, sf0001)
    ).foreach { df =>
      val plan = executed(df)
      val prunedRollup = plan.collect { case a: HashAggregateExec => a }
        .exists(_.collect {
          case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j
        }.nonEmpty)
      assert(prunedRollup,
        s"no LeftSemi broadcast prune under the cost rollup:\n$plan")
    }
  }

  test("dedup family: no shingle-array frame is ever a broadcast build") {
    // r13 2 GB-gate dig part 3: the static planner elected the
    // corpus-proportional shingle frames (array<string> columns behind
    // ~30-60×-understated scan estimates) as broadcast BUILD sides —
    // 130-320 MiB actual driver builds at sf1 that grow toward GB
    // before the linear estimate crosses the threshold. The verify
    // joins are now shuffle_hash-pinned; this test locks the class:
    // across the pinned queries' EXECUTED adaptive plans (collect,
    // not count — count's separate QueryExecution leaves this plan's
    // runtime elections invisible), no BroadcastExchange may output
    // an array-typed column. Allowed broadcasts (C2's prefix, the
    // containment inverted-index probe, phash bands) are all
    // scalar-schema and carry measured/self-limiting justifications
    // in their Scaladoc.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
    import org.apache.spark.sql.types.ArrayType
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = if (seen.add(p)) {
      f(p)
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
        case q: QueryStageExec => walk(q.plan)(f)
        case r: ReusedExchangeExec => walk(r.child)(f)
        // a persisted subtree hides its physical plan behind the cache
        // relation (not a child) — without this case a broadcast
        // elected INSIDE a persisted frame (e.g. jaccardPairs' prefix)
        // would evade the array-broadcast class lock (r13 ADVICE)
        case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)(f)
        case _ => ()
      }
      p.children.foreach(walk(_)(f))
      p.subqueries.foreach(walk(_)(f))
    }
    for (q <- Seq("dedup_minhash_lsh", "dedup_ngram_jaccard",
        "dedup_containment", "dedup_substring", "text_winnowing",
        "pipeline_clean_corpus")) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      df.collect()
      walk(df.queryExecution.executedPlan) {
        case b: BroadcastExchangeExec =>
          val arr = b.output.filter(_.dataType.isInstanceOf[ArrayType])
          assert(arr.isEmpty,
            s"$q broadcasts an array-carrying frame (${arr.map(_.name)
              .mkString(", ")}) — the corpus-proportional build the " +
              s"r13 shuffle_hash pins forbid:\n${b.treeString}")
        case _ => ()
      }
      GraftSession.release(spark)
    }
  }
}
