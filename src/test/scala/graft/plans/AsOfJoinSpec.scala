package graft.plans

import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.{spark, sf0001}

class AsOfJoinSpec extends AnyFunSuite {

  test("as-of join picks the latest right row at or before each left ts") {
    import spark.implicits._
    val left = Seq((1L, 100L, 10L), (1L, 50L, 11L), (2L, 10L, 12L), (3L, 5L, 13L))
      .toDF("k", "t", "lid")
    val right = Seq(
      (1L, 40L, 1L, "a"), (1L, 100L, 2L, "b"), (1L, 100L, 3L, "c"),
      (2L, 11L, 4L, "d"))
      .toDF("rk", "rt", "rid", "v")
    val out = AsOf.join(left, right, "k", "t", "lid", "rk", "rt", "rid")
      .select($"lid", $"rid", $"v").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getString(2))).toSet
    assert(out === Set(
      (10L, 3L, "c"),   // ts tie at 100 -> highest tie id wins
      (11L, 1L, "a"),   // 50 -> latest at-or-before is 40
      (12L, -1L, null), // right row at 11 is AFTER left ts 10
      (13L, -1L, null)  // key with no right rows at all
    ))
  }

  test("NULL keys and timestamps never match (SQL semantics)") {
    // r10 review finding: the merge read key/ts with getLong, so a
    // NULL field silently joined as key/ts 0 — NULLs on either side
    // must behave like SQL join keys (no match), with the NULLS FIRST
    // sort keeping the merge cursor invariant intact
    import spark.implicits._
    val left = Seq(
      (Option(1L), Option(100L), 10L),
      (Option.empty[Long], Option(50L), 11L), // null key
      (Option(1L), Option.empty[Long], 12L)) // null ts
      .toDF("k", "t", "lid")
    val right = Seq(
      (Option(1L), Option(40L), 1L, "a"),
      (Option.empty[Long], Option(10L), 2L, "nullk"), // never a candidate
      (Option(1L), Option.empty[Long], 3L, "nullt")) // never a candidate
      .toDF("rk", "rt", "rid", "v")
    val out = AsOf.join(left, right, "k", "t", "lid", "rk", "rt", "rid")
      .select($"lid", $"rid").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(out === Set((10L, 1L), (11L, -1L), (12L, -1L)))
  }

  test("merge exec matches the union+last(ignoreNulls) window formulation on a random feed") {
    // the round-8 row-path audit's equivalence, pinned: both
    // formulations must agree row-for-row on a seeded feed dense in
    // the adversarial shapes — (key, ts) duplicates on both sides,
    // left-only and right-only keys, and exact ts ties across sides
    // (inclusive at-or-before)
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(8)
    // ts drawn from 0..19 so same-(key, ts) collisions are common
    val left = Seq.tabulate(400)(i =>
      (rnd.nextInt(25).toLong, rnd.nextInt(20).toLong, i.toLong))
      .toDF("k", "t", "lid")
    val right = Seq.tabulate(600)(i =>
      (rnd.nextInt(30).toLong, rnd.nextInt(20).toLong, i.toLong, s"v$i"))
      .toDF("rk", "rt", "rid", "v")
    val merge = AsOf.join(left, right, "k", "t", "lid", "rk", "rt", "rid")
      .select($"lid", $"rid", $"v")
    val st = right.select($"rk".as("u"), $"rt".as("ts"), lit(0).as("side"),
      $"rid", $"v", lit(null).cast("long").as("lid"))
    val pu = left.select($"k".as("u"), $"t".as("ts"), lit(1).as("side"),
      lit(null).cast("long").as("rid"), lit(null).cast("string").as("v"),
      $"lid")
    val w = Window.partitionBy($"u")
      .orderBy($"ts", $"side", coalesce($"rid", lit(Long.MaxValue)))
      .rowsBetween(Window.unboundedPreceding, 0)
    val window = st.unionByName(pu)
      .withColumn("lrid", last($"rid", ignoreNulls = true).over(w))
      .withColumn("lv", last($"v", ignoreNulls = true).over(w))
      .filter($"lid".isNotNull)
      .select($"lid", $"lrid".as("rid"), $"lv".as("v"))
    val a = merge.orderBy($"lid").collect().map(_.toString).toSeq
    val b = window.orderBy($"lid").collect().map(_.toString).toSeq
    assert(a.size === 400)
    assert(a === b)
  }

  test("column pruning reaches through the merge: dropped columns leave both sides") {
    // Catalyst's ColumnPruning must trim each child to (consumed ∪
    // key/ts/tie) so a wide state table doesn't carry unused columns
    // through the co-partitioning exchange + sort
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf0001)
    val l = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id".as("p_user"),
        org.apache.spark.sql.functions.expr("unix_micros(ts)").as("p_ts"),
        $"props".as("p_props"))
    val r = ev.filter($"event_type" =!= "purchase")
      .select($"event_id".as("s_id"), $"user_id".as("s_user"),
        org.apache.spark.sql.functions.expr("unix_micros(ts)").as("s_ts"),
        $"event_type".as("s_type"), $"value".as("s_value"),
        $"props".as("s_props"))
    val joined = AsOf
      .join(l, r, "p_user", "p_ts", "p_id", "s_user", "s_ts", "s_id")
      .select($"p_id", $"s_id", $"s_value")
    joined.count()
    val plan = joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val asof = plan.collect { case e: AsOfJoinExec => e }.head
    val (ln, rn) = (asof.left.output.map(_.name), asof.right.output.map(_.name))
    // unconsumed payload columns pruned from both sides...
    assert(!ln.contains("p_props"), s"left not pruned: $ln")
    assert(!rn.contains("s_props") && !rn.contains("s_type"),
      s"right not pruned: $rn")
    // ...while the merge's own key/ts/tie and the consumed value stay
    assert(ln.contains("p_user") && ln.contains("p_ts") && ln.contains("p_id"))
    assert(Seq("s_user", "s_ts", "s_id", "s_value").forall(rn.contains), rn)
  }

  test("GraftExtensions alone plans the as-of join, pruned to the scans' ReadSchema") {
    // the fixture is the shipped session: with the session-global
    // experimental strategies and rules emptied, the extension's own
    // must plan the operator, and the columns nothing consumes must
    // leave the file scans even behind the state side's Union
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf0001)
    val l = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id".as("p_user"),
        org.apache.spark.sql.functions.expr("unix_micros(ts)").as("p_ts"),
        $"props".as("p_props"))
    val feed = ev.filter($"event_type" =!= "purchase")
      .select($"event_id".as("s_id"), $"user_id".as("s_user"),
        org.apache.spark.sql.functions.expr("unix_micros(ts)").as("s_ts"),
        $"value".as("s_value"), $"props".as("s_props"))
    val r = feed.filter($"s_id" % 2 === 0).union(feed.filter($"s_id" % 2 === 1))
    def attr(df: org.apache.spark.sql.DataFrame, n: String) =
      df.queryExecution.analyzed.output.find(_.name == n).get
    val exp = spark.experimental
    val saved = (exp.extraStrategies, exp.extraOptimizations)
    exp.extraStrategies = Nil
    exp.extraOptimizations = Nil
    try {
      val joined = GraftSqlBridge.ofRows(spark, AsOfJoinPlan(
          l.queryExecution.analyzed, r.queryExecution.analyzed,
          attr(l, "p_user"), attr(l, "p_ts"), attr(l, "p_id"),
          attr(r, "s_user"), attr(r, "s_ts"), attr(r, "s_id")))
        .select($"p_id", $"s_id", $"s_value")
      val plan = joined.queryExecution.sparkPlan
      assert(plan.collect { case e: AsOfJoinExec => e }.size === 1, plan)
      val reads = plan.collect { case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSeq }
      assert(reads.size === 3, plan)
      reads.foreach(cols => assert(!cols.contains("props"), s"scan reads $cols"))
    } finally {
      exp.extraStrategies = saved._1
      exp.extraOptimizations = saved._2
    }
  }

  test("AsOf.join leaves a session built with GraftExtensions untouched") {
    // the fixture names graft.GraftExtensions in spark.sql.extensions,
    // so the extension already plans the operator and AsOf.join must
    // not append a second strategy to the session
    import spark.implicits._
    val l = Seq((1L, 10L, 1L)).toDF("k", "t", "lid")
    val r = Seq((1L, 5L, 2L)).toDF("rk", "rt", "rid")
    assert(AsOf.join(l, r, "k", "t", "lid", "rk", "rt", "rid").count() === 1)
    assert(!spark.experimental.extraStrategies.contains(AsOfStrategy),
      spark.experimental.extraStrategies)
  }

  test("physical plan is the custom merge-scan exec with co-partitioned sides") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, sf0001)
    val l = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id".as("p_user"),
        org.apache.spark.sql.functions.expr("unix_micros(ts)").as("p_ts"))
    val r = ev.filter($"event_type" =!= "purchase")
      .select($"event_id".as("s_id"), $"user_id".as("s_user"),
        org.apache.spark.sql.functions.expr("unix_micros(ts)").as("s_ts"))
    val joined = AsOf.join(l, r, "p_user", "p_ts", "p_id", "s_user", "s_ts", "s_id")
    joined.count()
    val plan = joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val asofs = plan.collect { case e: AsOfJoinExec => e }
    assert(asofs.size === 1, s"expected AsOfJoinExec in:\n$plan")
    // EnsureRequirements must have co-partitioned both children
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size === 2, "both sides hash-exchange on the key")
  }
}
