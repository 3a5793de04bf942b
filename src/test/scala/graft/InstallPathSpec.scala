package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.{spark, sf0001}

/** One install path: [[GraftExtensions]] puts every graft SQL function
  * into a session when the session is built, no query registers
  * anything when it runs, and the [[Graft.register]] fallback leaves a
  * session built with the extension as it is. */
class InstallPathSpec extends AnyFunSuite {

  private val names = Seq(
    "minhash_sig", "simhash64", "byte_sum", "phash32", "phash64",
    "fingerprint64", "cosine_sim", "fp_dot", "vec_valid", "lsh_bucket", "pq_codes",
    "pq_adc_lut", "pg_decode", "pg_decode_permissive", "pg_encode",
    "pg_array", "min_k", "min_k_by", "topk_agg", "mg_agg")

  /** Every registry entry's (info, builder) pair, by function name. */
  private def entries(s: org.apache.spark.sql.SparkSession) = {
    val reg = s.sessionState.functionRegistry
    reg.listFunction().map(id => id -> (reg.lookupFunction(id).get,
      reg.lookupFunctionBuilder(id).get)).toMap
  }

  private def same(a: Map[FunctionIdentifier, (AnyRef, AnyRef)],
      b: Map[FunctionIdentifier, (AnyRef, AnyRef)]): Boolean =
    a.keySet == b.keySet && a.forall { case (id, (info, build)) =>
      (b(id)._1 eq info) && (b(id)._2 eq build)
    }

  test("a new session resolves every graft function before any query runs") {
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    assert(GraftExtensions.functions.map(_._1.funcName).sorted === names.sorted)
    val missing = names.filterNot(n => reg.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not installed by GraftExtensions: $missing")
    // one scalar kernel, one pgoutput function and one aggregate
    val row = s.sql(
      """SELECT min_k(fingerprint64(t), 2) AS mk, max(size(pg_array(a))) AS n
        |FROM VALUES ('x', '{1,2}'), ('y', '{3}'), ('z', '{}') AS v(t, a)""".stripMargin)
      .collect().head
    val fps = Seq("x", "y", "z").map(t => graft.functions.HashOps.fingerprint64(
      org.apache.spark.unsafe.types.UTF8String.fromString(t)))
    assert(row.getSeq[Long](0) === fps.sorted.take(2))
    assert(row.getInt(1) === 2)
  }

  test("running queries leaves the session's function registry untouched") {
    val reg = spark.sessionState.functionRegistry
    def entry(n: String) = {
      val id = FunctionIdentifier(n)
      (reg.lookupFunction(id).get, reg.lookupFunctionBuilder(id).get)
    }
    val before = Seq("simhash64", "topk_agg", "pg_decode").map(entry)
    for (q <- Seq("dedup_simhash", "q_topk_per_group", "cdc_pgoutput_decode"))
      assert(SparkEntry.queries(q)(spark, sf0001).count() > 0, q)
    GraftSession.release(spark)
    val after = Seq("simhash64", "topk_agg", "pg_decode").map(entry)
    before.zip(after).foreach { case ((i0, b0), (i1, b1)) =>
      assert((i0 eq i1) && (b0 eq b1), s"${i0.getName} was re-registered")
    }
  }

  test("Graft.register on a session built with GraftExtensions changes nothing") {
    val funcs = entries(spark)
    val strategies = spark.experimental.extraStrategies
    Graft.register(spark)
    Graft.register(spark)
    assert(same(funcs, entries(spark)), "the fallback replaced registry entries")
    assert(spark.experimental.extraStrategies eq strategies)
  }
}
