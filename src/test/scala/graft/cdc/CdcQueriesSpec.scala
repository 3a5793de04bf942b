package graft.cdc

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture.{spark, sf0001}

class CdcQueriesSpec extends AnyFunSuite {

  test("pg_decode_permissive nulls corrupt records instead of failing") {
    import spark.implicits._
    val good = PgOutput.encode(PgOutput.Insert(1, Seq(Some("42"), None)))
    val df = Seq(good, Array[Byte](0x7f, 0x00), Array[Byte]()).toDF("raw")
    // strict mode fails the job on the corrupt record
    intercept[Exception] {
      df.select(expr("pg_decode(raw)")).collect()
    }
    // permissive mode quarantines it as NULL
    val out = df.select(expr("pg_decode_permissive(raw)").as("d")).collect()
    assert(out.count(_.isNullAt(0)) === 2)
    assert(out.count(!_.isNullAt(0)) === 1)
  }

  test("snapshot bootstrap: the overlap window and both provenances are non-vacuous") {
    import spark.implicits._
    val out = CdcQueries.snapshotBootstrap(spark, sf0001)
      .select($"user_id", $"from_snapshot").as[(Long, Boolean)].collect()
    // both provenances must appear, or the test feed isn't exercising
    // the snapshot/tail merge at all
    assert(out.exists(_._2) && out.exists(!_._2),
      s"one-sided bootstrap: ${out.count(_._2)} snapshot / ${out.count(!_._2)} tail")
    // the Debezium overlap window: some winning state must have seq in
    // (W_LO, W_HI] — present in BOTH the chunked snapshot and the
    // retained tail. If no key lands there, the dedup-on-overlap claim
    // is untested.
    val changes = ChangeFeed.fromEvents(spark, sf0001)
    val maxSeq = changes.agg(max($"seq")).as[Long].head()
    val (wLo, wHi) = (math.floor(maxSeq * 0.3).toLong, math.floor(maxSeq * 0.7).toLong)
    val winning = CdcQueries.snapshotBootstrap(spark, sf0001)
      .select($"last_seq").as[Long].collect()
    assert(winning.exists(s => s > wLo && s <= wHi),
      "no winning state inside the overlap window — merge dedup untested")
  }

  test("tx atomic apply: the cut-spanning transaction is excluded whole") {
    import spark.implicits._
    val changes = ChangeFeed.fromEvents(spark, sf0001)
    val maxSeq = changes.agg(max($"seq")).as[Long].head()
    val cut = math.floor(maxSeq * 0.6).toLong + 3
    // the boundary tx — changes on both sides of the cut — must exist,
    // else atomic apply degenerates to A19's plain seq-cut
    val spanning = changes.withColumn("xid", expr("seq div 10"))
      .groupBy($"xid").agg(min($"seq").as("lo"), max($"seq").as("hi"))
      .filter($"lo" <= cut && $"hi" > cut)
    assert(spanning.count() === 1, "no transaction spans the cut")
    // and its early changes must NOT surface in the result: every
    // applied seq belongs to a tx committing <= cut
    val applied = CdcQueries.txAtomicApply(spark, sf0001)
      .select($"last_seq", $"commit_seq").as[(Long, Long)].collect()
    assert(applied.forall(_._2 <= cut), "a torn transaction leaked")
    val spanLo = spanning.select($"lo").as[Long].head()
    assert(applied.forall { case (s, _) => s < spanLo || s > cut },
      "a change from the cut-spanning tx was applied")
  }

  test("schema evolution: value column appears/disappears by epoch") {
    import spark.implicits._
    val out = CdcQueries.schemaEvolution(spark, sf0001)
      .select($"seq", $"op", $"event_type", $"value").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val seq = r.getLong(0); val op = r.getString(1)
      val epoch = (seq / 1000) % 3
      if (op == "d") { assert(r.isNullAt(2) && r.isNullAt(3)) }
      else {
        // v0 has no `value` column; v2 dropped `event_type`
        assert(r.isNullAt(3) === (epoch == 0), s"seq $seq value")
        assert(r.isNullAt(2) === (epoch == 2), s"seq $seq event_type")
      }
    }
  }
}
