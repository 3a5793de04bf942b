package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.spark

/** Empty-input contract (r11 sweep, tools/EmptyData + EmptySweep;
  * softened r12): zero-row tables are a routine production state
  * (fresh CDC slot, new tenant, filtered-to-nothing partition) and
  * must yield either a clean — usually empty — result or a NAMED
  * contract error, never a nameless crash. r12 softened two of r11's
  * three named contracts to empty output (ann_ivf_pq: empty corpus →
  * zero result rows, the under-trained 1..63 middle ground still
  * raises by name; text_bpe_apply: pair exhaustion stops training
  * early, matching the oracle's empty-winner CROSS JOIN) — a 100 TB
  * stage fed an empty partition should flow, not abort. The full gate
  * is the sweep (171 queries, all clean); this spec pins the cheap
  * representative fixes so a regression fails in `sbt test` without
  * the sweep. */
class EmptyInputSpec extends AnyFunSuite {

  private lazy val emptyDir: String = {
    val out = graft.Scratch.dir("graft_empty_sf").toString
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { n =>
      spark.read.parquet(s"${graft.SparkFixture.sf0001}/$n.parquet")
        .limit(0).coalesce(1).write.mode("overwrite").parquet(s"$out/$n.parquet")
    }
    graft.Tables.eventsRaw(spark, graft.SparkFixture.sf0001).limit(0)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/events.parquet")
    out
  }

  private def rows(q: String): Array[org.apache.spark.sql.Row] = {
    val r = graft.SparkEntry.queries(q)(spark, emptyDir).collect()
    spark.catalog.clearCache()
    r
  }

  test("empty corpus: moment/power-iteration ops yield empty frames") {
    assert(rows("emb_anisotropy").isEmpty)   // was: empty.max crash
    assert(rows("emb_whiten").isEmpty)       // via the topPc guard
  }

  test("empty feed: layout/shard/curve ops run with defined nulls") {
    assert(rows("pipeline_zorder_layout").isEmpty)  // was: getLong(null)
    assert(rows("pipeline_shard_manifest").isEmpty) // was: UNABLE_TO_INFER_SCHEMA
    val curve = rows("dedup_survival_curve")        // was: ANSI divide-by-zero
    assert(curve.length === 5 && curve.forall(_.isNullAt(4)),
      "survival curve must keep its 5-threshold spine with NULL ppm")
  }

  test("empty feed: lag metrics keep SQL's global TOTAL row") {
    val lag = rows("cdc_lag_metrics") // was: 0 rows vs the oracle's 1
    assert(lag.length === 1 && lag(0).getString(0) === "TOTAL"
      && lag(0).getLong(1) === 0L)
  }

  test("empty corpus: trainer ops emit zero rows instead of raising (r12)") {
    assert(rows("ann_ivf_pq").isEmpty)      // was: named 0-valid-vectors error
    assert(rows("text_bpe_apply").isEmpty)  // was: named no-pairs error
  }

  test("empty feed: the upsert-sink queries read an empty table") {
    // two empty micro-batches commit two empty manifests: the table
    // exists and holds nothing, so compaction and time travel both
    // return zero rows (was: cdc_compaction's named "no snapshot")
    assert(rows("cdc_compaction").isEmpty)
    assert(rows("cdc_time_travel").isEmpty)
  }
}
