package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize a SKEW replica of a test SF dir: same tables, same row
  * counts, same schemas, but deterministic slices of rows collapse
  * onto pathological hot values — the heavy-hitter shapes a real
  * 100 TB corpus always has and the uniform generator never makes:
  *
  *   - documents: a viral cohort (6/23 ≈ 26% of docs) shares ONE
  *     identical text + source — every near-dup family (minhash LSH,
  *     simhash, jaccard, containment, span, winnowing, phash) gets a
  *     single bucket/fingerprint class far above the 64-id star cap,
  *     so the capped-star + chained-fixpoint path must produce the
  *     SAME loser/cluster set as DuckDB's unconstrained all-pairs
  *     re-derivation — the §6 completeness claim, proven end-to-end;
  *   - embeddings: 3/23 of vectors become ONE identical vector (and
  *     one hot label) — max-tie ANN top-k, a degenerate IVF cell at
  *     the population cap, a knn-graph hub;
  *   - events: 5/23 of events collapse onto user_id 424242 — one CDC
  *     pk owning ~22% of the feed (giant SCD2 history, hot streaming
  *     state key), one sessionize/funnel partition at ~22% of rows;
  *     plus 2/23 forced to event_type 'click';
  *   - lineitem: 2/23 onto l_suppkey=1 and 2/23 onto l_partkey=1;
  *     orders: 3/23 onto o_custkey=1 — hot-dim-key joins and group-bys
  *     (the AQE-skew / salting claims).
  *
  * Values are overwritten in place (row counts and ids unchanged), and
  * the driver-style oracle compare (tools/selfcheck.py) runs over the
  * SAME skewed parquet — Spark and DuckDB must agree under skew, and
  * any cap/bound that silently DROPS data under a heavy hitter
  * diverges from the oracle's unconstrained SQL. Wall-time per query
  * (tools/Probe) is the quadratic-blowup check: an all-pairs path
  * hidden behind a usually-small group explodes in time, not just in
  * rows. Slices key on id % 23 (prime — no alignment with mod-2^k
  * bucketing), disjoint from nothing: this replica is skew-only, the
  * null/defect class lives in [[DirtyData]].
  *
  *   runMain graft.tools.SkewData <srcSfDir> <outDir>
  */
object SkewData {
  /** In-distribution viral text: same word soup the generator uses, so
    * shingles/BPE/langid see normal tokens — just 26% of the corpus
    * carrying the exact same ones. */
  val ViralText: String =
    "table scan join merge batch window order value row column part " +
    "hash agg filter query data spark line customer small fast slow " +
    "the a table scan join merge batch window order value row column " +
    "part hash agg filter query data spark line customer small fast " +
    "slow the a table scan join merge batch window order value row"

  /** Viral boilerplate FRAGMENT (r14): a shared intro prepended to
    * 5/23 of docs whose tails stay distinct — the quote-inclusion /
    * license-header shape. The containers are not near-dups of each
    * other, but every injected fragment of one is ≥0.9-contained in
    * ALL of them; at sf0.01 the cohort (~108 docs) exceeds C28's
    * ContainDfCap=100, so the df-capped candidate generation (capped
    * emission, hot-only-evidence pairs dropped, oracle-mirrored) is
    * exercised by the sweep rather than argued. In-distribution words,
    * like [[ViralText]]. */
  val ViralIntro: String =
    "notice header intro the a data spark query table row value part " +
    "scan join merge batch window order column hash agg filter line " +
    "customer small fast slow notice header intro the a data spark " +
    "query table row value part scan join"

  def main(args: Array[String]): Unit = {
    val Array(src, out) = args.take(2)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    def slice(idCol: String, rs: Int*) =
      pmod(col(idCol), lit(23)).isin(rs.map(_.asInstanceOf[Any]): _*)

    // single-FILE layout, exactly like /root/testdata/sf*: the DuckDB
    // side of the parity check reads '<dir>/<table>.parquet' as a file
    def write(name: String, df: DataFrame): Unit =
      println(s"SKEW $name -> ${graft.Scratch.writeSingleParquet(df, out, name)} rows")

    // dims pass through unchanged — skew lives on the fact side, where
    // the hot FKs point at real dim rows (custkey/suppkey/partkey 1)
    Seq("region", "nation", "supplier", "part", "customer").foreach { n =>
      write(n, spark.read.parquet(s"$src/$n.parquet"))
    }

    val docs = spark.read.parquet(s"$src/documents.parquet")
    write("documents", docs
      .withColumn("text",
        when(slice("doc_id", 0, 1, 2, 3, 4, 5), lit(ViralText))
          .when(slice("doc_id", 6, 7, 8, 9, 10),
            concat(lit(ViralIntro), lit(" "), col("text")))
          .otherwise(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("lang",
        when(slice("doc_id", 0, 1, 2, 3, 4, 5), lit("en"))
          .otherwise(col("lang")))
      .withColumn("source",
        when(slice("doc_id", 0, 1, 2, 3, 4, 5), lit("viral-hub"))
          .otherwise(col("source"))))

    // one identical vector (index ramp — nonzero norm, distinct dims)
    // for 3/23 of ids, and a hot label on the same slice
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    write("embeddings", emb
      .withColumn("embedding",
        when(slice("vec_id", 0, 1, 2),
          expr("transform(embedding, (x, i) -> cast(0.25 + 0.01 * i as float))"))
          .otherwise(col("embedding")))
      .withColumn("label",
        when(slice("vec_id", 0, 1, 2), lit(7)).otherwise(col("label"))))

    val ev = graft.Tables.eventsRaw(spark, src)
    write("events", ev
      .withColumn("user_id",
        when(slice("event_id", 0, 1, 2, 3, 4), lit(424242L))
          .otherwise(col("user_id")))
      .withColumn("event_type",
        when(slice("event_id", 5, 6), lit("click"))
          .otherwise(col("event_type"))))

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    write("lineitem", li
      .withColumn("l_suppkey",
        when(slice("l_orderkey", 0, 1), lit(1L)).otherwise(col("l_suppkey")))
      .withColumn("l_partkey",
        when(slice("l_orderkey", 2, 3), lit(1L)).otherwise(col("l_partkey"))))

    write("orders", spark.read.parquet(s"$src/orders.parquet")
      .withColumn("o_custkey",
        when(slice("o_orderkey", 0, 1, 2), lit(1L))
          .otherwise(col("o_custkey"))))

    spark.stop()
  }
}
