package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize a dirty-data replica of a test SF dir: same tables, same
  * row counts, but a deterministic slice of rows carries the defects a
  * real 100 TB corpus always has — NULL / empty / whitespace-only
  * text, NULL languages and sources, NULL and all-zero embedding
  * vectors, NULL event payloads/values/types/users/timestamps, NULL
  * dimension flags and orphaned foreign keys. The driver-style oracle
  * compare (tools/selfcheck.py) then runs over the SAME dirty parquet,
  * so Spark and DuckDB must agree on dirty input too — any divergence
  * is a null/NaN-semantics bug that clean generator data can never
  * surface (the r8 silent-garbage class, hunted proactively).
  *
  * Slices key on id % 23 (prime, so no alignment with any mod-2^k
  * bucketing in the operators); each defect gets its own residue.
  *
  *   runMain graft.tools.DirtyData <srcSfDir> <outDir>
  */
object DirtyData {
  def main(args: Array[String]): Unit = {
    val Array(src, out) = args.take(2)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    // single-FILE layout, exactly like /root/testdata/sf*: the DuckDB
    // side of the parity check reads '<dir>/<table>.parquet' as a file
    def write(name: String, df: DataFrame): Unit =
      println(s"DIRTY $name -> ${graft.Scratch.writeSingleParquet(df, out, name)} rows")

    // dims pass through unchanged — fact-side dirt (orphaned FKs, NULL
    // join keys) already exercises every dim join's null path
    Seq("region", "nation", "supplier", "part", "customer").foreach { n =>
      write(n, spark.read.parquet(s"$src/$n.parquet"))
    }

    val docs = spark.read.parquet(s"$src/documents.parquet")
    write("documents", docs
      .withColumn("text",
        when(slice("doc_id", 3), lit(null: String))      // failed fetch
          .when(slice("doc_id", 5), lit(""))             // empty page
          .when(slice("doc_id", 7), lit(" \n\t  \n "))   // whitespace-only
          .otherwise(col("text")))
      .withColumn("n_chars",
        when(slice("doc_id", 3), lit(null: java.lang.Long))
          .when(slice("doc_id", 5), lit(0L))
          .when(slice("doc_id", 7), lit(7L)) // == length of the blob above
          .otherwise(col("n_chars")))
      .withColumn("lang",
        when(slice("doc_id", 11), lit(null: String)).otherwise(col("lang")))
      .withColumn("source",
        when(slice("doc_id", 13), lit(null: String)).otherwise(col("source"))))

    write("embeddings", embeddings(spark.read.parquet(s"$src/embeddings.parquet")))

    val ev = graft.Tables.eventsRaw(spark, src)
    write("events", ev
      .withColumn("props",
        when(slice("event_id", 3), lit(null: String)).otherwise(col("props")))
      .withColumn("value",
        when(slice("event_id", 5), lit(null: java.lang.Double))
          .otherwise(col("value")))
      .withColumn("event_type",
        when(slice("event_id", 7), lit(null: String))
          .otherwise(col("event_type")))
      .withColumn("user_id",
        when(slice("event_id", 11), lit(null: java.lang.Long))
          .otherwise(col("user_id")))
      .withColumn("ts",
        when(slice("event_id", 13), lit(null).cast(ev.schema("ts").dataType))
          .otherwise(col("ts"))))

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    write("lineitem", li
      .withColumn("l_returnflag",
        when(slice("l_orderkey", 3), lit(null: String))
          .otherwise(col("l_returnflag")))
      .withColumn("l_shipdate",
        when(slice("l_orderkey", 5), lit(null).cast(li.schema("l_shipdate").dataType))
          .otherwise(col("l_shipdate"))))

    write("orders", spark.read.parquet(s"$src/orders.parquet")
      .withColumn("o_custkey",                           // orphaned FK
        when(slice("o_orderkey", 3), lit(-1L)).otherwise(col("o_custkey")))
      .withColumn("o_orderpriority",
        when(slice("o_orderkey", 5), lit(null: String))
          .otherwise(col("o_orderpriority"))))

    spark.stop()
  }

  private def slice(idCol: String, r: Int) = pmod(col(idCol), lit(23)) === lit(r)

  /** The replica's embeddings: NULL, all-zero, NaN-, ±Inf- and
    * 1e20-element vectors and NULL labels, each on its own residue. */
  def embeddings(emb: DataFrame): DataFrame = emb
    .withColumn("embedding",
      when(slice("vec_id", 3), lit(null).cast("array<float>"))
        .when(slice("vec_id", 5),                      // all-zero vector
          expr("transform(embedding, x -> cast(0.0 as float))"))
        .when(slice("vec_id", 11),                     // NaN element:
          // the non-finite defect class — vec_valid drops these and
          // the oracle's ValidVecSql carries a matching
          // isfinite(list_sum(...)) term (a bare list_sum(...) > 0
          // fold would KEEP them, since both engines order NaN > 0,
          // and NaN then poisons every downstream kernel); this slice
          // makes the parity gate prove agreement
          expr("transform(embedding, (x, i) -> case when i = 0 then cast('NaN' as float) else x end)"))
        .when(slice("vec_id", 13),                     // ±Inf element (the
          // OTHER overflowed-encoder shape — an Inf passes a
          // NaN-only gate, then Inf−Inf dots go NaN downstream where
          // Spark's floor(NaN)→0 silently diverges from DuckDB's NaN)
          expr("transform(embedding, (x, i) -> case when i = 0 then cast('Infinity' as float)" +
            " when i = 1 then cast('-Infinity' as float) else x end)"))
        .when(slice("vec_id", 17),                     // finite-but-huge element:
          // 1e20 is a FINITE float whose
          // float-domain square overflows — the class where a
          // float-fold oracle silently diverged from the engine's
          // double-domain kernel. Both sides now DROP it against the
          // explicit VecNormCap bound (keeping it poisons 11 queries'
          // int64 fixed-point envelopes); this slice
          // pins that both engines agree on the drop.
          expr("transform(embedding, (x, i) -> case when i = 0 then cast(1.0e20 as float) else x end)"))
        .otherwise(col("embedding")))
    .withColumn("label",
      when(slice("vec_id", 7), lit(null: Integer)).otherwise(col("label")))
}
