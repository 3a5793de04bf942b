package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.cdc.CdcStream
import graft.Tables.r4

/** C-series registry: training-data pipeline operators (SURVEY.md §2.C)
  * with their DuckDB oracles. C3 shares C2's oracle (the LSH path must
  * reproduce the exact near-dup pair set); C4/C7/C11 are rows-only
  * (non-SQL-expressible hashes) and spec-tested in graft.ops.*Spec. */
object PipelineQueries {

  import org.apache.spark.sql.functions._

  // --------------------------------------------------------------- C14
  /** The whole cleaning pipeline as ONE declarative plan — what a
    * training-data team actually ships: exact dedup (collapse injected
    * copies) → near-dup removal (drop the higher id of every Jaccard
    * ≥ 0.8 pair) → language gate (marker-en) → length gate → PII scrub
    * → content hash. Catalyst fuses the narrow stages; the only wide
    * ops are the dedup shuffles already analyzed in C1–C3. */
  def pipelineCleanCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val kept = Dedup.dedupExact(s, dir)
      .select($"keep_doc_id".as("doc_id"))
    // r9 verdict item 3: the gate runs C3's LSH path (the 100 TB plan);
    // the oracle keeps the C2 exact form under DedupSpec's equivalence
    val nearDupLosers = Dedup.nearDupLosers(s, dir)
    val en = TextOps.textLangid(s, dir)
      .filter($"pred_lang" === "en").select($"doc_id")
    val docs = graft.Tables.table(s, dir, "documents")
      .select($"doc_id", $"text", size(split($"text", " ")).cast("long").as("n_words"))
      .filter($"n_words" >= 20 && $"n_words" <= 95)
    docs
      .join(kept, "doc_id")
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .join(en, "doc_id")
      .select($"doc_id", $"n_words",
        // start-guarded email pattern (run start OR \G, the previous
        // match's end): linear on long alphanumeric runs under Java's
        // backtracking engine, match-identical to the oracle's plain
        // RE2 pattern — see TextOps.textScrub for the argument and
        // RegexScrubSpec for the abutting-email adversary
        md5(regexp_replace(regexp_replace($"text",
          "(?:(?<![a-z0-9])|\\G)[a-z0-9]+@[a-z]+\\.[a-z]+", "<EMAIL>"),
          "555-[0-9]+", "<PHONE>")).as("text_md5"))
      .orderBy($"doc_id")
  }
  val pipelineCleanCorpusSql: String = {
    s"""WITH ${Dedup.dupFeedSql},
       |kept AS (SELECT min(doc_id) AS doc_id FROM feed GROUP BY md5(text)),
       |${Dedup.shingledSql},
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
       |co AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |       FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
       |losers AS (SELECT DISTINCT d2 AS doc_id
       |  FROM co JOIN sz x ON x.doc_id = d1 JOIN sz y ON y.doc_id = d2
       |  WHERE floor(inter * 1.0 / (x.n + y.n - inter) * 10000 + 0.5) / 10000 >= 0.8),
       |en AS (SELECT doc_id FROM (${TextOps.textLangidSql.replace("ORDER BY doc_id", "")})
       |  WHERE pred_lang = 'en'),
       |base AS (SELECT doc_id, text, len(string_split(text, ' ')) AS n_words
       |  FROM documents
       |  WHERE len(string_split(text, ' ')) BETWEEN 20 AND 95)
       |SELECT b.doc_id, b.n_words,
       |  md5(regexp_replace(regexp_replace(b.text,
       |    '[a-z0-9]+@[a-z]+\\.[a-z]+', '<EMAIL>', 'g'),
       |    '555-[0-9]+', '<PHONE>', 'g')) AS text_md5
       |FROM base b
       |JOIN kept k ON b.doc_id = k.doc_id
       |JOIN en e ON b.doc_id = e.doc_id
       |WHERE b.doc_id NOT IN (SELECT doc_id FROM losers)
       |ORDER BY b.doc_id""".stripMargin
  }

  // --------------------------------------------------------------- C17
  /** Mixture sampling: build a training mix by keeping a per-source
    * fraction of documents, decided by a *deterministic* content-free
    * hash coin (first md5 byte of the doc id) — reproducible across
    * engines and runs, no RNG state, embarrassingly parallel, and the
    * mix is stable under corpus growth (a doc's fate never changes).
    * Even sources keep 1/2, odd sources keep 1/4. */
  def pipelineMixSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val coin = substring(md5(concat(lit("mix:"), $"doc_id".cast("string"))), 1, 2)
    // digit-free sources (e.g. a crawl hub with no numeric suffix) have
    // no parity — they take the conservative odd-source rate. NULLIF
    // keeps the cast defined on both engines (DuckDB's plain CAST(''
    // AS INT) is a hard error — surfaced by the skew-replica sweep,
    // whose viral cohort carries source='viral-hub').
    val srcNum = nullif(regexp_replace($"source", "[^0-9]", ""), lit("")).cast("int")
    graft.Tables.table(s, dir, "documents")
      .withColumn("keep", when(srcNum % 2 === 0, coin < "80").otherwise(coin < "40"))
      .filter($"keep")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_sampled"), sum($"n_chars").as("sampled_chars"))
      .orderBy($"source")
  }
  val pipelineMixSampleSql: String =
    """SELECT source, count(*) AS n_sampled,
      |  CAST(sum(n_chars) AS BIGINT) AS sampled_chars
      |FROM documents
      |WHERE CASE WHEN TRY_CAST(regexp_replace(source, '[^0-9]', '', 'g') AS INT) % 2 = 0
      |  THEN substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 2) < '80'
      |  ELSE substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 2) < '40' END
      |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- C16
  /** Symmetric int8 vector quantization (the compression step before
    * shipping embeddings at corpus scale): per-vector scale =
    * max |x|, q = round(x·127/scale), plus reconstruction-error stats.
    * All narrow higher-order-function arithmetic, identical floor-based
    * rounding on both engines. */
  def embQuantize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r6 = (c: org.apache.spark.sql.Column) => floor(c * 1000000 + 0.5) / 1000000
    graft.Tables.table(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      // valid-vector contract (Ann.validVec): int8 quantization is
      // undefined at scale 0 (x·127/0 ANSI-aborts the corpus pass) and
      // on NULL vectors; Ann.ValidVecSql verbatim in the oracle
      .filter(Ann.validVec($"v"))
      .withColumn("scale", array_max(transform($"v", x => abs(x))))
      .withColumn("errs", transform($"v", x =>
        abs(x - floor(x * 127 / $"scale" + 0.5) * $"scale" / 127)))
      .select($"vec_id", r6($"scale").as("scale"),
        r6(array_max($"errs")).as("max_abs_err"),
        r6(aggregate($"errs", lit(0.0), (acc, e) => acc + e * e) / size($"v"))
          .as("mse"))
      .orderBy($"vec_id")
  }
  val embQuantizeSql: String =
    s"""WITH n AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE ${Ann.ValidVecSql}),
      |q AS (SELECT vec_id, v,
      |    list_max(list_transform(v, x -> abs(x))) AS scale FROM n),
      |e AS (SELECT vec_id, scale, v,
      |    list_transform(v, x ->
      |      abs(x - floor(x * 127 / scale + 0.5) * scale / 127)) AS errs
      |  FROM q)
      |SELECT vec_id,
      |  floor(scale * 1000000 + 0.5) / 1000000 AS scale,
      |  floor(list_max(errs) * 1000000 + 0.5) / 1000000 AS max_abs_err,
      |  floor(list_sum(list_transform(errs, x -> x * x)) / len(v)
      |    * 1000000 + 0.5) / 1000000 AS mse
      |FROM e ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- C15
  /** Dataset-card stats: per-source corpus aggregates (doc counts,
    * language mix, size and token totals) — one shuffle on `source`. */
  def corpusStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.table(s, dir, "documents")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct($"lang").as("n_langs"),
        sum($"n_chars").as("total_chars"),
        sum(size(split($"text", " ")).cast("long")).as("total_ws_tokens"),
        (floor(avg($"n_chars") * 100 + 0.5) / 100).as("avg_chars"))
      .orderBy($"source")
  }
  val corpusStatsSql: String =
    """SELECT source, count(*) AS n_docs,
      |  count(DISTINCT lang) AS n_langs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
      |  floor(avg(n_chars) * 100 + 0.5) / 100 AS avg_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- C35
  /** Full dataset-card row per source — the numbers a training-data
    * release publishes, in one pass: volume (docs/tokens/chars),
    * length distribution (median + short/long tails), the exact-dup
    * rate within the source, and the corpus mean of C30's quality
    * score. Upgrades C15's volume stats with dedup + quality +
    * order-statistic columns, all cross-engine deterministic (integer
    * avgs are sum-then-divide in both engines; the score mean is a
    * 1e-6 fixed-point BIGINT sum like C24; the median is the
    * exact-percentile parity B18 pins).
    *
    * 100 TB: one shuffle on source; every agg combines map-side except
    * count-distinct (standard two-phase expansion on (source, md5))
    * and the exact median — whose approx swap C32 proves. */
  def pipelineDatasetCard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = graft.Tables.table(s, dir, "documents")
      .select($"source", $"n_chars", md5($"text").as("h"),
        size(split($"text", " ")).cast("long").as("toks"),
        (length($"text") * lit(1.0) / size(split($"text", " "))).as("score"))
    base.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"toks").as("n_tokens"),
        sum($"n_chars").as("n_chars_total"),
        (floor(avg($"toks") * 100 + 0.5) / 100).as("avg_tokens"),
        r4(expr("percentile(toks, 0.5)")).as("p50_tokens"),
        (count(lit(1)) - count_distinct($"h")).as("n_dup_docs"),
        sum(when($"toks" < 20, 1L).otherwise(0L)).as("n_short"),
        sum(when($"toks" > 80, 1L).otherwise(0L)).as("n_long"),
        sum(floor($"score" * 1000000 + 0.5).cast("long")).as("sfp"))
      .select($"source", $"n_docs", $"n_tokens", $"n_chars_total",
        $"avg_tokens", $"p50_tokens", $"n_dup_docs", $"n_short", $"n_long",
        r4($"sfp".cast("double") / (lit(1000000L) * $"n_docs").cast("double"))
          .as("mean_score"))
      .orderBy($"source")
  }
  val pipelineDatasetCardSql: String =
    """WITH base AS (SELECT source, n_chars, md5(text) AS h,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
      |    len(text) * 1.0 / len(string_split(text, ' ')) AS score
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(toks) AS BIGINT) AS n_tokens,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
      |  floor(avg(toks) * 100 + 0.5) / 100 AS avg_tokens,
      |  floor(quantile_cont(toks, 0.5) * 10000 + 0.5) / 10000 AS p50_tokens,
      |  count(*) - count(DISTINCT h) AS n_dup_docs,
      |  CAST(sum(CASE WHEN toks < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
      |  CAST(sum(CASE WHEN toks > 80 THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
      |  floor(CAST(sum(CAST(floor(score * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / CAST(1000000 * count(*) AS DOUBLE) * 10000 + 0.5) / 10000
      |    AS mean_score
      |FROM base GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- C26
  /** Training-shard export: the final writer stage. Every document is
    * assigned a shard by a deterministic md5 coin (first hex nibble →
    * 16 shards — RNG-free, stable under corpus growth, same trick as
    * C17's sampling coin), physically written `partitionBy("shard")`,
    * and the manifest (docs / whitespace tokens / chars per shard) is
    * computed FROM THE WRITTEN FILES — so the oracle checks the real
    * export layout end-to-end, not just a would-be plan.
    * 100 TB: one partitioned write (shard = the output partition
    * column), manifest = one scan of the written table; md5-sharding
    * balances within ~√n like any uniform hash. */
  def pipelineShardManifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = graft.Scratch.dir("graft_shards").toString
    val sharded = graft.Tables.table(s, dir, "documents")
      .withColumn("shard",
        substring(md5(concat(lit("shard:"), $"doc_id".cast("string"))), 1, 1))
    sharded.write.mode("overwrite").partitionBy("shard").parquet(out)
    // explicit schema on the read-back: an EMPTY corpus writes zero
    // partition dirs and schema inference fails with
    // UNABLE_TO_INFER_SCHEMA (r11 empty-input sweep); the declared
    // schema also makes `shard` resolve as the partition column
    s.read.schema(sharded.schema).parquet(out)
      .groupBy($"shard".cast("string").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split($"text", " ")).cast("long")).as("n_tokens"),
        sum($"n_chars").as("n_chars_total"))
      .orderBy($"shard")
  }
  val pipelineShardManifestSql: String =
    """SELECT substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 1)
      |    AS shard,
      |  count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total
      |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin

  // --------------------------------------------------------------- C27
  /** Canonical-corpus materialization — C22 APPLIED: every connected
    * component keeps only its canonical (min-id) member; the rest are
    * dropped via a left-anti join on the cluster labels. This is the
    * step that actually shrinks the corpus after pair mining + cluster
    * resolution; output is the per-source keep/drop accounting a
    * dataset card reports. Cost = C22 + one broadcast-sized anti join
    * (the drop list is |dup members|, tiny relative to the corpus). */
  /** Drop-list rows at or below which [[pipelineCanonicalCorpus]]
    * broadcast-hints its documents⋈drop join (r16 verdict task 7). The
    * drop list is (doc_id, bool) — ~32 B/row framed, so 4M rows is a
    * ~128 MB hash relation: comfortably inside driver/executor budgets
    * (guide §3.1: "a few hundred MB is usually fine", hard cap 8 GB)
    * while far above every test SF (≤ thousands of rows). ABOVE the
    * gate the join stays SMJ: on a heavily-duplicated 100 TB crawl the
    * drop list is data-proportional (can be billions of rows) and
    * broadcasting it would kill the driver — the gate reads the COUNT
    * the checkpointed labels already paid for, so no size estimate is
    * trusted (the labels RDD carries none; that garbage estimate is
    * exactly why the planner never elected the broadcast itself). */
  val DropBroadcastMaxRows = 4000000L

  def pipelineCanonicalCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val drop = Dedup.dedupCluster(s, dir)
      .filter($"doc_id" =!= $"canonical_id" && $"doc_id" < Dedup.DupShift)
      .select($"doc_id", lit(true).as("is_dup"))
    // size-gated broadcast election (guide §3.1: explicit hint where
    // estimates are wrong): the count is one cheap job over the
    // already-materialized (localCheckpoint'ed) labels — Catalyst
    // prunes the cluster_size window under it — and below the gate the
    // hint removes the SMJ's corpus-side exchange+sort entirely (the
    // documents table aggregates by source straight off the scan).
    val dropRows = drop.count()
    val dropSide = if (dropRows <= DropBroadcastMaxRows) broadcast(drop) else drop
    graft.Tables.table(s, dir, "documents")
      .join(dropSide, Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(sum(when($"is_dup".isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when($"is_dup".isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        sum(when($"is_dup".isNull, $"n_chars").otherwise(0L)).as("chars_kept"))
      .orderBy($"source")
  }
  val pipelineCanonicalCorpusSql: String =
    s"""WITH RECURSIVE ${Dedup.clusterLabelCtes},
       |drp AS (SELECT doc_id FROM lbl
       |        WHERE doc_id <> canonical_id AND doc_id < ${Dedup.DupShift})
       |SELECT d.source,
       |  CAST(sum(CASE WHEN drp.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  CAST(sum(CASE WHEN drp.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_dropped,
       |  CAST(sum(CASE WHEN drp.doc_id IS NULL THEN d.n_chars ELSE 0 END)
       |    AS BIGINT) AS chars_kept
       |FROM documents d LEFT JOIN drp ON d.doc_id = drp.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // --------------------------------------------------------------- C30
  /** Corpus-quantile quality gate: keep documents whose score sits
    * inside the corpus's exact [p10, p90] band — the "trim both tails"
    * filter every curation pipeline applies, with the threshold coming
    * from a corpus-global order statistic rather than a constant.
    * Score = mean token length (chars/words — cheap, deterministic,
    * continuous); the gate pattern is the point, the score is
    * pluggable.
    *
    * Determinism: score is one shared IEEE division; both score and
    * thresholds are 4-dp fixed-pointed before comparison, so the band
    * test is bit-identical across engines (q_percentiles already pins
    * exact-percentile parity with DuckDB's quantile_cont).
    *
    * 100 TB: pass 1 = one exact-percentile aggregate to a ONE-ROW
    * frame (Spark's percentile buffers per-partition and merges — no
    * global sort); pass 2 = broadcast that row and band-classify at
    * scan parallelism; the only shuffle is the final per-source
    * accounting rollup. At extreme scale the exact percentile swaps
    * for B21's mergeable approx sketch — same plan shape. */
  def pipelineQualityGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = graft.Tables.table(s, dir, "documents")
      .select($"doc_id", $"source", $"n_chars",
        (length($"text") * lit(1.0) / size(split($"text", " ")))
          .as("score"))
    val th = base.agg(
      expr("percentile(score, 0.1)").as("p10"),
      expr("percentile(score, 0.9)").as("p90"))
    base.crossJoin(broadcast(th))
      .select($"source", $"n_chars",
        when(r4($"score") < r4($"p10"), "low")
          .when(r4($"score") > r4($"p90"), "high")
          .otherwise("keep").as("band"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"band" === "keep", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"band" === "low", 1L).otherwise(0L)).as("n_low"),
        sum(when($"band" === "high", 1L).otherwise(0L)).as("n_high"),
        sum(when($"band" === "keep", $"n_chars").otherwise(0L))
          .as("kept_chars"))
      .orderBy($"source")
  }
  val pipelineQualityGateSql: String =
    """WITH base AS (SELECT doc_id, source, n_chars,
      |    len(text) * 1.0 / len(string_split(text, ' ')) AS score
      |  FROM documents),
      |th AS (SELECT quantile_cont(score, 0.1) AS p10,
      |    quantile_cont(score, 0.9) AS p90 FROM base),
      |b AS (SELECT source, n_chars,
      |    CASE
      |      WHEN floor(score * 10000 + 0.5) / 10000 <
      |           floor(p10 * 10000 + 0.5) / 10000 THEN 'low'
      |      WHEN floor(score * 10000 + 0.5) / 10000 >
      |           floor(p90 * 10000 + 0.5) / 10000 THEN 'high'
      |      ELSE 'keep' END AS band
      |  FROM base CROSS JOIN th)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN band = 'keep' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  CAST(sum(CASE WHEN band = 'low' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_low,
      |  CAST(sum(CASE WHEN band = 'high' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_high,
      |  CAST(sum(CASE WHEN band = 'keep' THEN n_chars ELSE 0 END)
      |    AS BIGINT) AS kept_chars
      |FROM b GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- C32
  /** The documented 100 TB swap for C30, proven green: thresholds from
    * `percentile_approx` (GK-style mergeable sketch, bounded memory
    * per partition) instead of exact `percentile` (buffers all values
    * in the agg). Asserted B21-style with the RANK-tolerance contract
    * the sketch actually guarantees: the approx p10 must fall between
    * the exact p05 and p15 values (p90 between p85/p95). Exact
    * percentiles are the oracle columns (engine parity pinned by B18/
    * C30); the booleans pin the contract per source.
    *
    * 100 TB: one map-side-combined sketch agg per source — partial
    * sketches merge, nothing buffers the full value list; the same
    * broadcast-then-classify plan as C30 hangs off the sketch row. */
  def pipelineQualityGateApprox(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.table(s, dir, "documents")
      .select($"source",
        (length($"text") * lit(1.0) / size(split($"text", " ")))
          .as("score"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        r4(expr("percentile(score, 0.1)")).as("p10_exact"),
        r4(expr("percentile(score, 0.9)")).as("p90_exact"),
        expr("percentile_approx(score, 0.1, 1000)").as("ap10"),
        expr("percentile_approx(score, 0.9, 1000)").as("ap90"),
        expr("percentile(score, 0.05)").as("lo10"),
        expr("percentile(score, 0.15)").as("hi10"),
        expr("percentile(score, 0.85)").as("lo90"),
        expr("percentile(score, 0.95)").as("hi90"))
      .select($"source", $"n_docs", $"p10_exact", $"p90_exact",
        ($"ap10" >= $"lo10" && $"ap10" <= $"hi10").as("p10_ok"),
        ($"ap90" >= $"lo90" && $"ap90" <= $"hi90").as("p90_ok"))
      .orderBy($"source")
  }
  val pipelineQualityGateApproxSql: String =
    """WITH base AS (SELECT source,
      |    len(text) * 1.0 / len(string_split(text, ' ')) AS score
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  floor(quantile_cont(score, 0.1) * 10000 + 0.5) / 10000 AS p10_exact,
      |  floor(quantile_cont(score, 0.9) * 10000 + 0.5) / 10000 AS p90_exact,
      |  TRUE AS p10_ok, TRUE AS p90_ok
      |FROM base GROUP BY source ORDER BY source""".stripMargin

  /** True once `tableDir` holds a committed `<column>=` partition dir. */
  private def hasParts(tableDir: String, column: String): Boolean = {
    val files = new java.io.File(tableDir).listFiles()
    files != null && files.exists(_.getName.startsWith(column + "="))
  }

  /** Declared schema of the staged (doc_id, text) feeds C39 and C67
    * stream. */
  private val docTextSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType)))

  /** Declared schema for the ingest table — pfx is a hex digit, so a
    * history containing only 0-9 partitions would otherwise make Spark
    * INFER the partition column as integer and route the isin filter +
    * anti-join key through implicit casts; declaring pfx STRING keeps
    * the keys string-vs-string regardless of which partitions exist. */
  private val ingestSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text_md5",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_chars",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("pfx",
      org.apache.spark.sql.types.StringType)))

  /** History read pruned to the digest prefixes a batch touches — the
    * C39 anti-join's right side, factored out so PlanAuditSpec can
    * assert the prefix predicate lands in the scan's PartitionFilters
    * (i.e. the per-batch anti-join reads a slice of history, not all
    * of it). */
  def prunedHistory(sp: SparkSession, tableDir: String,
      pfxs: Seq[String]): DataFrame =
    sp.read.schema(ingestSchema).parquet(tableDir)
      .filter(col("pfx").isin(pfxs: _*))

  // --------------------------------------------------------------- C39
  /** Streaming corpus ingestion end-to-end — the pipeline as it runs
    * in production: documents arrive in micro-batches (file source,
    * one file per trigger — the Kafka-backfill shape), and each batch
    * is quality-gated (≥ 15 words — drops ~5% at every SF, non-vacuous), exact-deduped within the batch
    * (min doc_id per digest), deduped AGAINST EVERYTHING ALREADY
    * INGESTED (left-anti join on md5 digest vs the sink's own state),
    * and appended to the corpus table.
    *
    * The history anti-join is also the exactly-once argument: a
    * replayed micro-batch re-derives the same digests, anti-joins
    * against its own previous append, and writes nothing — ingestion
    * is idempotent without a transaction log.
    *
    * Feed: dupFeed (every 10th doc re-added at +1M id), batched in
    * doc_id ORDER (batches 0–2 = contiguous id thirds of the
    * originals, batch 3 = the +1M copies) — arrival order is id
    * order, so first-seen == min doc_id even when two ORIGINALS share
    * a text (sf0.1 has such natural exact dups; an id-unordered batch
    * split ingests the wrong copy first) and the batch oracle stays
    * closed-form. The range-cut scalar is bounded harness prep, like
    * A26's median split.
    *
    * 100 TB: per batch, one digest shuffle for the window + an
    * anti-join whose right side is digests-only AND partition-pruned:
    * the table is written partitionBy(digest-prefix), the batch
    * collects its distinct prefixes (bounded — ≤16 values of
    * metadata), and the history read filters to exactly those
    * partitions (PlanAuditSpec asserts the scan's partition filters).
    * A steady-state micro-batch touches a prefix subset, so the
    * anti-join reads O(batch-share of history), not O(history); the
    * text column never shuffles. State is the table itself — no
    * separate state store to size. */
  def pipelineStreamIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val feed = Dedup.dupFeed(s, dir)
    // Option decode: max() on an EMPTY feed is NULL — 0 cuts make every
    // batch empty, so the stream runs 4 empty batches → empty result,
    // the defined semantics
    val maxBase = feed.filter($"doc_id" < Dedup.DupShift)
      .agg(max($"doc_id")).as[Option[Long]].head().getOrElse(0L)
    val (cut1, cut2) = (maxBase / 3, 2 * maxBase / 3)
    // batch order is load-bearing (first-seen == min doc_id); null
    // doc_ids are dropped by name, since otherwise() would route them
    // into the last batch
    val inDir = CdcStream.stageBatches(feed.filter($"doc_id".isNotNull),
      when($"doc_id" <= cut1, "00")
        .when($"doc_id" > cut1 && $"doc_id" <= cut2, "01")
        .when($"doc_id" > cut2 && $"doc_id" < Dedup.DupShift, "02")
        .otherwise("03"),
      Seq("00", "01", "02", "03"), "graft_ingest")
    val tableDir = graft.Scratch.dir("graft_ingest_tbl").toString
    val q = s.readStream.schema(docTextSchema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
      .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        val sp = batch.sparkSession
        val gated = batch
          .filter(size(split(col("text"), " ")) >= 15)
          .withColumn("text_md5", md5(col("text")))
          .withColumn("pfx", substring(col("text_md5"), 1, 1))
        val w = Window.partitionBy(col("text_md5")).orderBy(col("doc_id"))
        val batchKept = gated
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        val fresh =
          if (!hasParts(tableDir, "pfx")) batchKept
          else {
            // bounded metadata: the set of digest prefixes this batch
            // touches (≤16 one-char values) prunes the history scan to
            // matching partitions before the anti-join
            val pfxs = batchKept.select(col("pfx")).distinct()
              .collect().map(_.getString(0)).toSeq
            batchKept.join(
              prunedHistory(sp, tableDir, pfxs)
                .select(col("pfx"), col("text_md5")),
              Seq("pfx", "text_md5"), "left_anti")
          }
        fresh.select(col("pfx"), col("doc_id"), col("text_md5"),
            length(col("text")).cast("long").as("n_chars"))
          .write.mode("append").partitionBy("pfx").parquet(tableDir)
        ()
      }.start()
    CdcStream.drain(q)
    s.read.schema(ingestSchema).parquet(tableDir)
      .select($"doc_id", $"text_md5", $"n_chars")
      .orderBy($"doc_id")
  }
  val pipelineStreamIngestSql: String =
    s"""WITH ${Dedup.dupFeedSql},
       |g AS (SELECT doc_id, text, md5(text) AS text_md5 FROM feed
       |  WHERE len(string_split(text, ' ')) >= 15)
       |SELECT min(doc_id) AS doc_id, text_md5,
       |  CAST(min(length(text)) AS BIGINT) AS n_chars
       |FROM g GROUP BY text_md5 ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C67
  private val neardupKeptSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_sh",
      org.apache.spark.sql.types.LongType)))
  /** C67's ONE history table of band and shingle rows: band rows
    * carry null `sh`, shingle rows null `band`/`bh` — parquet stores
    * the null columns for free, the rows land in DISJOINT partitions
    * (`p` = "b"+bh%16 for bands, "s"+doc_id%8 for shingles) so either
    * read path scans only its own files, and the per-trigger history
    * append is ONE write job (per-batch fixed cost is this query's
    * whole story at harness scale). */
  private val neardupHistSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("band",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("bh",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("sh", org.apache.spark.sql.types
      .ArrayType(org.apache.spark.sql.types.StringType)),
    org.apache.spark.sql.types.StructField("p",
      org.apache.spark.sql.types.StringType)))

  /** C67's band-history read pruned to the prefixes a batch's bands
    * hash into — factored like [[prunedHistory]] so PlanAuditSpec can
    * assert the isin predicate lands in the scan's PartitionFilters
    * (the per-batch band join reads a slice of history, not all of
    * it). Schemas declared so digit-valued partition values can't be
    * inferred as integers. */
  private[graft] def prunedBands(sp: SparkSession, tableDir: String,
      pfxs: Seq[String]): DataFrame =
    sp.read.schema(neardupHistSchema).parquet(tableDir)
      .filter(col("p").isin(pfxs.map("b" + _): _*))
      .select(col("doc_id"), col("band"), col("bh"))

  /** C67's shingle-history read pruned to the id buckets of the
    * batch's candidate partners — only confirmed-candidate shingle
    * rows are ever fetched. */
  private[graft] def prunedShingles(sp: SparkSession, tableDir: String,
      dpfxs: Seq[String]): DataFrame =
    sp.read.schema(neardupHistSchema).parquet(tableDir)
      .filter(col("p").isin(dpfxs.map("s" + _): _*))
      .select(col("doc_id"), col("sh"))

  /** Streaming NEAR-dup ingest — C39's exact-digest gate upgraded to
    * MinHash/LSH: each micro-batch shingles its docs, bands their
    * 128-hash signatures (16×8), mines within-batch candidates AND
    * joins the batch's bands against the banded HISTORY table, exact-
    * Jaccard-confirms every candidate (estimates never decide), and
    * drops a doc when a confirmed ≥0.8 partner with a lower id has
    * been seen. SEEN policy on purpose: every batch doc's bands and
    * shingles append to history whether kept or dropped, so "dropped
    * iff any lower-id confirmed partner" holds globally and the
    * result is batch-cut-invariant (and SQL-derivable — a kept-only
    * history would need the greedy-MIS recursion no oracle can run).
    *
    * Scale: band exchanges carry (doc_id, band, bh) only; the history
    * band join prunes on bh%16 partitions before shuffling; confirm
    * fetches ONLY candidate partners' shingle rows, partition-pruned
    * by their id buckets (two bounded ≤16-value collects per batch,
    * the C39 convention). Bucket caps bound degenerate bands exactly
    * as in C3. Recall at t=0.8 with 16×8 banding is complete on this
    * corpus — proven by C3 hash-matching C2's exact pair set at every
    * SF — so the oracle can re-derive drops from the exact pair set. */
  def pipelineStreamNeardup(s: SparkSession, dir: String): DataFrame =
    // The REGISTERED query ingests the whole feed in ONE trigger: the
    // SEEN policy makes the result batch-cut-invariant by construction
    // and StreamNeardupSpec pins fpt=1 == fpt=3 == the batch answer, so
    // the harness does not pay 3x the per-micro-batch fixed cost (9.7 s
    // vs 24.8 s at sf1). Production deployments pick their own trigger
    // size; the decomposition harness calls the fpt variant explicitly.
    pipelineStreamNeardupFpt(s, dir, 3)

  private[graft] def pipelineStreamNeardupFpt(
      s: SparkSession, dir: String, fpt: Int): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.table(s, dir, "documents")
      .select($"doc_id", $"text")
    // Option decode — empty corpus ⇒ 0 cuts ⇒ three empty batches ⇒
    // empty result (see pipelineStreamIngest)
    val maxId = docs.agg(max($"doc_id")).as[Option[Long]].head().getOrElse(0L)
    val (cut1, cut2) = (maxId / 3, 2 * maxId / 3)
    val inDir = CdcStream.stageBatches(docs.filter($"doc_id".isNotNull),
      when($"doc_id" <= cut1, "00").when($"doc_id" <= cut2, "01").otherwise("02"),
      Seq("00", "01", "02"), "graft_neardup")
    val histDir = graft.Scratch.dir("graft_neardup_hist").toString
    val keptDir = graft.Scratch.dir("graft_neardup_kept").toString
    // the result is batch-cut-invariant BY DESIGN (SEEN policy above),
    // so running the same feed at 1 vs 3 files/trigger isolates
    // per-micro-batch fixed cost from data work without touching
    // semantics -- StreamNeardupSpec asserts both land on the batch answer
    val q = s.readStream.schema(docTextSchema)
      .option("maxFilesPerTrigger", fpt.toString)
      .parquet(inDir.toString)
      .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        val sp = batch.sparkSession
        val bsh = Dedup.shingleDocs(sp, batch)
          .withColumn("sig", expr("minhash_sig(sh, 128)")).persist()
        val bands = bsh.select($"doc_id",
            explode(array((0 until 16).map(b =>
              struct(lit(b).as("band"),
                xxhash64(slice($"sig", b * 8 + 1, 8)).as("bh"))): _*)).as("e"))
          .select($"doc_id", $"e.band".as("band"), $"e.bh".as("bh"))
          .withColumn("pfx", pmod($"bh", lit(16)).cast("string"))
          .persist()
        // within-batch candidates: C3's WHOLE hardened engine over the
        // already-signed batch — capped buckets alone never
        // candidate-pair past the cap, and C3's canonical-bucket star
        // pass covers a >64-doc within-batch cohort. The drop rule
        // is reduction-invariant: every non-minimum member of an
        // identical cohort still pairs with a lower id through the
        // capped set or its residue-class star rep, so the kept set —
        // which is what this op emits — equals the exact pair-set
        // answer (StreamNeardupSpec pins it at every batch cut).
        val wbDrop = Dedup.minhashPairsSigned(sp,
            bsh.select($"doc_id", $"sh", $"sig"))
          .select($"d2".as("doc_id"))
        val full = bsh.select($"doc_id", $"sh")
        // history candidates: band join pruned to this batch's bh%16
        // partitions, then shingles of ONLY the matched partners,
        // pruned to their id buckets
        var cand: DataFrame = null
        val histDrop =
          if (!hasParts(histDir, "p")) wbDrop.limit(0)
          else {
            val pfxs = bands.select($"pfx").distinct()
              .collect().map(_.getString(0)).toSeq
            val hist = prunedBands(sp, histDir, pfxs)
            cand = bands.join(hist
                .select($"band", $"bh", $"doc_id".as("hist_id")),
                Seq("band", "bh"))
              .select($"hist_id", $"doc_id").dropDuplicates().persist()
            val dpfxs = cand.select(pmod($"hist_id", lit(8)).cast("string"))
              .distinct().collect().map(_.getString(0)).toSeq
            val histSh = prunedShingles(sp, histDir, dpfxs)
              .select($"doc_id".as("hist_id"), $"sh".as("hsh"))
            cand.join(histSh, "hist_id")
              .join(full, "doc_id")
              .select($"doc_id",
                size(array_intersect($"hsh", $"sh")).as("inter"),
                (size($"hsh") + size($"sh")).as("ntot"))
              .filter($"inter".cast("double") / ($"ntot" - $"inter") >= 0.8)
              .select($"doc_id")
          }
        val kept = bsh.select($"doc_id", size($"sh").cast("long").as("n_sh"))
          .join(wbDrop.union(histDrop).distinct(), Seq("doc_id"), "left_anti")
        // one file per trigger, not one per task (32 task-files per
        // batch taxes the read-back listing) — repartition(1), NOT
        // coalesce(1): coalesce would collapse the whole anti-join
        // stage into a single task, while the exchange here carries
        // only the final (doc_id, n_sh) longs
        kept.repartition(1).write.mode("append").parquet(keptDir)
        // SEEN policy: every batch doc enters history, kept or not.
        // ONE append job for both row kinds: band rows
        // and shingle rows union into the single history table under
        // disjoint "b*"/"s*" partitions. Task-per-partition writes (the
        // B31 convention): shingling runs at full parallelism, so an
        // unrepartitioned partitionBy would fan every writer task
        // across every partition dir — tasks × dirs tiny files per
        // batch, and the NEXT batch's history read pays the
        // file-listing bill.
        bands.select($"doc_id", $"band", $"bh",
            lit(null).cast("array<string>").as("sh"),
            concat(lit("b"), $"pfx").as("p"))
          .unionByName(bsh.select($"doc_id",
            lit(null).cast("int").as("band"),
            lit(null).cast("long").as("bh"), $"sh",
            concat(lit("s"), pmod($"doc_id", lit(8)).cast("string")).as("p")))
          .repartition($"p")
          .write.mode("append").partitionBy("p").parquet(histDir)
        bsh.unpersist(); bands.unpersist()
        if (cand != null) cand.unpersist()
        ()
      }.start()
    CdcStream.drain(q)
    s.read.schema(neardupKeptSchema).parquet(keptDir)
      .orderBy($"doc_id")
  }
  val pipelineStreamNeardupSql: String =
    s"""WITH ${Dedup.shingledSql},
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
       |co AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |       FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
       |dr AS (SELECT DISTINCT d2 FROM co
       |       JOIN sz x ON x.doc_id = d1 JOIN sz y ON y.doc_id = d2
       |       WHERE inter * 1.0 / (x.n + y.n - inter) >= 0.8)
       |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh
       |FROM sh WHERE doc_id NOT IN (SELECT d2 FROM dr)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C41
  /** Corpus validation — the expectations/contract check a pipeline
    * runs before accepting a delivery (Great-Expectations shape): one
    * row per check with population, violation count, and pass. Checks:
    * key uniqueness, non-empty text, stored-vs-derived consistency
    * (n_chars == length(text)), categorical domain (lang), embedding
    * dimensionality, and unit-norm band. The feed is deterministically
    * DIRTIED first (empty texts, a bogus lang, off-by-one n_chars,
    * duplicated keys, double-scaled vectors, and a dropped component
    * for every 29th vector so the dim-64 check trips too) so every
    * check catches exactly the injected violations — none is
    * vacuously green.
    *
    * 100 TB: two scans (documents, embeddings), every check a
    * map-side-combinable conditional count folded into ONE aggregate
    * per table, then unpivoted — no per-check scan, no shuffle beyond
    * the two one-row aggs. */
  def pipelineValidate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = graft.Tables.table(s, dir, "documents")
      .select($"doc_id", $"text", $"n_chars", $"lang")
    val dirtyDocs = base
      .withColumn("text", when($"doc_id" % 13 === 0, lit("")).otherwise($"text"))
      .withColumn("lang", when($"doc_id" % 17 === 0, lit("xx")).otherwise($"lang"))
      .withColumn("n_chars",
        when($"doc_id" % 19 === 0, $"n_chars" + 1).otherwise($"n_chars"))
      .unionByName(base.filter($"doc_id" % 23 === 0))
    val docAgg = dirtyDocs.agg(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - count_distinct($"doc_id")).as("v_unique"),
      count(when(length($"text") === 0, 1)).as("v_empty"),
      count(when($"n_chars" =!= length($"text") &&
        length($"text") > 0, 1)).as("v_nchars"),
      count(when(!$"lang".isin("en", "zh", "fr", "es", "de"), 1)).as("v_lang"))
    val emb = graft.Tables.table(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("v", when($"vec_id" % 11 === 0,
        transform($"v", x => x * 2)).otherwise($"v"))
      .withColumn("v", when($"vec_id" % 29 === 0,
        slice($"v", 1, 63)).otherwise($"v"))
    val embAgg = emb.agg(
      count(lit(1)).as("n_rows"),
      count(when(size($"v") =!= 64, 1)).as("v_dim"),
      count(when(abs(aggregate(transform($"v", x => x * x),
        lit(0.0), _ + _) - 1.0) > 0.1, 1)).as("v_norm"))
    val docChecks = docAgg.select(explode(array(
      struct(lit("doc_id_unique").as("check"), $"n_rows", $"v_unique".as("n_violations")),
      struct(lit("doc_lang_domain").as("check"), $"n_rows", $"v_lang".as("n_violations")),
      struct(lit("doc_nchars_consistent").as("check"), $"n_rows", $"v_nchars".as("n_violations")),
      struct(lit("doc_text_nonempty").as("check"), $"n_rows", $"v_empty".as("n_violations")))).as("c"))
    val embChecks = embAgg.select(explode(array(
      struct(lit("emb_dim_64").as("check"), $"n_rows", $"v_dim".as("n_violations")),
      struct(lit("emb_unit_norm").as("check"), $"n_rows", $"v_norm".as("n_violations")))).as("c"))
    docChecks.unionByName(embChecks)
      .select($"c.check", $"c.n_rows", $"c.n_violations",
        ($"c.n_violations" === 0).as("pass"))
      .orderBy($"check")
  }
  val pipelineValidateSql: String =
    """WITH dirty AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 13 = 0 THEN '' ELSE text END AS text,
      |    CASE WHEN doc_id % 17 = 0 THEN 'xx' ELSE lang END AS lang,
      |    CASE WHEN doc_id % 19 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, text, lang, n_chars FROM documents WHERE doc_id % 23 = 0),
      |d AS (SELECT count(*) AS n_rows,
      |    count(*) - count(DISTINCT doc_id) AS v_unique,
      |    count(CASE WHEN length(text) = 0 THEN 1 END) AS v_empty,
      |    count(CASE WHEN n_chars <> length(text) AND length(text) > 0
      |      THEN 1 END) AS v_nchars,
      |    count(CASE WHEN lang NOT IN ('en','zh','fr','es','de')
      |      THEN 1 END) AS v_lang
      |  FROM dirty),
      |e0 AS (SELECT vec_id,
      |    CASE WHEN vec_id % 11 = 0
      |      THEN list_transform(embedding, x -> CAST(x AS DOUBLE) * 2)
      |      ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS v
      |  FROM embeddings),
      |e1 AS (SELECT vec_id,
      |    CASE WHEN vec_id % 29 = 0 THEN v[1:63] ELSE v END AS v FROM e0),
      |e AS (SELECT count(*) AS n_rows,
      |    count(CASE WHEN len(v) <> 64 THEN 1 END) AS v_dim,
      |    count(CASE WHEN abs(list_sum(list_transform(v,
      |        x -> x * x)) - 1.0) > 0.1 THEN 1 END) AS v_norm
      |  FROM e1),
      |checks AS (
      |  SELECT 'doc_id_unique' AS "check", n_rows, v_unique AS n_violations FROM d
      |  UNION ALL SELECT 'doc_lang_domain', n_rows, v_lang FROM d
      |  UNION ALL SELECT 'doc_nchars_consistent', n_rows, v_nchars FROM d
      |  UNION ALL SELECT 'doc_text_nonempty', n_rows, v_empty FROM d
      |  UNION ALL SELECT 'emb_dim_64', n_rows, v_dim FROM e
      |  UNION ALL SELECT 'emb_unit_norm', n_rows, v_norm FROM e)
      |SELECT "check", CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(n_violations AS BIGINT) AS n_violations,
      |  n_violations = 0 AS pass
      |FROM checks ORDER BY "check"""".stripMargin

  // --------------------------------------------------------------- C43
  /** Fixed-SIZE stratified sampling: exactly k=10 docs per source,
    * chosen by ranking an md5 hash coin — C17's complement (that op
    * keeps a per-source FRACTION; eval sets, human-review batches and
    * per-domain probes need exact counts). The coin makes it a
    * uniform-without-replacement draw that is reproducible across
    * engines/runs and *stable under corpus growth in expectation*
    * while honoring the hard cap.
    *
    * 100 TB: one shuffle on source; the per-stratum ranking is a
    * window here (sorts each stratum), and the B16 TopKAgg heap
    * (k-bounded partial buffers, map-side combine) is the drop-in
    * when a stratum is billions of rows — same contract, O(k) memory. */
  def pipelineStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val coin = md5(concat(lit("samp:"), $"doc_id".cast("string")))
    graft.Tables.table(s, dir, "documents")
      .select($"source", $"doc_id", coin.as("coin"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"source").orderBy($"coin", $"doc_id"))
        .cast("long"))
      .filter($"rank" <= 10)
      .select($"source", $"rank", $"doc_id", $"coin")
      .orderBy($"source", $"rank")
  }
  val pipelineStratifiedSampleSql: String =
    """WITH c AS (SELECT source, doc_id,
      |    md5('samp:' || CAST(doc_id AS VARCHAR)) AS coin
      |  FROM documents),
      |r AS (SELECT source, doc_id, coin,
      |    row_number() OVER (PARTITION BY source ORDER BY coin, doc_id)
      |      AS rank
      |  FROM c)
      |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, coin
      |FROM r WHERE rank <= 10 ORDER BY source, rank""".stripMargin

  // --------------------------------------------------------------- C44
  /** Z-order layout analyzer — the data-layout decision that makes
    * 100 TB scans cheap: interleaving the bits of two filter columns
    * into one sort key clusters rows so every file covers a small
    * RECTANGLE of (x, y) space, and a min/max-pruned scan (parquet
    * footer stats / Delta file skipping) touches only files whose
    * rectangle intersects the predicate box. This op *measures* that:
    * it buckets the events feed into 16 equal "files" under (a) the
    * insertion order and (b) the z-order, computes each bucket's
    * min/max envelope, and reports how many buckets a box predicate
    * prunes under each layout — the before/after a table-OPTIMIZE
    * ZORDER decision needs.
    *
    * Everything is exact integer math (bit interleave, rank-based
    * bucketing, envelope overlap) so the oracle re-derives the full
    * analysis. The equal-count bucketing is distributed — no global
    * window sort: each layout range-partitions on a DETERMINISTIC
    * bounded key (z fits in 16 bits; event_id is binned by its
    * min/max span), ranks within partitions, and rebases each
    * partition's ranks by driver-collected per-partition counts (≤P
    * rows of metadata — the bounded-scalar pattern). Global rank is
    * exact because the range key is monotone in the sort order;
    * boundary skew costs only balance, never correctness. Bucket ids
    * use long `div` throughout (no int truncation, no double '/'). */
  def pipelineZorderLayout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val NB = 16
    val P = 32
    val (xLo, xHi, yLo, yHi) = (32L, 47L, 64L, 79L)
    // layout-key contract (dirty-data posture, r10): a row with a NULL
    // layout key has no Z-address — placement would ride each engine's
    // null-ordering convention (opposite between Spark and DuckDB), so
    // such rows are excluded explicitly on both sides
    val ev = graft.Tables.events(s, dir)
      .filter($"user_id".isNotNull)
      .select($"event_id", ($"user_id" % 256).cast("long").as("x"),
        ($"event_id" % 256).cast("long").as("y"))
    val z = (0 until 8).map { i =>
      shiftleft(shiftright($"x", i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright($"y", i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
    val zed = ev.withColumn("z", z)
    val idRow = zed.agg(min($"event_id"), max($"event_id")).head()
    // EMPTY feed: min/max are NULL and the bare getLong crashed (r11
    // empty-input sweep); (0, 1) keeps the pid expressions well-formed
    // — no row ever evaluates them — and the result is the empty frame
    val (idLo, idSpan) =
      if (idRow.isNullAt(0)) (0L, 1L)
      else (idRow.getLong(0), idRow.getLong(1) - idRow.getLong(0) + 1)
    def layout(name: String, pidOf: org.apache.spark.sql.Column,
        ord: Seq[org.apache.spark.sql.Column]) = {
      val withPid = zed.withColumn("__pid", pidOf)
      // per-range-partition counts: bounded metadata (≤P rows), exact
      // and deterministic, so the re-execution under the final job
      // re-derives identical pids and the offsets stay consistent
      val counts = withPid.groupBy($"__pid").agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val n = counts.map(_._2).sum
      val offsets = counts.map(_._1)
        .zip(counts.scanLeft(0L)(_ + _._2).init).toMap
      val rank = row_number().over(
          Window.partitionBy($"__pid").orderBy(ord: _*)).cast("long") -
        1L + element_at(typedLit(offsets), $"__pid")
      withPid.withColumn("__rank", rank)
        .withColumn("bucket", expr(s"(__rank * $NB) div $n"))
        .groupBy($"bucket")
        .agg(min($"x").as("x_min"), max($"x").as("x_max"),
          min($"y").as("y_min"), max($"y").as("y_max"),
          count(lit(1)).as("n_rows"),
          count(when($"x".between(xLo, xHi) &&
            $"y".between(yLo, yHi), 1)).as("n_match"))
        .select(lit(name).as("layout"), $"bucket", $"x_min", $"x_max",
          $"y_min", $"y_max",
          ($"x_max" < xLo || $"x_min" > xHi ||
            $"y_max" < yLo || $"y_min" > yHi).as("pruned"),
          $"n_rows", $"n_match")
    }
    layout("linear", expr(s"((event_id - $idLo) * $P) div $idSpan"),
        Seq($"event_id"))
      .unionByName(layout("zorder", expr(s"(z * $P) div 65536"),
        Seq($"z", $"event_id")))
      .groupBy($"layout")
      .agg(count(lit(1)).as("n_buckets"),
        sum(when($"pruned", 1L).otherwise(0L)).as("buckets_pruned"),
        sum(when(!$"pruned", $"n_rows").otherwise(0L)).as("rows_scanned"),
        sum($"n_match").as("rows_matching"))
      .orderBy($"layout")
  }
  val pipelineZorderLayoutSql: String = {
    val zTerms = (0 until 8).map { i =>
      s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")
    s"""WITH ev AS (SELECT event_id,
       |    CAST(user_id % 256 AS BIGINT) AS x,
       |    CAST(event_id % 256 AS BIGINT) AS y
       |  FROM events WHERE user_id IS NOT NULL),
       |zed AS (SELECT event_id, x, y, $zTerms AS z FROM ev),
       |t AS (SELECT count(*) AS n FROM zed),
       |lin AS (SELECT 'linear' AS layout, x, y,
       |    (row_number() OVER (ORDER BY event_id) - 1) * 16
       |      // (SELECT n FROM t) AS bucket FROM zed),
       |zor AS (SELECT 'zorder' AS layout, x, y,
       |    (row_number() OVER (ORDER BY z, event_id) - 1) * 16
       |      // (SELECT n FROM t) AS bucket FROM zed),
       |b AS (SELECT layout, bucket,
       |    min(x) AS x_min, max(x) AS x_max,
       |    min(y) AS y_min, max(y) AS y_max,
       |    count(*) AS n_rows,
       |    count(CASE WHEN x BETWEEN 32 AND 47
       |      AND y BETWEEN 64 AND 79 THEN 1 END) AS n_match
       |  FROM (SELECT * FROM lin UNION ALL SELECT * FROM zor)
       |  GROUP BY 1, 2)
       |SELECT layout, count(*) AS n_buckets,
       |  CAST(sum(CASE WHEN x_max < 32 OR x_min > 47 OR y_max < 64
       |    OR y_min > 79 THEN 1 ELSE 0 END) AS BIGINT) AS buckets_pruned,
       |  CAST(sum(CASE WHEN NOT (x_max < 32 OR x_min > 47 OR y_max < 64
       |    OR y_min > 79) THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
       |  CAST(sum(n_match) AS BIGINT) AS rows_matching
       |FROM b GROUP BY layout ORDER BY layout""".stripMargin
  }

  // --------------------------------------------------------------- C45
  /** Per-source token budgets with quality-first selection — how a
    * training mix is actually assembled once someone sets "cap each
    * domain at N tokens": within every source, rank docs by quality
    * (longer-words-first heuristic here; any scored column slots in),
    * take the running token total in that order, and keep docs while
    * the budget holds. Emits per-source accounting: docs/tokens kept
    * vs available and the quality cutoff actually achieved.
    *
    * Deterministic: rank ties break on doc_id; the 4-dp fixed-point
    * score is the B-series money contract; budget test is integer.
    *
    * 100 TB: one shuffle on source; the per-source rank + running sum
    * share that partitioning (two window passes, no self-join). A
    * whale stratum outgrowing its sort uses the B16 TopKAgg heap to
    * pre-trim to the budget's upper bound first. */
  def pipelineTokenBudget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val Budget = 2000L
    val docs = graft.Tables.table(s, dir, "documents")
      .select($"source", $"doc_id",
        size(split($"text", " ")).cast("long").as("n_tokens"),
        r4((length($"text") - size(split($"text", " ")) + 1) * lit(1.0) /
          size(split($"text", " "))).as("score"))
    val w = Window.partitionBy($"source").orderBy($"score".desc, $"doc_id")
    docs
      .withColumn("cum_tokens", sum($"n_tokens").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("kept", $"cum_tokens" <= Budget)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("tokens_available"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"kept", $"n_tokens").otherwise(0L)).as("tokens_kept"),
        min(when($"kept", $"score")).as("score_cutoff"))
      .orderBy($"source")
  }
  val pipelineTokenBudgetSql: String =
    """WITH d AS (SELECT source, doc_id,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    floor((length(text) - len(string_split(text, ' ')) + 1) * 1.0
      |      / len(string_split(text, ' ')) * 10000 + 0.5) / 10000 AS score
      |  FROM documents),
      |c AS (SELECT source, doc_id, n_tokens, score,
      |    sum(n_tokens) OVER (PARTITION BY source
      |      ORDER BY score DESC, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
      |  FROM d)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS tokens_available,
      |  CAST(sum(CASE WHEN cum_tokens <= 2000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  CAST(sum(CASE WHEN cum_tokens <= 2000 THEN n_tokens ELSE 0 END)
      |    AS BIGINT) AS tokens_kept,
      |  min(CASE WHEN cum_tokens <= 2000 THEN score END) AS score_cutoff
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- C50
  /** Dataset snapshot diff — the "what changed between corpus v1 and
    * v2" audit every dataset-versioning workflow needs before
    * retraining (HF dataset revisions, DVC, lakehouse table diffs).
    * v2 is derived deterministically from v1 (every 13th doc removed,
    * every 17th remaining doc edited, every 10th re-added as a new
    * id), then the diff CLASSIFIES by doc_id identity + content
    * digest: added / removed / changed / unchanged, rolled up per
    * source with token deltas (the number a mixture rebalance needs).
    *
    * 100 TB: one full-outer join on doc_id (both sides hash-partition
    * once); digests computed at the scan so the join carries
    * (id, digest, tokens), never text; the rollup is
    * map-side-combinable. */
  def pipelineDatasetDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v1 = graft.Tables.table(s, dir, "documents")
      .select($"doc_id", $"source", $"text")
    val v2 = v1.filter($"doc_id" % 13 =!= 0)
      .withColumn("text",
        when($"doc_id" % 17 === 0, concat($"text", lit(" v2"))).otherwise($"text"))
      .unionByName(v1.filter($"doc_id" % 10 === 0)
        .select((Dedup.guardShift($"doc_id", Dedup.DupShift, "dataset_diff") ).as("doc_id"), $"source",
          concat($"text", lit(" new")).as("text")))
    def digests(df: DataFrame, tag: String) = df.select(
      $"doc_id", $"source".as(s"source_$tag"),
      md5($"text").as(s"md5_$tag"),
      size(split($"text", " ")).cast("long").as(s"tok_$tag"))
    val joined = digests(v1, "a").join(digests(v2, "b"), Seq("doc_id"), "full_outer")
    joined
      .select(coalesce($"source_a", $"source_b").as("source"),
        when($"md5_a".isNull, "added")
          .when($"md5_b".isNull, "removed")
          .when($"md5_a" =!= $"md5_b", "changed")
          .otherwise("unchanged").as("status"),
        coalesce($"tok_b", lit(0L)).as("tok_new"),
        coalesce($"tok_a", lit(0L)).as("tok_old"))
      .groupBy($"source", $"status")
      .agg(count(lit(1)).as("n_docs"),
        sum($"tok_new" - $"tok_old").as("token_delta"))
      .orderBy($"source", $"status")
  }
  val pipelineDatasetDiffSql: String =
    s"""WITH v1 AS (SELECT doc_id, source, text FROM documents),
      |v2 AS (SELECT doc_id, source,
      |    CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END AS text
      |  FROM v1 WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT doc_id + ${Dedup.DupShift}, source, text || ' new'
      |  FROM v1 WHERE doc_id % 10 = 0),
      |a AS (SELECT doc_id, source AS source_a, md5(text) AS md5_a,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_a FROM v1),
      |b AS (SELECT doc_id, source AS source_b, md5(text) AS md5_b,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_b FROM v2),
      |j AS (SELECT coalesce(a.source_a, b.source_b) AS source,
      |    CASE WHEN a.md5_a IS NULL THEN 'added'
      |         WHEN b.md5_b IS NULL THEN 'removed'
      |         WHEN a.md5_a <> b.md5_b THEN 'changed'
      |         ELSE 'unchanged' END AS status,
      |    coalesce(b.tok_b, 0) AS tok_new, coalesce(a.tok_a, 0) AS tok_old
      |  FROM a FULL OUTER JOIN b USING (doc_id))
      |SELECT source, status, count(*) AS n_docs,
      |  CAST(sum(tok_new - tok_old) AS BIGINT) AS token_delta
      |FROM j GROUP BY 1, 2 ORDER BY source, status""".stripMargin

  // --------------------------------------------------------------- C51
  /** Sequence-length planning — the padding-waste analyzer behind the
    * "what max_len do we train at" decision: per candidate max_len
    * (128 / 512 / 2048), how many documents truncate, what fraction
    * of their tokens is LOST to truncation, and what fraction of the
    * batch tensor would be PADDING if each doc occupied one row —
    * plus the power-of-two length histogram the decision reads.
    * (C21's packing removes padding by concatenation; this op
    * quantifies what packing saves, which is the argument for it.)
    *
    * 100 TB: one narrow scan computes lengths; both outputs are
    * map-side-combinable rollups over ~a dozen groups; ppm integers
    * keep the fractions engine-exact. */
  def pipelineLengthBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.table(s, dir, "documents")
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tok"))
    // ceil(log2(n)) via binary-string length (exact integers — a
    // float log2 is one ulp from mis-bucketing every power of two)
    val hist = docs
      .withColumn("bucket",
        concat(lit("len_pow2_"), lpad(
          when($"n_tok" <= 1, 0)
            .otherwise(length(bin($"n_tok" - 1))).cast("string"), 2, "0")))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
        lit(0L).as("tokens_lost_ppm"), lit(0L).as("padding_ppm"))
    val plans = Seq(128L, 512L, 2048L).map { maxLen =>
      docs.agg(
        count(when($"n_tok" > maxLen, 1)).as("n_docs"),
        sum($"n_tok").as("n_tokens"),
        // DECIMAL(38) widen: both numerators track the corpus token
        // count (~2.5e13 at 100 TB) — ×1e6 overflows a BIGINT (ANSI
        // abort / legacy wrap); DuckDB's sum() is HUGEINT already,
        // so only the Spark side needed it
        expr(s"cast(sum(greatest(n_tok - $maxLen, 0L)) as decimal(38,0))" +
          s" * 1000000 div sum(n_tok)").as("tokens_lost_ppm"),
        expr(s"cast(sum(greatest($maxLen - n_tok, 0L)) as decimal(38,0))" +
          s" * 1000000 div (count(1) * $maxLen)").as("padding_ppm"))
        .select(lit(s"maxlen_$maxLen").as("bucket"), $"n_docs", $"n_tokens",
          $"tokens_lost_ppm", $"padding_ppm")
    }.reduce(_ unionByName _)
    hist.unionByName(plans).orderBy($"bucket")
  }
  val pipelineLengthBucketsSql: String = {
    val plans = Seq(128L, 512L, 2048L).map { m =>
      s"""SELECT 'maxlen_$m' AS bucket,
         |  count(CASE WHEN n_tok > $m THEN 1 END) AS n_docs,
         |  sum(n_tok) AS n_tokens,
         |  sum(greatest(n_tok - $m, 0)) * 1000000 // sum(n_tok)
         |    AS tokens_lost_ppm,
         |  sum(greatest($m - n_tok, 0)) * 1000000 // (count(*) * $m)
         |    AS padding_ppm
         |FROM d""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH d AS (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |h AS (SELECT 'len_pow2_' || lpad(CAST(CASE WHEN n_tok <= 1 THEN 0
       |      ELSE length(bin(n_tok - 1)) END AS VARCHAR), 2, '0') AS bucket,
       |    count(*) AS n_docs, sum(n_tok) AS n_tokens,
       |    0 AS tokens_lost_ppm, 0 AS padding_ppm
       |  FROM d GROUP BY 1),
       |p AS (
       |  $plans)
       |SELECT bucket, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(tokens_lost_ppm AS BIGINT) AS tokens_lost_ppm,
       |  CAST(padding_ppm AS BIGINT) AS padding_ppm
       |FROM (SELECT * FROM h UNION ALL SELECT * FROM p)
       |ORDER BY bucket""".stripMargin
  }

  // --------------------------------------------------------------- C53
  /** Filter-overlap matrix — which quality gates actually bite, and
    * which are redundant: every C40 rule combination (pass/fail ×
    * min-words, mean-word-length band, top-word dominance) becomes a
    * cell with doc and token counts. Reading it answers "would
    * dropping rule X change the corpus" (its fail-only cell) and
    * "how correlated are X and Y" (joint-fail mass vs marginals) —
    * the ablation a filtering pipeline owes its thresholds.
    *
    * 100 TB: one narrow scan computes the three booleans in-row
    * (C40's exact expressions), then a single map-side-combinable
    * rollup over ≤8 groups. */
  def pipelineFilterOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rules = TextOps.textQualityRules(s, dir)
      .select($"doc_id", $"n_words", $"r_len", $"r_shape", $"r_dominance")
    rules
      .groupBy($"r_len", $"r_shape", $"r_dominance")
      .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("n_tokens"))
      .withColumn("n_failed",
        (when($"r_len", 0).otherwise(1) + when($"r_shape", 0).otherwise(1) +
          when($"r_dominance", 0).otherwise(1)).cast("long"))
      .select($"r_len", $"r_shape", $"r_dominance", $"n_failed",
        $"n_docs", $"n_tokens")
      .orderBy($"r_len", $"r_shape", $"r_dominance")
  }
  val pipelineFilterOverlapSql: String =
    """WITH b AS (SELECT doc_id, string_split(text, ' ') AS w,
      |    length(text) AS nc
      |  FROM documents),
      |r AS (SELECT doc_id,
      |    CAST(len(w) AS BIGINT) AS n_words,
      |    len(w) >= 15 AS r_len,
      |    (nc - len(w) + 1) * 1.0 / len(w) < 4.9 AS r_shape,
      |    list_max(list_transform(list_distinct(w),
      |      x -> len(list_filter(w, y -> y = x))))
      |      * 1.0 / len(w) <= 0.18 AS r_dominance
      |  FROM b)
      |SELECT r_len, r_shape, r_dominance,
      |  CAST(CASE WHEN r_len THEN 0 ELSE 1 END
      |    + CASE WHEN r_shape THEN 0 ELSE 1 END
      |    + CASE WHEN r_dominance THEN 0 ELSE 1 END AS BIGINT) AS n_failed,
      |  count(*) AS n_docs,
      |  CAST(sum(n_words) AS BIGINT) AS n_tokens
      |FROM r GROUP BY 1, 2, 3
      |ORDER BY r_len, r_shape, r_dominance""".stripMargin

  // --------------------------------------------------------------- C55
  /** Train/val/test split + leakage audit — the holdout discipline an
    * eval pipeline owes: an ~80/10/10 split by a reproducible md5
    * coin (C17's RNG-free pattern — membership is a pure function of
    * doc_id, stable across runs and engines), and, per split, the
    * count of content digests that ALSO appear in another split —
    * exact-duplicate leakage across the train/test boundary, the
    * failure mode that silently inflates evals. Runs over the
    * dup-injected feed, where id-keyed coins scatter the copies of a
    * text across splits: the audit is non-vacuous by construction
    * and shows exactly why dedup (C1/C22) must precede splitting.
    *
    * 100 TB: one digest shuffle finds spanning digests (digests
    * only — text never leaves the scan); split rollups are map-side;
    * the leak join carries spanning digests only. */
  def pipelineSplitHoldout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Dedup.dupFeed(s, dir)
      .select($"doc_id", $"text",
        md5(concat(lit("split:"), $"doc_id".cast("string"))).as("c"))
      .withColumn("split",
        when(substring($"c", 1, 2) < "cc", "1_train")
          .when(substring($"c", 1, 2) < "e6", "2_val")
          .otherwise("3_test"))
      .withColumn("dg", md5($"text"))
    val spanning = d.groupBy($"dg")
      .agg(count_distinct($"split").as("ns"))
      .filter($"ns" > 1)
      .select($"dg")
    val leakPerSplit = d.join(spanning, "dg")
      .groupBy($"split").agg(count_distinct($"dg").as("leaked_digests"))
    d.groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split($"text", " "))).cast("long").as("n_tokens"))
      .join(leakPerSplit, Seq("split"), "left")
      .select($"split", $"n_docs", $"n_tokens",
        coalesce($"leaked_digests", lit(0L)).as("leaked_digests"))
      .orderBy($"split")
  }
  val pipelineSplitHoldoutSql: String =
    s"""WITH ${Dedup.dupFeedSql},
       |d AS (SELECT doc_id, text,
       |    CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
       |           < 'cc' THEN '1_train'
       |         WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
       |           < 'e6' THEN '2_val'
       |         ELSE '3_test' END AS split,
       |    md5(text) AS dg
       |  FROM feed),
       |sp AS (SELECT dg FROM (SELECT dg, count(DISTINCT split) AS ns
       |    FROM d GROUP BY 1) WHERE ns > 1),
       |lk AS (SELECT split, count(DISTINCT d.dg) AS leaked_digests
       |  FROM d JOIN sp ON d.dg = sp.dg GROUP BY 1),
       |st AS (SELECT split, count(*) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM d GROUP BY 1)
       |SELECT st.split, st.n_docs, st.n_tokens,
       |  CAST(coalesce(lk.leaked_digests, 0) AS BIGINT) AS leaked_digests
       |FROM st LEFT JOIN lk USING (split) ORDER BY st.split""".stripMargin

  // --------------------------------------------------------------- C72
  /** DSIR — data selection via importance resampling (Xie et al.
    * 2023): score every raw document by how much it "looks like" a
    * target corpus, in a hashed n-gram feature space. Target = the
    * `src0` slice (the curated-reference stand-in), raw = the whole
    * corpus. Features are unigrams + bigrams hashed into B=256
    * buckets (md5 — the engine-replayable hash, C17's coin);
    * bucket distributions are add-one smoothed; a doc's log
    * importance weight is the sum of its features' log-ratios
    * ln(p_target/p_raw). The top-50 by weight are `selected` — the
    * deterministic top-k variant of the paper's Gumbel resampling.
    *
    * Determinism: each bucket's log-ratio is ONE ln over an exact
    * integer rational ((tc+1)(R+B)) / ((rc+1)(T+B)) — identical
    * IEEE input both engines — fixed-pointed to 1e-6 BIGINT; doc
    * weights are BIGINT sums (order-free).
    *
    * 100 TB: the bucket histograms are 256-group map-side-combinable
    * rollups (the whole point of feature hashing — bounded summary
    * regardless of vocabulary); the 256-row log-ratio table
    * BROADCASTS back onto the feature stream; per-doc weights ride
    * ONE doc_id shuffle; top-50 is TakeOrderedAndProject (never a
    * global sort), and membership joins back as a broadcast semi. */
  def pipelineImportanceWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val B = 256
    val docs = graft.Tables.table(s, dir, "documents")
      .select($"doc_id", $"source", split($"text", " ").as("w"))
    val uni = docs.select($"doc_id", $"source", explode($"w").as("f"))
    val bi = docs.select($"doc_id", $"source", explode(
      zip_with(slice($"w", lit(1), size($"w") - 1), slice($"w", lit(2), size($"w") - 1),
        (a, b) => concat(a, lit(" "), b))).as("f"))
    val feats = uni.unionByName(bi).filter(length($"f") > 0)
      .select($"doc_id", $"source",
        (conv(substring(md5($"f"), 1, 4), 16, 10).cast("long") % B).as("b"))
    val tgt = feats.filter($"source" === "src0")
      .groupBy($"b").agg(count(lit(1)).as("tc"))
    val raw = feats.groupBy($"b").agg(count(lit(1)).as("rc"))
    val tot = feats.agg(
      sum(when($"source" === "src0", 1L).otherwise(0L)).as("t_tot"),
      count(lit(1)).as("r_tot"))
    val spine = s.range(0, B).select($"id".as("b"))
    val lr = spine
      .join(tgt, Seq("b"), "left").join(raw, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select($"b",
        // each long factor promotes to DOUBLE before the product: the
        // old ((tc+1) * (r_tot+B)) long product is a bucket count ×
        // the corpus feature total (~2.5e25 at 100 TB), far past 2^63
        // (ANSI abort / legacy wrap); in double space both engines
        // compute the identical IEEE tree (exact below 2^53, so
        // test-SF values unchanged)
        floor(log((coalesce($"tc", lit(0L)) + 1L).cast("double") * ($"r_tot" + B) /
          ((coalesce($"rc", lit(0L)) + 1L).cast("double") * ($"t_tot" + B))) * 1000000 + 0.5)
          .cast("long").as("lr_fp"))
    val perDoc = feats.join(broadcast(lr), "b")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_feat"), sum($"lr_fp").as("w_fp"))
    val topk = perDoc.orderBy($"w_fp".desc, $"doc_id").limit(50)
      .select($"doc_id", lit(true).as("sel"))
    perDoc.join(broadcast(topk), Seq("doc_id"), "left")
      .select($"doc_id", $"n_feat",
        (floor($"w_fp".cast("double") / 1000000 * 10000 + 0.5) / 10000)
          .as("weight"),
        coalesce($"sel", lit(false)).as("selected"))
      .orderBy($"doc_id")
  }
  val pipelineImportanceWeightsSql: String =
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
      |  FROM documents),
      |uni AS (SELECT doc_id, source, unnest(w) AS f FROM d),
      |bi AS (SELECT doc_id, source,
      |    unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS f
      |  FROM d),
      |feats AS (SELECT doc_id, source,
      |    CAST(('0x' || substring(md5(f), 1, 4)) AS BIGINT) % 256 AS b
      |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
      |  WHERE length(f) > 0),
      |tgt AS (SELECT b, count(*) AS tc FROM feats
      |  WHERE source = 'src0' GROUP BY 1),
      |raw AS (SELECT b, count(*) AS rc FROM feats GROUP BY 1),
      |tot AS (SELECT
      |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS t_tot,
      |    count(*) AS r_tot FROM feats),
      |spine AS (SELECT unnest(range(0, 256)) AS b),
      |lr AS (SELECT spine.b,
      |    CAST(floor(ln(CAST(COALESCE(tc, 0) + 1 AS DOUBLE) * (r_tot + 256) /
      |      (CAST(COALESCE(rc, 0) + 1 AS DOUBLE) * (t_tot + 256)))
      |      * 1000000 + 0.5) AS BIGINT) AS lr_fp
      |  FROM spine LEFT JOIN tgt ON spine.b = tgt.b
      |  LEFT JOIN raw ON spine.b = raw.b CROSS JOIN tot),
      |pd AS (SELECT doc_id, count(*) AS n_feat,
      |    CAST(sum(lr_fp) AS BIGINT) AS w_fp
      |  FROM feats JOIN lr ON feats.b = lr.b GROUP BY 1),
      |tk AS (SELECT doc_id FROM pd
      |  ORDER BY w_fp DESC, doc_id LIMIT 50)
      |SELECT doc_id, n_feat,
      |  floor(CAST(w_fp AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000
      |    AS weight,
      |  doc_id IN (SELECT doc_id FROM tk) AS selected
      |FROM pd ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- C58
  /** Domain-mix planner — the closed-form first step of weighting a
    * training mixture (the DoReMi / Pile recipe shape): given a
    * global token budget (half the corpus here) and uniform target
    * shares across sources, compute each source's sampling rate.
    * Sources smaller than their target cap at rate 1 (a filter
    * pipeline can't upsample); their unused budget is redistributed
    * equally across the uncapped sources in one closed-form round,
    * and the op reports both the naive and final targets, the rate
    * (ppm), and the expected token yield — the numbers a mix config
    * is actually written from.
    *
    * Determinism: all arithmetic is BIGINT (token counts, ppm rates,
    * floor-division); no floats anywhere.
    *
    * 100 TB: one map-side-combinable rollup on source (the only data
    * shuffle); everything after runs on a sources-count-sized table
    * with one-row broadcast totals. */
  def pipelineDomainMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perSource = graft.Tables.table(s, dir, "documents")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split($"text", " "))).cast("long").as("tokens_avail"))
    val totals = perSource.agg(
      sum($"tokens_avail").as("tot_tokens"),
      count(lit(1)).as("k"))
    val targeted = perSource.crossJoin(broadcast(totals))
      .withColumn("target", expr("(tot_tokens div 2) div k"))
      .withColumn("capped", $"tokens_avail" <= $"target")
    val redistribution = targeted.agg(
      sum(when($"capped", $"target" - $"tokens_avail").otherwise(0L))
        .as("surplus"),
      sum(when($"capped", 0L).otherwise(1L)).as("k_open"))
    targeted.crossJoin(broadcast(redistribution))
      .withColumn("final_target",
        when($"capped", $"tokens_avail")
          .otherwise($"target" + expr("surplus div k_open")))
      .select($"source", $"n_docs", $"tokens_avail", $"target", $"capped",
        $"final_target",
        // DECIMAL(38) widen on both ×1e6 products: final_target and
        // tokens_avail are per-source token counts (~1e13 at 100 TB),
        // so a BIGINT multiply overflows (ANSI abort / legacy wrap);
        // the div result is back in ppm / token range, lands as BIGINT
        least(lit(1000000L),
          expr("cast(final_target as decimal(38,0)) * 1000000" +
            " div tokens_avail")).as("rate_ppm"),
        expr("cast(tokens_avail as decimal(38,0)) * least(1000000," +
          " cast(final_target as decimal(38,0)) * 1000000" +
          " div tokens_avail) div 1000000")
          .as("expected_tokens"))
      .orderBy($"source")
  }
  // --------------------------------------------------------------- C80
  /** Per-document DROP LEDGER — the audit artifact a production
    * pipeline keeps next to C14's kept-set: every document gets ONE
    * row naming the FIRST gate that rejected it (fixed priority:
    * length → exact_dup → near_dup → lang → kept), so "why did doc X
    * disappear" and "which gate costs us the most per source" are
    * lookups, not re-runs. Gates and thresholds are EXACTLY C14's
    * (same sub-operators), so ledger['kept'] ≡ clean_corpus's id set
    * by construction.
    *
    * 100 TB: the gate tables are id-only (the text-sized work happens
    * once inside the reused sub-ops); the ledger is three id-keyed
    * left joins + an in-row CASE, and the length gate costs nothing
    * extra (computed from the same scan). */
  def pipelineDropLedger(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.table(s, dir, "documents")
      .select($"doc_id", $"source",
        size(split($"text", " ")).cast("long").as("n_words"))
    val keepers = Dedup.dedupExact(s, dir)
      .select($"keep_doc_id".as("doc_id"), lit(true).as("is_keeper"))
    // r9 verdict item 3: LSH-sourced loser set (see Dedup.nearDupLosers)
    val losers = Dedup.nearDupLosers(s, dir)
      .withColumn("is_loser", lit(true))
    val en = TextOps.textLangid(s, dir)
      .filter($"pred_lang" === "en").select($"doc_id")
      .withColumn("is_en", lit(true))
    docs
      .join(keepers, Seq("doc_id"), "left")
      .join(losers, Seq("doc_id"), "left")
      .join(en, Seq("doc_id"), "left")
      .select($"doc_id", $"source", $"n_words",
        when($"n_words" < 20 || $"n_words" > 95, "1_length")
          .when($"is_keeper".isNull, "2_exact_dup")
          .when($"is_loser".isNotNull, "3_near_dup")
          .when($"is_en".isNull, "4_lang")
          .otherwise("5_kept").as("gate"))
      .withColumn("kept", $"gate" === "5_kept")
      .orderBy($"doc_id")
  }
  val pipelineDropLedgerSql: String = {
    s"""WITH ${Dedup.dupFeedSql},
       |kept AS (SELECT min(doc_id) AS doc_id FROM feed GROUP BY md5(text)),
       |${Dedup.shingledSql},
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
       |co AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |       FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
       |losers AS (SELECT DISTINCT d2 AS doc_id
       |  FROM co JOIN sz x ON x.doc_id = d1 JOIN sz y ON y.doc_id = d2
       |  WHERE floor(inter * 1.0 / (x.n + y.n - inter) * 10000 + 0.5) / 10000 >= 0.8),
       |en AS (SELECT doc_id FROM (${TextOps.textLangidSql.replace("ORDER BY doc_id", "")})
       |  WHERE pred_lang = 'en')
       |SELECT d.doc_id, d.source,
       |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
       |  CASE
       |    WHEN len(string_split(d.text, ' ')) < 20
       |      OR len(string_split(d.text, ' ')) > 95 THEN '1_length'
       |    WHEN d.doc_id NOT IN (SELECT doc_id FROM kept)
       |      THEN '2_exact_dup'
       |    WHEN d.doc_id IN (SELECT doc_id FROM losers) THEN '3_near_dup'
       |    WHEN d.doc_id NOT IN (SELECT doc_id FROM en) THEN '4_lang'
       |    ELSE '5_kept' END AS gate,
       |  CASE
       |    WHEN len(string_split(d.text, ' ')) < 20
       |      OR len(string_split(d.text, ' ')) > 95 THEN FALSE
       |    WHEN d.doc_id NOT IN (SELECT doc_id FROM kept) THEN FALSE
       |    WHEN d.doc_id IN (SELECT doc_id FROM losers) THEN FALSE
       |    WHEN d.doc_id NOT IN (SELECT doc_id FROM en) THEN FALSE
       |    ELSE TRUE END AS kept
       |FROM documents d
       |ORDER BY d.doc_id""".stripMargin
  }

  // --------------------------------------------------------------- C78
  /** Data-constrained EPOCH scheduling (the "Scaling Data-Constrained
    * Language Models" recipe: when the token budget exceeds the
    * unique corpus, plan REPEATS per domain, capped at 4 epochs past
    * which repeated data stops helping): the training budget here is
    * 2× the corpus's unique tokens, split across sources by the C62
    * sqrt-temperature share; each source's target converts to an
    * epoch multiplier (ppm), capped at 4e6, with the effective tokens
    * and whether the cap bound. Closes the mix trio: C58 sets
    * direction (uniform), C62 sets sampling weights, C78 turns the
    * budget into a repeat plan.
    *
    * Determinism + overflow: all shares/multipliers are integral
    * fixed-point with explicit floor division, and every product is
    * SPLIT-multiplied (q·s + r·s div m) so intermediates stay under
    * 2^63 even at 100 TB token counts (tot_tokens ≈ 2.5e13 × 1e6 ppm
    * would overflow a plain multiply — the split keeps each term ≤
    * tot_tokens). sqrt is the one float op (correctly rounded in both
    * engines, C62's argument).
    *
    * 100 TB: one map-side-combinable source rollup, a 1-row broadcast
    * total, then sources-sized arithmetic. */
  def pipelineEpochSchedule(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perSource = graft.Tables.table(s, dir, "documents")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split($"text", " "))).cast("long").as("tokens"))
      .withColumn("sfp",
        floor(sqrt($"tokens".cast("double")) * 1000000 + 0.5).cast("long"))
    val tot = perSource.agg(
      sum($"tokens").as("tot_tokens"), sum($"sfp").as("tot_sfp"))
    perSource.crossJoin(broadcast(tot))
      // DECIMAL(38) widen: sfp = sqrt(tokens)·1e6 reaches ~5e12 when
      // one source holds the whole 2.5e13-token corpus — ×1e6 leaves
      // only 1.8× headroom under 2^63; widened like every ppm site
      .withColumn("share_ppm",
        expr("cast(sfp as decimal(38,0)) * 1000000 div tot_sfp"))
      // target = 2 · tot_tokens · share_ppm / 1e6, split-multiplied
      .withColumn("target_tokens", expr(
        "2 * ((tot_tokens div 1000000) * share_ppm" +
          " + (tot_tokens % 1000000) * share_ppm div 1000000)"))
      // epochs = target / tokens in ppm, split-multiplied, 4-epoch cap.
      // The remainder term is itself split (×1000 twice): r < tokens,
      // so r*1e6 would overflow 2^63 past tokens ≈ 9.2e12, while
      // r*1000 stays safe to tokens ≈ 9.2e15 — comfortably past the
      // 100 TB design point (~2.5e13 tokens). Exact identity:
      // floor(r·1e6/t) = (r·1000 div t)·1000 + ((r·1000 % t)·1000) div t.
      .withColumn("epochs_ppm", least(lit(4000000L), expr(
        "(target_tokens div tokens) * 1000000" +
          " + ((target_tokens % tokens) * 1000 div tokens) * 1000" +
          " + ((target_tokens % tokens) * 1000 % tokens) * 1000 div tokens")))
      .withColumn("effective_tokens", expr(
        "(tokens div 1000000) * epochs_ppm" +
          " + (tokens % 1000000) * epochs_ppm div 1000000"))
      .select($"source", $"n_docs", $"tokens", $"share_ppm",
        $"target_tokens", $"epochs_ppm", $"effective_tokens",
        ($"epochs_ppm" === 4000000L).as("cap_bound"))
      .orderBy($"source")
  }
  val pipelineEpochScheduleSql: String =
    """WITH ps AS (SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY 1),
      |ps2 AS (SELECT *, CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * 1000000
      |    + 0.5) AS BIGINT) AS sfp FROM ps),
      |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS tot_tokens,
      |    CAST(sum(sfp) AS BIGINT) AS tot_sfp FROM ps2),
      |a AS (SELECT *, CAST(CAST(sfp AS HUGEINT) * 1000000 // tot_sfp
      |    AS BIGINT) AS share_ppm
      |  FROM ps2 CROSS JOIN t),
      |b AS (SELECT *,
      |    2 * ((tot_tokens // 1000000) * share_ppm
      |      + (tot_tokens % 1000000) * share_ppm // 1000000)
      |      AS target_tokens
      |  FROM a),
      |c AS (SELECT *, least(4000000,
      |    (target_tokens // tokens) * 1000000
      |      + ((target_tokens % tokens) * 1000 // tokens) * 1000
      |      + ((target_tokens % tokens) * 1000 % tokens) * 1000 // tokens
      |    ) AS epochs_ppm
      |  FROM b)
      |SELECT source, n_docs, tokens, share_ppm, target_tokens,
      |  CAST(epochs_ppm AS BIGINT) AS epochs_ppm,
      |  (tokens // 1000000) * epochs_ppm
      |    + (tokens % 1000000) * epochs_ppm // 1000000
      |    AS effective_tokens,
      |  epochs_ppm = 4000000 AS cap_bound
      |FROM c ORDER BY source""".stripMargin

  // --------------------------------------------------------------- C62
  /** Temperature-scaled source sampling (the multilingual-LM recipe:
    * p_i ∝ (n_i/Σn)^α) at α = 1/2, i.e. T = 2 — C58's complement:
    * domain_mix targets UNIFORM shares, this flattens the NATURAL
    * distribution partway, up-weighting small sources without
    * drowning large ones. Per source: token count, natural share,
    * temperature share, and the boost factor temp/natural.
    *
    * α = 1/2 is deliberately the sqrt point: IEEE-754 sqrt is
    * correctly rounded in both engines (pow is libm-dependent and
    * banned by the determinism conventions). Each source's √tokens
    * is fixed-pointed to 1e-6 BIGINT before the cross-source sum, so
    * the normalizer is addition-order-free.
    *
    * 100 TB: one map-side-combinable source rollup is the only data
    * shuffle; the share algebra runs on a sources-sized table with a
    * one-row broadcast total. */
  def pipelineTemperatureMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perSource = graft.Tables.table(s, dir, "documents")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split($"text", " "))).cast("long").as("tokens"))
      .withColumn("sfp",
        floor(sqrt($"tokens".cast("double")) * 1000000 + 0.5).cast("long"))
    val tot = perSource.agg(
      sum($"tokens").as("tot_tokens"), sum($"sfp").as("tot_sfp"))
    perSource.crossJoin(broadcast(tot))
      .select($"source", $"n_docs", $"tokens",
        floor($"tokens" * 1000000.0 / $"tot_tokens" + 0.5).cast("long")
          .as("natural_ppm"),
        floor($"sfp" * 1000000.0 / $"tot_sfp" + 0.5).cast("long")
          .as("temp_ppm"),
        (floor(($"sfp" * 1000000.0 / $"tot_sfp")
          / ($"tokens" * 1000000.0 / $"tot_tokens") * 10000 + 0.5) / 10000)
          .as("boost"))
      .orderBy($"source")
  }
  val pipelineTemperatureMixSql: String =
    """WITH ps AS (SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY 1),
      |ps2 AS (SELECT *, CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * 1000000
      |    + 0.5) AS BIGINT) AS sfp FROM ps),
      |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS tot_tokens,
      |    CAST(sum(sfp) AS BIGINT) AS tot_sfp FROM ps2)
      |SELECT source, n_docs, tokens,
      |  CAST(floor(tokens * 1000000.0 / tot_tokens + 0.5) AS BIGINT)
      |    AS natural_ppm,
      |  CAST(floor(sfp * 1000000.0 / tot_sfp + 0.5) AS BIGINT)
      |    AS temp_ppm,
      |  floor((sfp * 1000000.0 / tot_sfp)
      |    / (tokens * 1000000.0 / tot_tokens) * 10000 + 0.5) / 10000
      |    AS boost
      |FROM ps2 CROSS JOIN t ORDER BY source""".stripMargin

  val pipelineDomainMixSql: String =
    """WITH ps AS (SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens_avail
      |  FROM documents GROUP BY 1),
      |t AS (SELECT CAST(sum(tokens_avail) AS BIGINT) AS tot_tokens,
      |    CAST(count(*) AS BIGINT) AS k FROM ps),
      |tg AS (SELECT ps.*, (tot_tokens // 2) // k AS target,
      |    tokens_avail <= (tot_tokens // 2) // k AS capped
      |  FROM ps CROSS JOIN t),
      |rd AS (SELECT
      |    CAST(sum(CASE WHEN capped THEN target - tokens_avail
      |      ELSE 0 END) AS BIGINT) AS surplus,
      |    CAST(sum(CASE WHEN capped THEN 0 ELSE 1 END) AS BIGINT) AS k_open
      |  FROM tg),
      |fin AS (SELECT tg.*,
      |    CASE WHEN capped THEN tokens_avail
      |      ELSE target + surplus // k_open END AS final_target
      |  FROM tg CROSS JOIN rd)
      |SELECT source, n_docs, tokens_avail, target, capped, final_target,
      |  CAST(least(CAST(1000000 AS HUGEINT),
      |    CAST(final_target AS HUGEINT) * 1000000 // tokens_avail)
      |    AS BIGINT) AS rate_ppm,
      |  CAST(CAST(tokens_avail AS HUGEINT) * least(CAST(1000000 AS HUGEINT),
      |    CAST(final_target AS HUGEINT) * 1000000 // tokens_avail)
      |    // 1000000 AS BIGINT) AS expected_tokens
      |FROM fin ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_span_dedup" -> (TextOps.textSpanDedup _),
    "pipeline_epoch_schedule" -> (pipelineEpochSchedule _),
    "pipeline_drop_ledger" -> (pipelineDropLedger _),
    "pipeline_domain_mix" -> (pipelineDomainMix _),
    "pipeline_importance_weights" -> (pipelineImportanceWeights _),
    "pipeline_temperature_mix" -> (pipelineTemperatureMix _),
    "emb_dim_stats" -> (Ann.embDimStats _),
    "emb_outliers" -> (Ann.embOutliers _),
    "emb_anisotropy" -> (Ann.embAnisotropy _),
    "emb_whiten" -> (Ann.embWhiten _),
    "emb_index_shards" -> (Ann.embIndexShards _),
    "emb_knn_graph" -> (Ann.embKnnGraphAudit _),
    "pipeline_split_holdout" -> (pipelineSplitHoldout _),
    "pipeline_filter_overlap" -> (pipelineFilterOverlap _),
    "pipeline_dataset_diff" -> (pipelineDatasetDiff _),
    "pipeline_length_buckets" -> (pipelineLengthBuckets _),
    "pipeline_stream_ingest" -> (pipelineStreamIngest _),
    "pipeline_validate" -> (pipelineValidate _),
    "pipeline_stratified_sample" -> (pipelineStratifiedSample _),
    "pipeline_zorder_layout" -> (pipelineZorderLayout _),
    "pipeline_token_budget" -> (pipelineTokenBudget _),
    "pipeline_quality_gate" -> (pipelineQualityGate _),
    "pipeline_quality_gate_approx" -> (pipelineQualityGateApprox _),
    "pipeline_dataset_card" -> (pipelineDatasetCard _),
    "pipeline_shard_manifest" -> (pipelineShardManifest _),
    "pipeline_canonical_corpus" -> (pipelineCanonicalCorpus _),
    "pipeline_clean_corpus" -> (pipelineCleanCorpus _),
    "corpus_stats" -> (corpusStats _),
    "emb_quantize" -> (embQuantize _),
    "pipeline_mix_sample" -> (pipelineMixSample _),
    "dedup_exact" -> (Dedup.dedupExact _),
    "dedup_ngram_jaccard" -> (Dedup.dedupNgramJaccard _),
    "dedup_survival_curve" -> (Dedup.dedupSurvivalCurve _),
    "pipeline_stream_neardup" -> (pipelineStreamNeardup _),
    "dedup_minhash_lsh" -> (Dedup.dedupMinhashLsh _),
    "dedup_simhash" -> (Dedup.dedupSimhashAudit _),
    "dedup_cluster" -> (Dedup.dedupCluster _),
    "dedup_containment" -> (Dedup.dedupContainment _),
    "dedup_substring" -> (Dedup.dedupSubstring _),
    "dedup_embedding" -> (Dedup.dedupEmbedding _),
    "dedup_semantic" -> (Dedup.dedupSemantic _),
    "ann_bruteforce" -> (Ann.annBruteforce _),
    "ann_lsh" -> (Ann.annLshAudit _),
    "ann_ivf" -> (Ann.annIvfAudit _),
    "ann_filtered" -> (Ann.annFiltered _),
    "ann_nprobe_sweep" -> (Ann.annNprobeSweep _),
    "ann_ivf_pq" -> (Ann.annIvfPq _),
    "emb_cluster_assign" -> (Ann.embClusterAssign _),
    "emb_random_projection" -> (Ann.embRandomProjection _),
    "emb_matryoshka" -> (Ann.embMatryoshka _),
    "emb_centroid_drift" -> (Ann.embCentroidDrift _),
    "emb_pq_encode" -> (Ann.embPqEncode _),
    "text_langid" -> (TextOps.textLangid _),
    "text_quality" -> (TextOps.textQuality _),
    "text_tokens" -> (TextOps.textTokens _),
    "text_fingerprint" -> (TextOps.textFingerprint _),
    "text_decontaminate" -> (TextOps.textDecontaminate _),
    "text_chunk" -> (TextOps.textChunk _),
    "pack_sequences" -> (TextOps.packSequences _),
    "text_scrub" -> (TextOps.textScrub _),
    "text_repetition" -> (TextOps.textRepetition _),
    "text_idf_rarity" -> (TextOps.textIdfRarity _),
    "text_lm_score" -> (TextOps.textLmScore _),
    "text_ccnet_buckets" -> (TextOps.textCcnetBuckets _),
    "text_dup_ngram_coverage" -> (TextOps.textDupNgramCoverage _),
    "text_vocab" -> (TextOps.textVocab _),
    "text_bpe_pairs" -> (TextOps.textBpePairs _),
    "text_bpe_apply" -> (TextOps.textBpeApply _),
    "text_bm25_topk" -> (TextOps.textBm25Topk _),
    "text_bloom_decontaminate" -> (TextOps.textBloomDecontaminate _),
    "text_winnowing" -> (TextOps.textWinnowing _),
    "text_entropy" -> (TextOps.textEntropy _),
    "text_domain_signature" -> (TextOps.textDomainSignature _),
    "text_langid_confusion" -> (TextOps.textLangidConfusion _),
    "text_quality_rules" -> (TextOps.textQualityRules _),
    "text_lm_bigram" -> (TextOps.textLmBigram _),
    "mm_manifest" -> (Multimodal.mmManifest _),
    "mm_frames" -> (Multimodal.mmFrames _),
    "mm_dedup" -> (Multimodal.mmDedup _),
    "mm_phash_neardup" -> (Multimodal.mmPhashNeardup _),
    "mm_canonical" -> (Multimodal.mmCanonical _),
    "mm_text_pairs" -> (Multimodal.mmTextPairs _),
    "mm_scene_segments" -> (Multimodal.mmSceneSegments _))

  val oracles: Map[String, String] = Map(
    "text_span_dedup" -> TextOps.textSpanDedupSql,
    "pipeline_epoch_schedule" -> pipelineEpochScheduleSql,
    "pipeline_drop_ledger" -> pipelineDropLedgerSql,
    "pipeline_domain_mix" -> pipelineDomainMixSql,
    "pipeline_importance_weights" -> pipelineImportanceWeightsSql,
    "pipeline_temperature_mix" -> pipelineTemperatureMixSql,
    "emb_dim_stats" -> Ann.embDimStatsSql,
    "emb_outliers" -> Ann.embOutliersSql,
    "emb_anisotropy" -> Ann.embAnisotropySql,
    "emb_whiten" -> Ann.embWhitenSql,
    "emb_index_shards" -> Ann.embIndexShardsSql,
    "emb_knn_graph" -> Ann.embKnnGraphAuditSql,
    "pipeline_filter_overlap" -> pipelineFilterOverlapSql,
    "pipeline_split_holdout" -> pipelineSplitHoldoutSql,
    "pipeline_dataset_diff" -> pipelineDatasetDiffSql,
    "pipeline_length_buckets" -> pipelineLengthBucketsSql,
    "pipeline_stream_ingest" -> pipelineStreamIngestSql,
    "pipeline_validate" -> pipelineValidateSql,
    "pipeline_stratified_sample" -> pipelineStratifiedSampleSql,
    "pipeline_zorder_layout" -> pipelineZorderLayoutSql,
    "pipeline_token_budget" -> pipelineTokenBudgetSql,
    "pipeline_quality_gate" -> pipelineQualityGateSql,
    "pipeline_quality_gate_approx" -> pipelineQualityGateApproxSql,
    "pipeline_dataset_card" -> pipelineDatasetCardSql,
    "pipeline_shard_manifest" -> pipelineShardManifestSql,
    "pipeline_canonical_corpus" -> pipelineCanonicalCorpusSql,
    "pipeline_clean_corpus" -> pipelineCleanCorpusSql,
    "corpus_stats" -> corpusStatsSql,
    "emb_quantize" -> embQuantizeSql,
    "pipeline_mix_sample" -> pipelineMixSampleSql,
    "dedup_exact" -> Dedup.dedupExactSql,
    "dedup_ngram_jaccard" -> Dedup.dedupNgramJaccardSql,
    "dedup_survival_curve" -> Dedup.dedupSurvivalCurveSql,
    "pipeline_stream_neardup" -> pipelineStreamNeardupSql,
    "dedup_minhash_lsh" -> Dedup.dedupMinhashLshSql,
    "dedup_simhash" -> Dedup.dedupSimhashAuditSql,
    "dedup_cluster" -> Dedup.dedupClusterSql,
    "dedup_containment" -> Dedup.dedupContainmentSql,
    "dedup_substring" -> Dedup.dedupSubstringSql,
    "dedup_embedding" -> Dedup.dedupEmbeddingSql,
    "dedup_semantic" -> Dedup.dedupSemanticSql,
    "ann_bruteforce" -> Ann.annBruteforceSql,
    "ann_lsh" -> Ann.annAuditSql,
    "ann_ivf" -> Ann.annAuditSql,
    "ann_filtered" -> Ann.annAuditSql,
    "ann_nprobe_sweep" -> Ann.annNprobeSweepSql,
    "ann_ivf_pq" -> Ann.annIvfPqSql,
    "emb_cluster_assign" -> Ann.embClusterAssignSql,
    "emb_random_projection" -> Ann.embRandomProjectionSql,
    "emb_matryoshka" -> Ann.embMatryoshkaSql,
    "emb_centroid_drift" -> Ann.embCentroidDriftSql,
    "emb_pq_encode" -> Ann.embPqEncodeSql,
    "text_fingerprint" -> TextOps.textFingerprintSql,
    "text_decontaminate" -> TextOps.textDecontaminateSql,
    "text_chunk" -> TextOps.textChunkSql,
    "pack_sequences" -> TextOps.packSequencesSql,
    "text_langid" -> TextOps.textLangidSql,
    "text_quality" -> TextOps.textQualitySql,
    "text_tokens" -> TextOps.textTokensSql,
    "text_scrub" -> TextOps.textScrubSql,
    "text_repetition" -> TextOps.textRepetitionSql,
    "text_idf_rarity" -> TextOps.textIdfRaritySql,
    "text_lm_score" -> TextOps.textLmScoreSql,
    "text_ccnet_buckets" -> TextOps.textCcnetBucketsSql,
    "text_dup_ngram_coverage" -> TextOps.textDupNgramCoverageSql,
    "text_vocab" -> TextOps.textVocabSql,
    "text_bpe_pairs" -> TextOps.textBpePairsSql,
    "text_bpe_apply" -> TextOps.textBpeApplySql,
    "text_bm25_topk" -> TextOps.textBm25TopkSql,
    "text_bloom_decontaminate" -> TextOps.textBloomDecontaminateSql,
    "text_winnowing" -> TextOps.textWinnowingSql,
    "text_entropy" -> TextOps.textEntropySql,
    "text_domain_signature" -> TextOps.textDomainSignatureSql,
    "text_langid_confusion" -> TextOps.textLangidConfusionSql,
    "text_quality_rules" -> TextOps.textQualityRulesSql,
    "text_lm_bigram" -> TextOps.textLmBigramSql,
    "mm_manifest" -> Multimodal.mmManifestSql,
    "mm_frames" -> Multimodal.mmFramesSql,
    "mm_dedup" -> Multimodal.mmDedupSql,
    "mm_phash_neardup" -> Multimodal.mmPhashNeardupSql,
    "mm_canonical" -> Multimodal.mmCanonicalSql,
    "mm_text_pairs" -> Multimodal.mmTextPairsSql,
    "mm_scene_segments" -> Multimodal.mmSceneSegmentsSql)
}
