package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{r4, table}

/** C6–C7: similarity search over the `embeddings` table.
  *
  * Scale posture: the query set is tiny (it is collected & broadcast —
  * the ONE legitimate collect in this codebase); the corpus side
  * streams through the scan once. Brute force is the exact baseline
  * (cost Q×N fused-codegen cosines, no shuffle until the per-query
  * top-k); the LSH variant prunes the corpus to matching hyperplane
  * buckets first, which is the 100 TB path (bucket join instead of
  * cross product).
  */
object Ann {

  val K = 10
  /** Query vectors: vec_id < 8 (deterministic tiny query set). */
  val QueryIds = 8

  /** Valid-vector contract (dirty-data posture, r10; non-finite class
    * r12): real corpora carry NULL embeddings (failed encoder calls),
    * all-zero vectors (zeroed buffers), and NaN/±Inf-element vectors
    * (overflowed encoders) — cosine normalization and codebook training
    * are undefined on all three, and leaving them in makes every
    * downstream result depend on each engine's null/zero-division/NaN
    * convention (DuckDB's x/0 is NULL, ANSI Spark aborts, NaN poisons
    * both — silent divergence or a corpus-wide crash). The embeddings
    * surface therefore operates UNIFORMLY on the valid-vector corpus:
    * present, finite-norm, norm > 0. Every oracle in this file carries
    * the same predicate verbatim ([[ValidVecSql]]); the dirty parity
    * gate (tools/DirtyData + selfcheck) proves the equivalence on a
    * corpus where all three defect classes are present. */
  /** Spark side of the contract: the codegen `vec_valid` kernel
    * ([[graft.functions.HashOps.vecValid]]) — one fused pass checking
    * element NULLs and a FINITE, positive sum of squares. Non-finite
    * norms are the THIRD defect class (r12, prompted by r11 ADVICE and
    * widened from NaN-only by the r12 review): a plain
    * `list_sum(...x*x...) > 0` oracle fold would KEEP NaN vectors
    * (both engines order NaN > 0), a NaN-only gate would still keep
    * ±Inf/overflow vectors, and both poison every downstream kernel on
    * both engines — so [[ValidVecSql]] carries an explicit
    * `isfinite(list_sum(...))` term mirroring the kernel's
    * `isFinite(ss)`, and the dirty replica's NaN and Inf slices pin
    * the agreement.
    * The NULL-ELEMENT term
    * matters for cross-engine parity even though a sum-of-squares
    * fold alone would exclude such rows in Spark: DuckDB's list_sum
    * SKIPS null elements, so a [NULL, 0.3, …] vector would silently
    * stay in every oracle while Spark dropped it (r10 review). The
    * r10 form ran two interpreted higher-order-function passes per
    * row at every embeddings scan and cost the family 1.5–3× (r10
    * verdict finding #1); this is the codegen replacement. NULL
    * input → NULL here vs false before — identical under every call
    * site, which are all Filters. Resolves through the session's
    * function registry ([[graft.GraftExtensions]]). */
  def validVec(v: Column): Column = call_function("vec_valid", v)

  /** DuckDB twin of [[validVec]], interpolated VERBATIM into every
    * embeddings oracle here, in Dedup.nearFeedSql, and in
    * PipelineQueries.embQuantizeSql — one spelling, one edit point.
    * The fold squares in DOUBLE, not the column's FLOAT domain (r13,
    * from r12 ADVICE): `embedding` is FLOAT[] in the parquet, so a
    * bare `x * x` squares in float and an element with |x| in
    * (~1.84e19, floatmax] overflows to +Inf mid-fold — the overflow
    * BOUNDARY then depends on float rounding order, not on the
    * contract. Both engines instead compute the same IEEE double sum
    * and compare it to the same explicit bound,
    * [[graft.functions.HashOps.VecNormCap]] (float max): the
    * finite-but-huge class is DROPPED by both — r13 measured that
    * keeping it poisons 11 downstream queries' int64 fixed-point
    * envelopes on the dirty replica, so it is an overflowed-encoder
    * defect exactly like NaN/±Inf. The dirty replica's vec_id%23==17
    * slice (a finite 1e20f element, double ss ~1e40) pins the
    * cross-engine agreement. */
  val ValidVecSql: String =
    "embedding IS NOT NULL AND" +
      " len(list_filter(embedding, x -> x IS NULL)) = 0 AND" +
      " isfinite(list_sum(list_transform(embedding," +
      "   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AND" +
      " list_sum(list_transform(embedding," +
      "   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0 AND" +
      " list_sum(list_transform(embedding," +
      "   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) <= 3.4028234663852886e38"

  private def corpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .filter(validVec($"v"))
  }

  // ---------------------------------------------------------------- C6
  /** Exact cosine top-k per query via broadcast cross join + fused
    * [[graft.functions.HashOps.cosine]] + per-query window top-k.
    * Ranking uses the *rounded* cosine with vec_id tie-break so the
    * order is reproducible across engines. */
  def annBruteforce(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, dir)
    val q = c.filter($"vec_id" < QueryIds)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        r4(expr("cosine_sim(qv, v)")).as("cos"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cos".desc, $"neighbor_id")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= K)
      .select($"query_id", $"rank", $"neighbor_id", $"cos")
      .orderBy($"query_id", $"rank")
  }
  val annBruteforceSql: String =
    s"""WITH n AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE $ValidVecSql),
       |m AS (SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM n),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
       |      FROM m WHERE vec_id < $QueryIds),
       |sc AS (SELECT q.query_id, m.vec_id AS neighbor_id,
       |    floor(list_sum(list_transform(list_zip(q.qv, m.v),
       |      p -> p[1] * p[2])) / (q.qn * m.nrm) * 10000 + 0.5) / 10000 AS cos
       |  FROM m CROSS JOIN q WHERE m.vec_id <> q.query_id),
       |r AS (SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM sc)
       |SELECT query_id, rank, neighbor_id, cos FROM r
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // --------------------------------------------------------------- C7b
  /** IVF (inverted-file) ANN: a coarse spherical-k-means quantizer
    * partitions the corpus into K cells; a query probes its `nprobe`
    * nearest centroids and exact-reranks only those cells' vectors.
    *
    * Training is Lloyd iterations as plain DataFrame ops: assignment is
    * a broadcast join against the (tiny) centroid table, the update
    * step recomputes element-wise means via posexplode + groupBy —
    * both distributed, no driver-side vectors. Deterministic: seeds
    * are the K lowest vec_ids. At 100 TB the cell assignment is the
    * partition key (cluster-by cell on write), so a probe touches
    * nprobe/K of the data; K scales with corpus size (√N rule). */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val NProbe = 4
    val (assigned, probesAll) = ivfModel(s, dir)
    val probes = probesAll.filter($"pr" <= NProbe)
      .select($"query_id", $"qv", $"cluster")

    val cand = assigned.join(broadcast(probes), "cluster")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        r4(expr("cosine_sim(qv, v)")).as("cos"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cos".desc, $"neighbor_id")
    cand.withColumn("rank", row_number().over(w))
      .filter($"rank" <= Ann.K)
      .select($"query_id", $"rank", $"neighbor_id", $"cos")
      .orderBy($"query_id", $"rank")
  }

  /** Shared IVF model (C7b + C75): K=16 spherical-k-means coarse
    * quantizer, 2 Lloyd iterations (assignment = broadcast centroid
    * join, update = posexplode per-dim means — all DataFrame ops),
    * returning (cell assignment, per-query probe ranking up to rank
    * 8). Extracted so the nprobe sweep reuses the EXACT training
    * trajectory C7b's recall contract is calibrated on. */
  private def ivfModel(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val K = 16; val Iters = 2
    val c = graft.Tables.spread(s, corpus(s, dir))

    var centroids = c.orderBy($"vec_id").limit(K)
      .select(row_number().over(Window.orderBy($"vec_id")).as("cluster"),
        $"v".as("cv"))
    for (_ <- 1 to Iters) {
      val assigned = c.crossJoin(broadcast(centroids))
        .withColumn("sim", expr("cosine_sim(v, cv)"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"vec_id").orderBy($"sim".desc, $"cluster")))
        .filter($"rn" === 1)
        .select($"vec_id", $"cluster", $"v")
      centroids = assigned
        .select($"cluster", posexplode($"v").as(Seq("pos", "x")))
        .groupBy($"cluster", $"pos").agg(avg($"x").as("m"))
        .groupBy($"cluster")
        .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
          e => e("m")).as("cv"))
    }
    val assigned = c.crossJoin(broadcast(centroids))
      .withColumn("sim", expr("cosine_sim(v, cv)"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"sim".desc, $"cluster")))
      .filter($"rn" === 1)
      .select($"vec_id", $"cluster", $"v")

    val probes = c.filter($"vec_id" < QueryIds)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
      .crossJoin(broadcast(centroids))
      .withColumn("sim", expr("cosine_sim(qv, cv)"))
      .withColumn("pr", row_number().over(
        Window.partitionBy($"query_id").orderBy($"sim".desc, $"cluster")))
      .filter($"pr" <= 8)
      .select($"query_id", $"qv", $"cluster", $"pr")
    (assigned, probes)
  }

  // ------------------------------------------------- C7/C7b driver gate
  /** Recall-contract audit of an approximate ANN operator vs the exact
    * baseline — the driver-gate face of C7/C7b (the sketch pattern of
    * B20/B21: the oracle pins exact facts plus contract booleans; an
    * estimator regression flips a boolean and fails the hash).
    *
    * Per query: `recall_ok` = |approx top-K ∩ exact top-K| ≥ `minHits`;
    * the TOTAL row (query_id −1) asserts the mean-recall floor. Floors
    * sit below the measured per-SF values (LSH min-hits 2–9 / mean
    * 0.43–0.63, IVF min-hits 7–10 / mean 0.85–1.0 across
    * sf0.001/0.01/0.1; SURVEY.md §2 C7/C7b), so they fail only on a
    * genuine regression.
    * Neighbor-level detail stays spec-checked in AnnSpec. */
  private def recallAudit(s: SparkSession, dir: String,
      approx: DataFrame, minHits: Int, meanFloor: Double): DataFrame = {
    import s.implicits._
    val exact = annBruteforce(s, dir).select($"query_id", $"neighbor_id")
    val hits = approx.select($"query_id", $"neighbor_id")
      .join(exact, Seq("query_id", "neighbor_id"))
      .groupBy($"query_id").agg(count(lit(1)).as("n_hits"))
    // left join from the deterministic query-id list: a query with an
    // empty approximate result surfaces as n_hits 0 → FALSE, not as a
    // silently missing row
    val per = corpus(s, dir).filter($"vec_id" < QueryIds)
      .select($"vec_id".as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select($"query_id", coalesce($"n_hits", lit(0L)).as("n_hits"))
    // mean floor scales by the ACTUAL query count, in-plan — the
    // valid-vector contract can shrink the query set (dirty corpora),
    // and a floor pinned to the nominal QueryIds would demand
    // impossible recall from the remaining queries (r10 dirty audit)
    // coalesce: an EMPTY valid query set (pathological corpus) must
    // yield TRUE (0 >= 0), matching the oracle spine, not NULL
    val total = per.agg(
        (coalesce(sum($"n_hits"), lit(0L)).cast("double") >=
          lit(meanFloor * K) * count(lit(1))).as("recall_ok"))
      .select(lit(-1L).as("query_id"), $"recall_ok")
    per.select($"query_id", ($"n_hits" >= minHits).as("recall_ok"))
      .unionByName(total)
      .orderBy($"query_id")
  }
  def annLshAudit(s: SparkSession, dir: String): DataFrame =
    recallAudit(s, dir, annLsh(s, dir), minHits = 1, meanFloor = 0.35)
  def annIvfAudit(s: SparkSession, dir: String): DataFrame =
    recallAudit(s, dir, annIvf(s, dir), minHits = 5, meanFloor = 0.75)
  /** Oracle: the contract must hold for every query and in total. */
  val annAuditSql: String =
    s"""SELECT query_id, TRUE AS recall_ok FROM (
       |  SELECT CAST(-1 AS BIGINT) AS query_id
       |  UNION ALL
       |  SELECT vec_id FROM embeddings WHERE $ValidVecSql AND vec_id < $QueryIds)
       |ORDER BY query_id""".stripMargin

  // --------------------------------------------------------------- C79
  /** FILTERED vector search (the production ANN problem Qdrant/
    * pgvector call metadata filtering): top-K cosine neighbors among
    * only the vectors whose joined document row passes a predicate
    * (lang = 'en' here; vec_id = doc_id links the tables). The naive
    * IVF mistake is filtering AFTER a fixed-nprobe probe — a filter
    * keeping share σ thins every probed cell by σ and recall
    * collapses. The over-probe rule is derived IN-PLAN from the data:
    * probe ceil(BaseProbe / σ) cells (integer ceil-div on a 1-row
    * broadcast of match/total counts, capped at the probe table's
    * depth), so the candidate volume after filtering matches the
    * unfiltered design point. Semi-join applies the filter to the
    * cell lists BEFORE any cosine is computed — the filtered-out
    * vectors cost nothing.
    *
    * Driver face = the C7/C7b recall-contract audit vs the FILTERED
    * exact brute force (computed in-plan): per-query hit floors + a
    * total-mean floor calibrated under the measured per-SF values
    * (AnnSpec pins the measured recall itself).
    *
    * 100 TB: the filter arrives as a semi-join on the cell-partitioned
    * corpus (predicate pushdown onto the metadata scan); σ's 1-row
    * broadcast replaces a driver round-trip; probe depth grows only
    * as 1/σ — a 1% filter probes 100× the cells but still touches
    * ~BaseProbe/K of the corpus post-filter. */
  def annFiltered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val BaseProbe = 2
    val keep = table(s, dir, "documents").filter($"lang" === "en")
      .select($"doc_id".as("vec_id"))
    val (assigned, probesAll) = ivfModel(s, dir)
    val sel = corpus(s, dir).join(keep, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_match"))
      .crossJoin(corpus(s, dir).agg(count(lit(1)).as("n_total")))
    // Named failure on an empty filter set (r9 ADVICE): n_match = 0
    // would integer-divide by zero → NULL probe depth → every probe
    // silently dropped → all-false recall rows. The raise_error branch
    // lives INSIDE the filter expression (not a prunable side column),
    // so it cannot be optimized away and fires by name instead.
    val probes = probesAll.crossJoin(broadcast(sel))
      .filter($"pr" <= least(lit(8), expr(
        s"CASE WHEN n_match > 0 THEN ($BaseProbe * n_total + n_match - 1) div n_match" +
          " ELSE raise_error('ann_filtered: metadata filter matched zero" +
          " corpus vectors — over-probe depth undefined') END")))
      .select($"query_id", $"qv", $"cluster")
    val cand = assigned.join(keep, Seq("vec_id"), "left_semi")
      .join(broadcast(probes), "cluster")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        r4(expr("cosine_sim(qv, v)")).as("cos"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"cos".desc, $"neighbor_id")
    val top = cand.withColumn("rank", row_number().over(w))
      .filter($"rank" <= K)
    // filtered exact baseline, in-plan (annBruteforce is unfiltered)
    val q = corpus(s, dir).filter($"vec_id" < QueryIds)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val exact = corpus(s, dir).join(keep, Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        r4(expr("cosine_sim(qv, v)")).as("ecos"))
      .withColumn("rank", row_number().over(Window.partitionBy($"query_id")
        .orderBy($"ecos".desc, $"neighbor_id")))
      .filter($"rank" <= K)
      .select($"query_id", $"neighbor_id")
    val hits = top.select($"query_id", $"neighbor_id")
      .join(exact, Seq("query_id", "neighbor_id"))
      .groupBy($"query_id").agg(count(lit(1)).as("n_hits"))
    val per = corpus(s, dir).filter($"vec_id" < QueryIds)
      .select($"vec_id".as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select($"query_id", coalesce($"n_hits", lit(0L)).as("n_hits"))
    // in-plan query count + empty-set coalesce, as in recallAudit
    val total = per.agg(
        (coalesce(sum($"n_hits"), lit(0L)).cast("double") >=
          lit(0.70 * K) * count(lit(1))).as("recall_ok"))
      .select(lit(-1L).as("query_id"), $"recall_ok")
    per.select($"query_id", ($"n_hits" >= 5).as("recall_ok"))
      .unionByName(total)
      .orderBy($"query_id")
  }

  // --------------------------------------------------------------- C75
  /** nprobe sweep — the recall/cost tuning curve an IVF deployment
    * reads before fixing its probe count (the C7b knob, measured
    * instead of guessed): ONE training pass + ONE candidate join at
    * the maximum probe depth, then every nprobe ∈ {1, 2, 4, 8} ranks
    * its own prefix of the SAME candidate set (a candidate's `pr` is
    * the rank of its cell for that query, so "probed at depth np" is
    * just pr ≤ np — no per-np re-probing, no extra corpus scans).
    *
    * Driver gate = the C7/C7b recall-contract pattern: per
    * (nprobe, query) hit floors + a per-nprobe mean floor, all
    * calibrated below the measured per-SF values so only a genuine
    * regression flips a boolean; the exact top-K comes from the
    * in-plan brute-force baseline.
    *
    * 100 TB: the sweep costs ONE nprobe=8 search; per-np ranking
    * re-windows candidate lists of ≤ 8 cells' worth of (id, cos)
    * pairs. The zero-hit spine join keeps empty (query, np) cells
    * explicit (FALSE, not silently missing). */
  def annNprobeSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (assigned, probes) = ivfModel(s, dir)
    val cand = assigned.join(broadcast(probes), "cluster")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"pr", $"vec_id".as("neighbor_id"),
        r4(expr("cosine_sim(qv, v)")).as("cos"))
      .persist()
    val nps = Seq(1, 2, 4, 8).toDF("nprobe")
    val w = Window.partitionBy($"query_id", $"nprobe")
      .orderBy($"cos".desc, $"neighbor_id")
    val top = cand.join(broadcast(nps), $"pr" <= $"nprobe")
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= K)
    val exact = annBruteforce(s, dir).select($"query_id", $"neighbor_id")
    val hits = top.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy($"query_id", $"nprobe").agg(count(lit(1)).as("n_hits"))
    val spine = corpus(s, dir).filter($"vec_id" < QueryIds)
      .select($"vec_id".as("query_id")).crossJoin(broadcast(nps))
    val per = spine.join(hits, Seq("query_id", "nprobe"), "left")
      .select($"nprobe", $"query_id",
        coalesce($"n_hits", lit(0L)).as("n_hits"))
    // floors sit below the measured per-SF values (min-hits 5/6/7/8,
    // means 0.70/0.75/0.85/0.94 across sf0.001–0.1) with margin, so
    // only a genuine regression flips a boolean
    val minHits = when($"nprobe" === 1, 3).when($"nprobe" === 2, 4)
      .when($"nprobe" === 4, 5).otherwise(6)
    // mean floor in integer HUNDREDTHS so the gate below is all-integer
    // arithmetic: a raw double product (0.55·K·n_q = 44.000000000000006)
    // can flip an exact-boundary recall from pass to fail on binary
    // representation error alone (r10 ADVICE)
    val meanFloorPct = when($"nprobe" === 1, 50L).when($"nprobe" === 2, 55L)
      .when($"nprobe" === 4, 70L).otherwise(80L)
    // in-plan query count, anchored on the STATIC nprobe spine: with
    // an empty valid query set the groupBy would emit no total rows at
    // all while the oracle still expects one TRUE per depth
    val total = nps
      .join(per.groupBy($"nprobe")
          .agg(sum($"n_hits").as("sum_hits"), count(lit(1)).as("n_q")),
        Seq("nprobe"), "left")
      .select($"nprobe", lit(-1L).as("query_id"),
        (coalesce($"sum_hits", lit(0L)) * 100L >=
          meanFloorPct * K * coalesce($"n_q", lit(0L))).as("recall_ok"))
    per.select($"nprobe", $"query_id", ($"n_hits" >= minHits).as("recall_ok"))
      .unionByName(total)
      .orderBy($"nprobe", $"query_id")
  }
  /** Oracle: the contract must hold at every probe depth. */
  val annNprobeSweepSql: String =
    s"""SELECT nprobe, query_id, TRUE AS recall_ok FROM
       |  (SELECT unnest([1, 2, 4, 8]) AS nprobe) np
       |CROSS JOIN (
       |  SELECT CAST(-1 AS BIGINT) AS query_id
       |  UNION ALL
       |  SELECT vec_id FROM embeddings WHERE $ValidVecSql AND vec_id < $QueryIds) q
       |ORDER BY nprobe, query_id""".stripMargin

  // --------------------------------------------------------------- C23
  /** Nearest-centroid assignment (the labeling pass of embedding-space
    * clustering, and IVF's cell-assignment step as a first-class op):
    * every corpus vector is assigned to its nearest of 8 fixed
    * centroids (the vec_id < 8 embeddings — deterministic, so the
    * oracle can recompute the argmax). Ranking argmax uses the ROUNDED
    * cosine + centroid-id tie-break, the cross-engine-reproducible
    * ordering proven in C6.
    *
    * 100 TB: centroids broadcast (a few KB), the corpus streams through
    * one scan with a fused codegen cosine per centroid — no shuffle at
    * all until the final presentation sort; assignment output is the
    * natural partition key for downstream per-cluster processing. */
  def embClusterAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, dir)
    val cent = c.filter($"vec_id" < QueryIds)
      .select($"vec_id".as("cluster"), $"v".as("cv"))
    val w = Window.partitionBy($"vec_id").orderBy($"cos".desc, $"cluster")
    c.crossJoin(broadcast(cent))
      .select($"vec_id", $"cluster", r4(expr("cosine_sim(v, cv)")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"vec_id", $"cluster", $"cos")
      .orderBy($"vec_id")
  }
  val embClusterAssignSql: String =
    s"""WITH n AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE $ValidVecSql),
       |m AS (SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM n),
       |q AS (SELECT vec_id AS cluster, v AS cv, nrm AS cn
       |      FROM m WHERE vec_id < $QueryIds),
       |sc AS (SELECT m.vec_id, q.cluster,
       |    floor(list_sum(list_transform(list_zip(m.v, q.cv),
       |      p -> p[1] * p[2])) / (m.nrm * q.cn) * 10000 + 0.5) / 10000 AS cos
       |  FROM m CROSS JOIN q),
       |r AS (SELECT vec_id, cluster, cos,
       |    row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY cos DESC, cluster) AS rn
       |  FROM sc)
       |SELECT vec_id, cluster, cos FROM r WHERE rn = 1
       |ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- C66
  /** IVF index shard-layout planner — the "how do I spread the cells
    * of a coarse quantizer across S executors/index servers" step
    * that follows C7b/C36: per-cell vector counts, then cells are
    * snake-assigned (boustrophedon over the size-descending rank —
    * each shard takes one cell per round, direction alternating) to
    * 8 shards, reporting per shard its cell count, vector load, and
    * load vs the ideal even split (ppm, 1e6 = perfectly balanced).
    *
    * Scale: the only corpus-sized work is the C23-shaped assignment
    * (broadcast centroids, one cell rollup); ranking and snake
    * arithmetic run on the CELLS table (≤32 rows — that global
    * window orders cells, never data). Cells with zero vectors never
    * reach the planner; closed-form assignment keeps the oracle
    * exact where an LPT greedy loop would not be SQL-expressible. */
  def embIndexShards(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = 32
    val shards = 8
    val c = corpus(s, dir)
    val cent = c.filter($"vec_id" < cells)
      .select($"vec_id".as("cell"), $"v".as("cv"))
    val w = Window.partitionBy($"vec_id").orderBy($"cos".desc, $"cell")
    val sizes = c.crossJoin(broadcast(cent))
      .select($"vec_id", $"cell", r4(expr("cosine_sim(v, cv)")).as("cos"))
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .groupBy($"cell").agg(count(lit(1)).as("n_vectors"))
    val rw = Window.orderBy($"n_vectors".desc, $"cell")
    val assigned = sizes
      .withColumn("rk", row_number().over(rw).cast("long") - 1)
      .withColumn("shard",
        when(expr(s"(rk div $shards) % 2") === 0, $"rk" % shards)
          .otherwise(lit(shards - 1) - ($"rk" % shards)))
    val tot = assigned.agg(sum($"n_vectors").as("tot"))
    assigned.groupBy($"shard")
      .agg(count(lit(1)).as("n_cells"), sum($"n_vectors").as("n_vectors"))
      .crossJoin(broadcast(tot))
      .select($"shard", $"n_cells", $"n_vectors",
        floor($"n_vectors" * lit(1000000.0) * shards / $"tot" + 0.5)
          .cast("long").as("load_ppm"))
      .orderBy($"shard")
  }
  val embIndexShardsSql: String =
    s"""WITH n AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE $ValidVecSql),
      |m AS (SELECT vec_id, v,
      |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM n),
      |q AS (SELECT vec_id AS cell, v AS cv, nrm AS cn
      |      FROM m WHERE vec_id < 32),
      |sc AS (SELECT m.vec_id, q.cell,
      |    floor(list_sum(list_transform(list_zip(m.v, q.cv),
      |      p -> p[1] * p[2])) / (m.nrm * q.cn) * 10000 + 0.5) / 10000 AS cos
      |  FROM m CROSS JOIN q),
      |r AS (SELECT vec_id, cell,
      |    row_number() OVER (PARTITION BY vec_id
      |                       ORDER BY cos DESC, cell) AS rn
      |  FROM sc),
      |sz AS (SELECT cell, count(*) AS n_vectors FROM r WHERE rn = 1
      |       GROUP BY 1),
      |rk AS (SELECT cell, n_vectors,
      |    row_number() OVER (ORDER BY n_vectors DESC, cell) - 1 AS rk
      |  FROM sz),
      |asg AS (SELECT cell, n_vectors,
      |    CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8
      |      ELSE 7 - rk % 8 END AS shard
      |  FROM rk),
      |tot AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS tot FROM asg)
      |SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_cells,
      |  CAST(sum(n_vectors) AS BIGINT) AS n_vectors,
      |  CAST(floor(sum(n_vectors) * 1000000.0 * 8 / tot + 0.5) AS BIGINT)
      |    AS load_ppm
      |FROM asg CROSS JOIN tot GROUP BY shard, tot ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------- C7
  /** Approximate NN: random-hyperplane codes; a query probes its own
    * bucket plus all single-bit-flip buckets (multiprobe), exact cosine
    * re-rank inside the candidate set. Corpus side touches only rows
    * whose bucket matches a probe. Bits sizes the bucket count: pick
    * ≈ log2(N / wanted-bucket-size) — 6 bits / 64 buckets at test SF;
    * at 100 TB you'd raise it so buckets stay executor-sized and
    * probe (bits+1)/2^bits of the corpus instead of scanning it.
    * Recall vs [[annBruteforce]] is measured in AnnSpec. */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Bits = 6
    val coded = corpus(s, dir)
      .withColumn("code", expr(s"lsh_bucket(v, $Bits, 42)"))
    // multiprobe out to hamming distance 2: 1 + 6 + 15 = 22 of the 64
    // buckets — the recall/cost knob (22/64 of the corpus touched here;
    // at higher Bits the same radius touches a vanishing fraction)
    val probeMasks = 0 +:
      (0 until Bits).map(1 << _) ++:
      (for (i <- 0 until Bits; j <- i + 1 until Bits) yield (1 << i) | (1 << j))
    val q = coded.filter($"vec_id" < QueryIds)
      .select($"vec_id".as("query_id"), $"v".as("qv"),
        explode(array(probeMasks.map(m => $"code".bitwiseXOR(lit(m))): _*)).as("probe"))
    val cand = coded.join(broadcast(q), $"code" === $"probe")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        r4(expr("cosine_sim(qv, v)")).as("cos"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy($"query_id")
      .orderBy($"cos".desc, $"neighbor_id")
    cand.withColumn("rank", row_number().over(w))
      .filter($"rank" <= K)
      .select($"query_id", $"rank", $"neighbor_id", $"cos")
      .orderBy($"query_id", $"rank")
  }

  // --------------------------------------------------------------- C31
  /** Johnson–Lindenstrauss signed random projection 64d → 16d — the
    * dimensionality-reduction step before shipping embeddings to an
    * index at corpus scale (Achlioptas, "Database-friendly random
    * projections": ±1 entries preserve dot products in expectation,
    * E[⟨Ra,Rb⟩] = k·⟨a,b⟩). The sign matrix derives from md5("rp:k:i")
    * — a seedable, code-free random source both engines can replay, in
    * the same spirit as C17's md5 coin.
    *
    * Determinism: each term x·s is 1e-6 fixed-pointed (floor) BEFORE
    * the sum, so the 64-term reduction is BIGINT addition —
    * order-free across partitions and engines.
    *
    * 100 TB: fully narrow — 16 generated `fp_dot` passes per row at
    * scan parallelism, zero shuffles, no UDF; output is 16 doubles per
    * vector (4× compression before any index build touches it). */
  val RpOutDims = 16
  val RpInDims = 64
  /** signs(k)(i) ∈ {+1.0, −1.0} from the first hex char of md5. */
  lazy val rpSigns: IndexedSeq[IndexedSeq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until RpOutDims).map { k =>
      (0 until RpInDims).map { i =>
        val hex = md.digest(s"rp:$k:$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        if (hex.charAt(0) < '8') 1.0 else -1.0
      }
    }
  }

  def embRandomProjection(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cols = (0 until RpOutDims).map { k =>
      val fp = call_function("fp_dot", $"v", array(rpSigns(k).map(lit): _*))
      r4(fp.cast("double") / 1000000).as(f"p$k%02d")
    }
    corpus(s, dir)
      .select($"vec_id" +: cols: _*)
      .orderBy($"vec_id")
  }
  val embRandomProjectionSql: String = {
    val terms = (0 until RpOutDims).map { k =>
      val sgnList = rpSigns(k).map(v => if (v > 0) "1.0" else "-1.0")
        .mkString("[", ", ", "]")
      f"""floor(CAST(list_sum(list_transform(list_zip(v, $sgnList),
         |    p -> CAST(floor(p[1] * p[2] * 1000000 + 0.5) AS BIGINT)))
         |  AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000 AS p$k%02d"""
        .stripMargin
    }.mkString(",\n  ")
    s"""WITH n AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE $ValidVecSql)
       |SELECT vec_id,
       |  $terms
       |FROM n ORDER BY vec_id""".stripMargin
  }

  // --------------------------------------------------------------- C47
  /** Matryoshka truncation analyzer — the "how many dimensions does
    * the index actually need" decision input (Kusupati et al., MRL:
    * embeddings trained so prefixes are usable at reduced fidelity).
    * For each prefix width d ∈ {8, 16, 32, 64}, rank the corpus by
    * the truncated-prefix cosine per query and report the overlap of
    * that top-10 with the full-dimension exact top-10 — overlap@10
    * per (query, d) is the retrieval-quality/bytes trade-off curve,
    * measured on the corpus itself (complementing C31's JL projection,
    * which mixes dims instead of truncating).
    *
    * Determinism: 4-dp rounded cosines + vec_id tie-break (the C6
    * ranking contract) at every width, so both engines derive the
    * identical top-10 sets and the overlap counts hash-match.
    *
    * 100 TB: queries broadcast once; ONE corpus scan emits all four
    * prefix cosines (explode of a 4-struct array, narrow); the only
    * shuffles are the per-(query, d) top-k windows over (id, cos)
    * pairs — the C6 brute-force posture ×4 widths, and at scale each
    * width's ranking is the same candidate-pruned path C36 provides. */
  def embMatryoshka(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val widths = Seq(8, 16, 32, 64)
    val c = corpus(s, dir)
    val q = c.filter($"vec_id" < QueryIds)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        explode(array(widths.map(d => struct(lit(d).as("dims"),
          r4(expr(s"cosine_sim(slice(qv, 1, $d), slice(v, 1, $d))"))
            .as("cos"))): _*)).as("e"))
      .select($"query_id", $"neighbor_id", $"e.dims".as("dims"), $"e.cos".as("cos"))
    val w = Window.partitionBy($"query_id", $"dims")
      .orderBy($"cos".desc, $"neighbor_id")
    val tops = scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= K)
      .select($"query_id", $"dims", $"neighbor_id")
    val full = tops.filter($"dims" === 64)
      .select($"query_id", $"neighbor_id")
    val counts = tops.join(full, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy($"query_id", $"dims")
      .agg(count(lit(1)).as("overlap10"))
    // queries×widths spine: a (query, d) whose truncated top-10 shares
    // NOTHING with the full top-10 must surface as an explicit 0 row —
    // groupBy alone would silently drop it and the curve would lose
    // exactly its most interesting points
    val spine = q.select($"query_id")
      .crossJoin(broadcast(widths.toDF("dims")))
    spine.join(counts, Seq("query_id", "dims"), "left")
      .select($"query_id", $"dims",
        coalesce($"overlap10", lit(0L)).as("overlap10"))
      .orderBy($"query_id", $"dims")
  }
  val embMatryoshkaSql: String = {
    val widths = Seq(8, 16, 32, 64)
    val cosByWidth = widths.map { d =>
      s"""sc$d AS (SELECT q.query_id, m.vec_id AS neighbor_id, $d AS dims,
         |    floor(list_sum(list_transform(list_zip(q.v[1:$d], m.v[1:$d]),
         |        p -> p[1] * p[2]))
         |      / (sqrt(list_sum(list_transform(q.v[1:$d], x -> x * x)))
         |         * sqrt(list_sum(list_transform(m.v[1:$d], x -> x * x))))
         |      * 10000 + 0.5) / 10000 AS cos
         |  FROM n m CROSS JOIN (SELECT vec_id AS query_id, v FROM n
         |    WHERE vec_id < $QueryIds) q
         |  WHERE m.vec_id <> q.query_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH n AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE $ValidVecSql),
       |$cosByWidth,
       |sc AS (${widths.map(d => s"SELECT * FROM sc$d").mkString(" UNION ALL ")}),
       |r AS (SELECT query_id, neighbor_id, dims,
       |    row_number() OVER (PARTITION BY query_id, dims
       |                       ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM sc),
       |tops AS (SELECT query_id, dims, neighbor_id FROM r WHERE rank <= $K),
       |full_t AS (SELECT query_id, neighbor_id FROM tops WHERE dims = 64),
       |ov AS (SELECT t.query_id, t.dims, count(*) AS overlap10
       |  FROM tops t JOIN full_t f
       |    ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
       |  GROUP BY 1, 2),
       |spine AS (SELECT q.query_id, w.dims
       |  FROM (SELECT vec_id AS query_id FROM n WHERE vec_id < $QueryIds) q
       |  CROSS JOIN (VALUES (8), (16), (32), (64)) AS w(dims))
       |SELECT s.query_id, CAST(s.dims AS INT) AS dims,
       |  CAST(coalesce(ov.overlap10, 0) AS BIGINT) AS overlap10
       |FROM spine s LEFT JOIN ov
       |  ON s.query_id = ov.query_id AND s.dims = ov.dims
       |ORDER BY 1, 2""".stripMargin
  }

  // --------------------------------------------------------------- C52
  /** Embedding-distribution drift monitor — "did the corpus move
    * under the index/model" between two snapshots, the check a
    * retrain/reindex decision reads (data-drift monitoring over the
    * C23 cells): v2 is a deterministic evolution of v1 (every 3rd
    * vector gone, every 5th remaining one shifted in its first 8
    * dims); both snapshots assign to the SAME fixed cells, and per
    * cell the op reports population share drift (ppm, signed) and the
    * L2 movement of the cell's mean vector — which cells grew/shrank
    * and which moved.
    *
    * Determinism: assignment is the C23 rounded-argmax; per-dim means
    * are BIGINT fixed-point sums with floor(sum/n) (order-free); the
    * L2 fold runs over pos-sorted arrays so both engines sum in the
    * same order on identical doubles.
    *
    * 100 TB: centroids broadcast; one (ver, cluster, dim) shuffle of
    * fixed-point partials (map-side combinable); everything after is
    * cells×dims-sized. */
  def embCentroidDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v1 = corpus(s, dir)
    val v2 = v1.filter($"vec_id" % 3 =!= 0)
      .withColumn("v", when($"vec_id" % 5 === 0,
        transform($"v", (x, i) => when(i < 8, x + lit(0.05)).otherwise(x)))
        .otherwise($"v"))
    val cents = v1.filter($"vec_id" < 8)
      .select($"vec_id".as("cluster"), $"v".as("cv"))
    def assign(df: DataFrame, tag: String) = df.crossJoin(broadcast(cents))
      .select($"vec_id", $"cluster", $"v",
        r4(expr("cosine_sim(v, cv)")).as("cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"cos".desc, $"cluster")))
      .filter($"rn" === 1)
      .select(lit(tag).as("ver"), $"cluster", $"v")
    val both = assign(v1, "v1").unionByName(assign(v2, "v2"))
    val means = both
      .select($"ver", $"cluster", posexplode($"v").as(Seq("pos", "x")))
      .groupBy($"ver", $"cluster", $"pos")
      .agg(sum(floor($"x" * 1000000 + 0.5).cast("long")).as("sfp"),
        count(lit(1)).as("n"))
      .select($"ver", $"cluster", $"pos", $"n",
        floor($"sfp" * lit(1.0) / $"n").as("mfp"))
      .groupBy($"ver", $"cluster")
      .agg(max($"n").as("n"),
        transform(array_sort(collect_list(struct($"pos", $"mfp"))),
          e => e("mfp")).as("mean_fp"))
    val m1 = means.filter($"ver" === "v1")
      .select($"cluster", $"n".as("n_v1"), $"mean_fp".as("m1"))
    val m2 = means.filter($"ver" === "v2")
      .select($"cluster", $"n".as("n_v2"), $"mean_fp".as("m2"))
    val t1 = both.filter($"ver" === "v1")
      .agg(count(lit(1)).as("nt1"))
    val t2 = both.filter($"ver" === "v2")
      .agg(count(lit(1)).as("nt2"))
    m1.join(m2, Seq("cluster"))
      .crossJoin(broadcast(t1)).crossJoin(broadcast(t2))
      .select($"cluster", $"n_v1", $"n_v2",
        (expr("n_v2 * 1000000 div nt2") - expr("n_v1 * 1000000 div nt1"))
          .as("share_delta_ppm"),
        r4(sqrt(aggregate(zip_with($"m1", $"m2",
            (a, b) => (a - b) * (a - b)), lit(0.0), _ + _)) / 1000000)
          .as("mean_shift"))
      .orderBy($"cluster")
  }
  val embCentroidDriftSql: String = {
    def chain(tag: String, src: String) =
      s"""a_$tag AS (SELECT m.vec_id, c.cluster, m.v,
         |    row_number() OVER (PARTITION BY m.vec_id ORDER BY
         |      floor(list_sum(list_transform(list_zip(m.v, c.cv),
         |        p -> p[1] * p[2])) / (m.nrm * c.cn) * 10000 + 0.5) / 10000
         |        DESC, c.cluster) AS rn
         |  FROM $src m CROSS JOIN centn c),
         |g_$tag AS (SELECT cluster, v FROM a_$tag WHERE rn = 1),
         |d_$tag AS (SELECT cluster, i.i AS pos,
         |    sum(CAST(floor(v[i.i + 1] * 1000000 + 0.5) AS BIGINT)) AS sfp,
         |    count(*) AS n
         |  FROM g_$tag CROSS JOIN range(0, 64) i(i) GROUP BY 1, 2),
         |mm_$tag AS (SELECT cluster, max(n) AS n,
         |    list(floor(sfp * 1.0 / n) ORDER BY pos) AS mean_fp
         |  FROM d_$tag GROUP BY 1),
         |t_$tag AS (SELECT count(*) AS nt FROM g_$tag)""".stripMargin
    s"""WITH n0 AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE $ValidVecSql),
       |v1t AS (SELECT vec_id, v FROM n0),
       |v2t AS (SELECT vec_id,
       |    CASE WHEN vec_id % 5 = 0 THEN list_transform(v,
       |      (x, i) -> CASE WHEN i <= 8 THEN x + 0.05 ELSE x END)
       |    ELSE v END AS v
       |  FROM n0 WHERE vec_id % 3 <> 0),
       |m1n AS (SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v1t),
       |m2n AS (SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM v2t),
       |centn AS (SELECT vec_id AS cluster, v AS cv,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS cn
       |  FROM v1t WHERE vec_id < 8),
       |${chain("1", "m1n")},
       |${chain("2", "m2n")}
       |SELECT a.cluster, CAST(a.n AS BIGINT) AS n_v1,
       |  CAST(b.n AS BIGINT) AS n_v2,
       |  CAST(b.n * 1000000 // (SELECT nt FROM t_2)
       |    - a.n * 1000000 // (SELECT nt FROM t_1) AS BIGINT)
       |    AS share_delta_ppm,
       |  floor(sqrt(list_sum(list_transform(list_zip(a.mean_fp, b.mean_fp),
       |      p -> (p[1] - p[2]) * (p[1] - p[2])))) / 1000000 * 10000 + 0.5)
       |    / 10000 AS mean_shift
       |FROM mm_1 a JOIN mm_2 b USING (cluster) ORDER BY a.cluster""".stripMargin
  }

  // --------------------------------------------------------------- C57
  /** Per-dimension embedding distribution stats — the collapsed-
    * encoder / dominated-dimension audit run before trusting a vector
    * corpus (and before picking a Matryoshka truncation width, C47):
    * for every dimension its mean, variance, and share of the total
    * variance (energy, ppm). A healthy isotropic embedding spreads
    * energy near-uniformly; a few dims holding most ppm means cosine
    * similarity is effectively ranking on those dims alone.
    *
    * Determinism: per-dim sums are BIGINT fixed-point (Σ floor(x·1e6),
    * Σ floor(x²·1e6) — order-free); mean/E[x²] via floor-division;
    * variance from the fixed-point moments with the same integer
    * expression in both engines; 4-dp presentation.
    *
    * 100 TB: posexplode fans ×64 but partial aggregation collapses to
    * 64 groups per task before the exchange, so the one shuffle
    * carries 64 rows per partition; the energy join broadcasts a
    * one-row total. */
  def embDimStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val moments = corpus(s, dir)
      .select(posexplode($"v").as(Seq("dim", "x")))
      .groupBy($"dim")
      .agg(count(lit(1)).as("n"),
        sum(floor($"x" * 1000000 + 0.5).cast("long")).as("sfp"),
        sum(floor($"x" * $"x" * 1000000 + 0.5).cast("long")).as("sfp2"))
      .select($"dim", $"n",
        floor($"sfp" * 1.0 / $"n").cast("long").as("mean_fp"),
        floor($"sfp2" * 1.0 / $"n").cast("long").as("ex2_fp"))
      .select($"dim", $"n", $"mean_fp",
        greatest(lit(0L),
          ($"ex2_fp" - expr("mean_fp * mean_fp div 1000000")).cast("long"))
          .as("var_fp"))
    val total = moments.agg(sum($"var_fp").as("tot_fp"))
    moments.crossJoin(broadcast(total))
      .select($"dim".cast("long").as("dim"), $"n",
        (floor($"mean_fp" / 100.0 + 0.5) / 10000).as("mean_r4"),
        (floor($"var_fp" / 100.0 + 0.5) / 10000).as("var_r4"),
        expr("var_fp * 1000000 div tot_fp").as("energy_ppm"))
      .orderBy($"dim")
  }
  val embDimStatsSql: String =
    s"""WITH v AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))
      |    AS v FROM embeddings WHERE $ValidVecSql),
      |e AS (SELECT i.i AS dim, v[i.i + 1] AS x
      |  FROM v CROSS JOIN range(0, 64) i(i)),
      |m AS (SELECT dim, count(*) AS n,
      |    sum(CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS sfp,
      |    sum(CAST(floor(x * x * 1000000 + 0.5) AS BIGINT)) AS sfp2
      |  FROM e GROUP BY 1),
      |mm AS (SELECT dim, n,
      |    CAST(floor(sfp * 1.0 / n) AS BIGINT) AS mean_fp,
      |    CAST(floor(sfp2 * 1.0 / n) AS BIGINT) AS ex2_fp
      |  FROM m),
      |vv AS (SELECT dim, n, mean_fp,
      |    greatest(CAST(0 AS BIGINT),
      |      ex2_fp - mean_fp * mean_fp // CAST(1000000 AS BIGINT)) AS var_fp
      |  FROM mm),
      |t AS (SELECT sum(var_fp) AS tot_fp FROM vv)
      |SELECT dim, n,
      |  floor(mean_fp / 100.0 + 0.5) / 10000 AS mean_r4,
      |  floor(var_fp / 100.0 + 0.5) / 10000 AS var_r4,
      |  CAST(var_fp * CAST(1000000 AS BIGINT) // tot_fp AS BIGINT)
      |    AS energy_ppm
      |FROM vv CROSS JOIN t ORDER BY dim""".stripMargin

  // --------------------------------------------------------------- C59
  /** Per-vector z-score audit against the corpus per-dim moments
    * (C57's chain): standardize every dimension by the corpus
    * mean/std and report each vector's whitened L2 norm, its worst
    * |z|, and how many dims sit beyond 3σ — the broken-embedding /
    * out-of-distribution scan run before vectors enter an index
    * (a healthy 64-dim vector's z-norm concentrates near √64 ≈ 8).
    *
    * Determinism: moments are C57's BIGINT fixed-point; per-dim z is
    * IEEE double arithmetic on identical inputs in both engines,
    * fixed-pointed to 1e-6 BIGINT before the per-vector sum
    * (order-free); 4-dp presentation; constant dims (var 0) define
    * z = 0.
    *
    * 100 TB: the 64-row moment rollup is the only exchange; moments
    * broadcast as ONE array row and every per-vector statistic is
    * in-row array math at scan parallelism — no data shuffle. */
  def embOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val moments = corpus(s, dir)
      .select(posexplode($"v").as(Seq("dim", "x")))
      .groupBy($"dim")
      .agg(count(lit(1)).as("n"),
        sum(floor($"x" * 1000000 + 0.5).cast("long")).as("sfp"),
        sum(floor($"x" * $"x" * 1000000 + 0.5).cast("long")).as("sfp2"))
      .select($"dim",
        floor($"sfp" * 1.0 / $"n").cast("long").as("mean_fp"),
        greatest(lit(0L),
          (floor($"sfp2" * 1.0 / $"n").cast("long") -
            expr("cast(floor(sfp * 1.0 / n) as bigint) * cast(floor(sfp * 1.0 / n) as bigint) div 1000000"))
            .cast("long")).as("var_fp"))
    val marr = moments
      .agg(transform(array_sort(collect_list(struct($"dim", $"mean_fp"))),
          e => e("mean_fp")).as("means"),
        transform(array_sort(collect_list(struct($"dim", $"var_fp"))),
          e => e("var_fp")).as("vars"))
    corpus(s, dir).crossJoin(broadcast(marr))
      .select($"vec_id",
        expr("""transform(v, (x, i) ->
            CASE WHEN vars[i] = 0 THEN cast(0.0 as double)
            ELSE (x - means[i] / 1000000.0) / sqrt(vars[i] / 1000000.0)
            END)""").as("z"))
      .select($"vec_id",
        r4(sqrt(expr(
          """aggregate(z, cast(0 as bigint),
             (acc, zz) -> acc + cast(floor(zz * zz * 1000000 + 0.5) as bigint))""")
          / 1000000)).as("z_norm"),
        r4(array_max(expr("transform(z, zz -> abs(zz))"))).as("z_max"),
        expr("cast(size(filter(z, zz -> abs(zz) > 3.0)) as bigint)")
          .as("n_z_gt3"))
      .orderBy($"vec_id")
  }
  val embOutliersSql: String =
    s"""WITH v AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE $ValidVecSql),
      |e AS (SELECT i.i AS dim, v.vec_id, v.v[i.i + 1] AS x
      |  FROM v CROSS JOIN range(0, 64) i(i)),
      |m AS (SELECT dim, count(*) AS n,
      |    sum(CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS sfp,
      |    sum(CAST(floor(x * x * 1000000 + 0.5) AS BIGINT)) AS sfp2
      |  FROM e GROUP BY 1),
      |mv AS (SELECT dim,
      |    CAST(floor(sfp * 1.0 / n) AS BIGINT) AS mean_fp,
      |    greatest(CAST(0 AS BIGINT),
      |      CAST(floor(sfp2 * 1.0 / n) AS BIGINT)
      |        - CAST(floor(sfp * 1.0 / n) AS BIGINT)
      |          * CAST(floor(sfp * 1.0 / n) AS BIGINT)
      |          // CAST(1000000 AS BIGINT)) AS var_fp
      |  FROM m),
      |ma AS (SELECT list(mean_fp ORDER BY dim) AS means,
      |    list(var_fp ORDER BY dim) AS vars FROM mv),
      |z AS (SELECT vec_id,
      |    list_transform(v, (x, i) ->
      |      CASE WHEN vars[i] = 0 THEN CAST(0.0 AS DOUBLE)
      |        ELSE (x - means[i] / 1000000.0) / sqrt(vars[i] / 1000000.0)
      |        END) AS z
      |  FROM v CROSS JOIN ma)
      |SELECT vec_id,
      |  floor(sqrt(list_sum(list_transform(z,
      |      zz -> CAST(floor(zz * zz * 1000000 + 0.5) AS BIGINT)))
      |    / 1000000) * 10000 + 0.5) / 10000 AS z_norm,
      |  floor(list_max(list_transform(z, zz -> abs(zz))) * 10000 + 0.5)
      |    / 10000 AS z_max,
      |  CAST(len(list_filter(z, zz -> abs(zz) > 3.0)) AS BIGINT)
      |    AS n_z_gt3
      |FROM z ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- C60
  /** Shared C60/C63 core: per-dim fixed-point means, total variance,
    * and the PC1 direction after 3 engine-replayable power
    * iterations. Returns (meanFp, totVarFp, vfp) — all 1e-6 BIGINT
    * fixed-point. The only collects are 64-row iteration states. */
  private def topPc(s: SparkSession, dir: String): (Array[Long], Long, Array[Long]) = {
    import s.implicits._
    val c = corpus(s, dir)
    val mom = c
      .select(posexplode($"v").as(Seq("dim", "x")))
      .groupBy($"dim")
      .agg(count(lit(1)).as("n"),
        sum(floor($"x" * 1000000 + 0.5).cast("long")).as("sfp"),
        sum(floor($"x" * $"x" * 1000000 + 0.5).cast("long")).as("sfp2"))
      .select($"dim",
        floor($"sfp" * 1.0 / $"n").cast("long").as("mean_fp"),
        greatest(lit(0L),
          (floor($"sfp2" * 1.0 / $"n").cast("long") -
            expr("cast(floor(sfp * 1.0 / n) as bigint) * cast(floor(sfp * 1.0 / n) as bigint) div 1000000"))
            .cast("long")).as("var_fp"))
      .orderBy($"dim").collect()                  // 64 rows: bounded
    // EMPTY valid-vector corpus ⇒ zero moment rows; the power
    // iteration has nothing to iterate (the old code crashed on
    // empty.max — r11 empty-input sweep). Callers treat the empty
    // moment set as "no corpus": C63 yields its natural 0 rows, C60
    // short-circuits to an empty frame.
    if (mom.isEmpty) return (Array.empty[Long], 0L, Array.empty[Long])
    val meanFp = mom.map(_.getLong(1))
    val totVarFp = mom.map(_.getLong(2)).sum
    val maCol = array(meanFp.map(m => lit(m / 1e6)): _*)

    def withDotLocal(vfp: Array[Long]): DataFrame = c
      .withColumn("ma", maCol)
      .withColumn("va", array(vfp.map(f => lit(f / 1e6)): _*))
      .withColumn("dot_fp", expr(
        """aggregate(transform(v, (x, i) ->
           cast(floor((x - ma[i]) * va[i] * 1000000 + 0.5) as bigint)),
           cast(0 as bigint), (a, b) -> a + b)"""))

    var vfp = Array.fill(64)(125000L)             // 1/√64 exactly
    for (_ <- 1 to 3) {
      val sFp = withDotLocal(vfp)
        .select(posexplode(expr(
          """transform(v, (x, i) ->
             cast(floor((x - ma[i]) * (dot_fp / 1000000.0) * 1000000 + 0.5)
             as bigint))""")).as(Seq("dim", "cfp")))
        .groupBy($"dim").agg(sum($"cfp").as("s_fp"))
        .orderBy($"dim").collect().map(_.getLong(1))   // 64 rows
      val smax = sFp.map(math.abs).max
      if (smax > 0L) {
        // truncating division on purpose: DuckDB BIGINT `//` truncates
        // toward zero (verified: -7//2 = -3), same as Scala `/` — a
        // floorDiv here diverges on negative dims
        val uFp = sFp.map(x => x * 1000000L / smax)
        val nsq = uFp.map { u =>
          val d = u / 1000000.0
          math.floor(d * d * 1000000 + 0.5).toLong
        }.sum
        val norm = math.sqrt(nsq / 1000000.0)
        vfp = uFp.map(u =>
          math.floor((u / 1000000.0) / norm * 1000000 + 0.5).toLong)
      }
    }
    (meanFp, totVarFp, vfp)
  }

  /** (x−μ)·v dot products over the corpus for fixed-point μ and v —
    * the shared C60/C63 scan shape (dot itself is fixed-pointed
    * per element before the in-row sum, so it is engine-exact). */
  private def withDot(s: SparkSession, dir: String,
      meanFp: Array[Long], vfp: Array[Long]): DataFrame = {
    corpus(s, dir)
      .withColumn("ma", array(meanFp.map(m => lit(m / 1e6)): _*))
      .withColumn("va", array(vfp.map(f => lit(f / 1e6)): _*))
      .withColumn("dot_fp", expr(
        """aggregate(transform(v, (x, i) ->
           cast(floor((x - ma[i]) * va[i] * 1000000 + 0.5) as bigint)),
           cast(0 as bigint), (a, b) -> a + b)"""))
  }

  /** Anisotropy audit ("All-but-the-Top", Mu et al. 2018): the top
    * principal direction of the centered embedding corpus by
    * DISTRIBUTED power iteration, plus the share of total variance
    * it captures. A healthy isotropic corpus spreads energy across
    * dims (share ≈ 1/64); a dominant common direction (share ≫ that)
    * is the published signal that mean-removal + top-PC projection
    * will sharpen downstream cosine similarity.
    *
    * Shape: k=3 power iterations, each ONE corpus scan computing
    * in-row dot = (x−μ)·v then per-dim contribution partials that
    * combine map-side to a 64-row exchange (the MLlib treeAggregate
    * shape); the only collects are 64-row iteration states. The
    * normalize step runs driver-side on those 64 numbers.
    *
    * Determinism (engine-replayable trajectory, the ann_ivf_pq Lloyd
    * convention): μ and every cross-row / cross-dim sum are BIGINT
    * fixed-point (1e-6); each iteration rescales by the max |s| via
    * BIGINT truncating division then renormalizes with in-row double math
    * on identical inputs, and re-fixed-points v before the next scan
    * — so DuckDB re-runs the exact same 3 iterations. v0 = 1/√64
    * (exactly 0.125) on every dim; sign follows the all-positive
    * start. At 100 TB the contribution accumulator bound is kept by
    * folding 1/n into v per iteration (documented, not needed at
    * bench SFs). */
  def embAnisotropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (meanFp, totVarFp, vfp) = topPc(s, dir)
    // empty valid-vector corpus: no principal component exists — emit
    // the empty frame (the global agg below always yields one row, so
    // without the guard getLong(null) NPE'd; r11 empty-input sweep)
    if (meanFp.isEmpty)
      return Seq.empty[(Long, Double, Long)]
        .toDF("dim", "pc1_loading", "pc1_share_ppm")
    val lam = withDot(s, dir, meanFp, vfp)
      .agg(count(lit(1)).as("n"),
        sum(expr(
          """cast(floor((dot_fp / 1000000.0) * (dot_fp / 1000000.0) * 1000000
             + 0.5) as bigint)""")).as("lsum"))
      .collect().head
    val ppm = math.floor(
      (lam.getLong(1).toDouble / lam.getLong(0)) / totVarFp * 1000000 + 0.5
    ).toLong
    (0 until 64).map(d => (d.toLong, r4d(vfp(d) / 1e6), ppm))
      .toDF("dim", "pc1_loading", "pc1_share_ppm")
      .orderBy($"dim")
  }
  /** DuckDB twin of [[topPc]]: moments + the three fixed-point power
    * iterations, ending at `v3` (the PC1 list) — shared by the C60
    * and C63 oracles. */
  private val powerIterCtes: String =
    s"""v AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE $ValidVecSql),
      |e AS (SELECT i.i AS dim, v.vec_id, v.v[i.i + 1] AS x
      |  FROM v CROSS JOIN range(0, 64) i(i)),
      |m AS (SELECT dim, count(*) AS n,
      |    sum(CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS sfp,
      |    sum(CAST(floor(x * x * 1000000 + 0.5) AS BIGINT)) AS sfp2
      |  FROM e GROUP BY 1),
      |mv AS (SELECT dim,
      |    CAST(floor(sfp * 1.0 / n) AS BIGINT) AS mean_fp,
      |    greatest(CAST(0 AS BIGINT),
      |      CAST(floor(sfp2 * 1.0 / n) AS BIGINT)
      |        - CAST(floor(sfp * 1.0 / n) AS BIGINT)
      |          * CAST(floor(sfp * 1.0 / n) AS BIGINT)
      |          // CAST(1000000 AS BIGINT)) AS var_fp
      |  FROM m),
      |ma AS (SELECT list(mean_fp ORDER BY dim) AS means FROM mv),
      |tot AS (SELECT sum(var_fp) AS totvar_fp FROM mv),
      |v0 AS (SELECT list_transform(range(0, 64),
      |    x -> CAST(125000 AS BIGINT)) AS vfp FROM (SELECT 1)),
      |d1 AS (SELECT v.v, list_sum(list_transform(v.v, (x, i) ->
      |      CAST(floor((x - means[i] / 1000000.0) * (vfp[i] / 1000000.0)
      |        * 1000000 + 0.5) AS BIGINT))) AS dot_fp
      |  FROM v CROSS JOIN ma CROSS JOIN v0),
      |s1 AS (SELECT i.i AS dim,
      |    sum(CAST(floor((d1.v[i.i + 1] - means[i.i + 1] / 1000000.0)
      |      * (dot_fp / 1000000.0) * 1000000 + 0.5) AS BIGINT)) AS s_fp
      |  FROM d1 CROSS JOIN ma CROSS JOIN range(0, 64) i(i) GROUP BY 1),
      |n1 AS (SELECT max(abs(s_fp)) AS smax FROM s1),
      |u1 AS (SELECT dim, (s_fp * 1000000) // smax AS u_fp
      |  FROM s1 CROSS JOIN n1),
      |q1 AS (SELECT sum(CAST(floor((u_fp / 1000000.0) * (u_fp / 1000000.0)
      |    * 1000000 + 0.5) AS BIGINT)) AS nsq FROM u1),
      |w1 AS (SELECT dim, CAST(floor((u_fp / 1000000.0)
      |    / sqrt(nsq / 1000000.0) * 1000000 + 0.5) AS BIGINT) AS vfp
      |  FROM u1 CROSS JOIN q1),
      |v1 AS (SELECT list(vfp ORDER BY dim) AS vfp FROM w1),
      |d2 AS (SELECT v.v, list_sum(list_transform(v.v, (x, i) ->
      |      CAST(floor((x - means[i] / 1000000.0) * (vfp[i] / 1000000.0)
      |        * 1000000 + 0.5) AS BIGINT))) AS dot_fp
      |  FROM v CROSS JOIN ma CROSS JOIN v1),
      |s2 AS (SELECT i.i AS dim,
      |    sum(CAST(floor((d2.v[i.i + 1] - means[i.i + 1] / 1000000.0)
      |      * (dot_fp / 1000000.0) * 1000000 + 0.5) AS BIGINT)) AS s_fp
      |  FROM d2 CROSS JOIN ma CROSS JOIN range(0, 64) i(i) GROUP BY 1),
      |n2 AS (SELECT max(abs(s_fp)) AS smax FROM s2),
      |u2 AS (SELECT dim, (s_fp * 1000000) // smax AS u_fp
      |  FROM s2 CROSS JOIN n2),
      |q2 AS (SELECT sum(CAST(floor((u_fp / 1000000.0) * (u_fp / 1000000.0)
      |    * 1000000 + 0.5) AS BIGINT)) AS nsq FROM u2),
      |w2 AS (SELECT dim, CAST(floor((u_fp / 1000000.0)
      |    / sqrt(nsq / 1000000.0) * 1000000 + 0.5) AS BIGINT) AS vfp
      |  FROM u2 CROSS JOIN q2),
      |v2 AS (SELECT list(vfp ORDER BY dim) AS vfp FROM w2),
      |d3 AS (SELECT v.v, list_sum(list_transform(v.v, (x, i) ->
      |      CAST(floor((x - means[i] / 1000000.0) * (vfp[i] / 1000000.0)
      |        * 1000000 + 0.5) AS BIGINT))) AS dot_fp
      |  FROM v CROSS JOIN ma CROSS JOIN v2),
      |s3 AS (SELECT i.i AS dim,
      |    sum(CAST(floor((d3.v[i.i + 1] - means[i.i + 1] / 1000000.0)
      |      * (dot_fp / 1000000.0) * 1000000 + 0.5) AS BIGINT)) AS s_fp
      |  FROM d3 CROSS JOIN ma CROSS JOIN range(0, 64) i(i) GROUP BY 1),
      |n3 AS (SELECT max(abs(s_fp)) AS smax FROM s3),
      |u3 AS (SELECT dim, (s_fp * 1000000) // smax AS u_fp
      |  FROM s3 CROSS JOIN n3),
      |q3 AS (SELECT sum(CAST(floor((u_fp / 1000000.0) * (u_fp / 1000000.0)
      |    * 1000000 + 0.5) AS BIGINT)) AS nsq FROM u3),
      |w3 AS (SELECT dim, CAST(floor((u_fp / 1000000.0)
      |    / sqrt(nsq / 1000000.0) * 1000000 + 0.5) AS BIGINT) AS vfp
      |  FROM u3 CROSS JOIN q3),
      |v3 AS (SELECT list(vfp ORDER BY dim) AS vfp FROM w3)""".stripMargin

  val embAnisotropySql: String =
    s"""WITH $powerIterCtes,
      |d4 AS (SELECT list_sum(list_transform(v.v, (x, i) ->
      |      CAST(floor((x - means[i] / 1000000.0) * (vfp[i] / 1000000.0)
      |        * 1000000 + 0.5) AS BIGINT))) AS dot_fp
      |  FROM v CROSS JOIN ma CROSS JOIN v3),
      |lam AS (SELECT count(*) AS n,
      |    sum(CAST(floor((dot_fp / 1000000.0) * (dot_fp / 1000000.0)
      |      * 1000000 + 0.5) AS BIGINT)) AS lsum FROM d4),
      |share AS (SELECT CAST(floor((lsum * 1.0 / n) / totvar_fp * 1000000
      |    + 0.5) AS BIGINT) AS pc1_share_ppm FROM lam CROSS JOIN tot)
      |SELECT CAST(w3.dim AS BIGINT) AS dim,
      |  floor((w3.vfp / 1000000.0) * 10000 + 0.5) / 10000 AS pc1_loading,
      |  share.pc1_share_ppm
      |FROM w3 CROSS JOIN share ORDER BY dim""".stripMargin

  // --------------------------------------------------------------- C63
  /** All-but-the-Top APPLIED (C60's corrective step, Mu et al. 2018):
    * center every vector and remove its projection onto the trained
    * PC1 — the published post-processing that sharpens cosine
    * similarity on anisotropic corpora. Reports per vector the
    * centered norm, the corrected norm, and |projection coefficient|
    * (how much common-direction mass the vector carried).
    *
    * Shape: the C60 training passes, then ONE output pass — centered
    * vector, fixed-point dot with the broadcast PC1, element-wise
    * removal, norms via the emb_outliers fixed-point-sum convention.
    * All per-vector math is in-row at scan parallelism; no data
    * shuffle. Pythagoras (before² = after² + coef²) is spec-pinned,
    * non-vacuous because PC1 is unit-norm. */
  def embWhiten(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (meanFp, _, vfp) = topPc(s, dir)
    withDot(s, dir, meanFp, vfp)
      .select($"vec_id", $"ma", $"va", $"dot_fp",
        expr("transform(v, (x, i) -> x - ma[i])").as("c"))
      .select($"vec_id",
        r4(sqrt(expr(
          """aggregate(transform(c, x ->
             cast(floor(x * x * 1000000 + 0.5) as bigint)),
             cast(0 as bigint), (a, b) -> a + b)""") / 1000000))
          .as("norm_before"),
        r4(sqrt(expr(
          """aggregate(transform(c, (x, i) ->
             cast(floor((x - (dot_fp / 1000000.0) * va[i])
               * (x - (dot_fp / 1000000.0) * va[i]) * 1000000 + 0.5)
             as bigint)),
             cast(0 as bigint), (a, b) -> a + b)""") / 1000000))
          .as("norm_after"),
        r4(abs($"dot_fp" / 1000000.0)).as("proj_abs"))
      .orderBy($"vec_id")
  }
  val embWhitenSql: String =
    s"""WITH $powerIterCtes,
      |wh AS (SELECT vec_id,
      |    list_transform(v.v, (x, i) -> x - means[i] / 1000000.0) AS c,
      |    vfp
      |  FROM v CROSS JOIN ma CROSS JOIN v3),
      |co AS (SELECT vec_id, c, vfp,
      |    list_sum(list_transform(c, (x, i) ->
      |      CAST(floor(x * (vfp[i] / 1000000.0) * 1000000 + 0.5)
      |        AS BIGINT))) AS dot_fp
      |  FROM wh)
      |SELECT vec_id,
      |  floor(sqrt(list_sum(list_transform(c, x ->
      |      CAST(floor(x * x * 1000000 + 0.5) AS BIGINT)))
      |    / 1000000.0) * 10000 + 0.5) / 10000 AS norm_before,
      |  floor(sqrt(list_sum(list_transform(c, (x, i) ->
      |      CAST(floor((x - (dot_fp / 1000000.0) * (vfp[i] / 1000000.0))
      |        * (x - (dot_fp / 1000000.0) * (vfp[i] / 1000000.0))
      |        * 1000000 + 0.5) AS BIGINT)))
      |    / 1000000.0) * 10000 + 0.5) / 10000 AS norm_after,
      |  floor(abs(dot_fp / 1000000.0) * 10000 + 0.5) / 10000 AS proj_abs
      |FROM co ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- C69
  /** k-NN GRAPH construction — every corpus vector gets its top-5
    * cosine neighbors (the input HNSW builders, graph clustering and
    * SemDeDup refinement consume). All-pairs is off the table at any
    * scale, so candidates come from the IVF coarse quantizer:
    * [[Dedup.trainedCentroids]] cells with the cell count DERIVED
    * from corpus size (k = max(8, ceil(N/256)), the C48 convention —
    * cells stay ~256-row-sized as the corpus grows), each vector
    * probes its 4 nearest cells, exact rounded-cosine rerank inside
    * the probed cells, id tie-break — then ONE NN-descent refinement
    * round (Dong et al.) expands each vector's candidates to its
    * undirected 2-hop neighborhood and re-ranks, which is what lifts
    * recall past the coarse quantizer's ceiling on isotropic data.
    *
    * 100 TB: centroids broadcast; the member/probe join is an
    * EQUI-join on cluster whose per-key population is bounded by the
    * derived cell size (pair work O(N·2·256), linear in N); the
    * top-5 window shuffles on vec_id. Nothing vector-sized reaches
    * the driver (the corpus count is the one scalar). */
  val KnnK = 5
  val KnnProbes = 4
  private[ops] def embKnnGraph(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = graft.Tables.spread(s, corpus(s, dir))
    val n = c.count()
    val k = math.max(8L, (n + 255) / 256).toInt
    val cents = Dedup.trainedCentroids(s, c, k, 2)
    // multi-probe assignment in-row (Dedup.topKOverCs): the former
    // (cos DESC, cluster) window shuffled N×k scored rows; the sorted
    // top-4 now derives at scan parallelism from the one-row broadcast
    val assigned = c.crossJoin(broadcast(Dedup.centroidArray(cents)))
      .select($"vec_id", $"v",
        posexplode(expr(Dedup.topKOverCs(KnnProbes))))
      .select($"vec_id", ($"pos" + 1).as("rn"),
        $"col.cluster".as("cluster"), $"v", $"col.cos".as("cos"))
      .persist()
    val members = assigned.filter($"rn" === 1)
      .select($"cluster", $"vec_id".as("neighbor_id"), $"v".as("nv"))
    val probes = assigned.filter($"rn" <= KnnProbes)
      .select($"vec_id", $"cluster", $"v")
    val scored = probes.join(members, Seq("cluster"))
      .filter($"vec_id" =!= $"neighbor_id")
      .select($"vec_id", $"neighbor_id",
        r4(expr("cosine_sim(v, nv)")).as("cos"))
      // a neighbor can surface via both probed cells — dedup before rank
      .groupBy($"vec_id", $"neighbor_id").agg(max($"cos").as("cos"))
    val edges0 = scored.withColumn("rank", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"cos".desc, $"neighbor_id")))
      .filter($"rank" <= KnnK)
      .select($"vec_id", $"neighbor_id", $"cos")
      .persist()
    // One NN-descent refinement round (Dong et al., "Efficient k-nearest
    // neighbor graph construction"): a vector's true neighbors are
    // usually neighbors of its current neighbors — expand candidates to
    // the UNDIRECTED 2-hop set, exact-rerank, keep the best 5. Linear:
    // ≤ (2·KnnK)² candidates per vector, two id-keyed joins for the
    // vector payloads.
    val vlook = c.select($"vec_id", $"v")
    val und = edges0.select($"vec_id", $"neighbor_id".as("nb"))
      .union(edges0.select($"neighbor_id".as("vec_id"), $"vec_id".as("nb")))
    val hop2 = und.as("a").join(und.as("b"), col("a.nb") === col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.nb").as("neighbor_id"))
      .filter($"vec_id" =!= $"neighbor_id")
      .distinct()
      .join(vlook.select($"vec_id", $"v".as("qv2")), Seq("vec_id"))
      .join(vlook.select($"vec_id".as("neighbor_id"), $"v".as("nv2")),
        Seq("neighbor_id"))
      .select($"vec_id", $"neighbor_id",
        r4(expr("cosine_sim(qv2, nv2)")).as("cos"))
    edges0.union(hop2)
      .groupBy($"vec_id", $"neighbor_id").agg(max($"cos").as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"cos".desc, $"neighbor_id")))
      .filter($"rank" <= KnnK)
      .select($"vec_id", $"rank", $"neighbor_id", $"cos")
  }

  /** C69's registered face — the C7/C7b driver-gate pattern: a
    * deterministic 1-in-37 sample of vectors is exact-reranked against
    * the whole corpus and the graph's edges must recover ≥ 1 of each
    * sampled vector's true top-5 (TOTAL row −1 pins the 0.70 mean
    * floor). Measured: min-hits 2, mean 0.78–0.84 across SFs (4-probe
    * IVF alone plateaus at 0.56–0.76 on this near-isotropic synthetic
    * corpus — the same ceiling annLsh's 0.35 floor reflects — and the
    * NN-descent round buys the rest), so the floors trip only on a
    * real regression. Edge-level shape is spec-pinned in AnnSpec. */
  def embKnnGraphAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = embKnnGraph(s, dir)
    val c = corpus(s, dir)
    val sample = c.filter($"vec_id" % 37 === 0)
      .select($"vec_id".as("qid"), $"v".as("qv"))
    val exact = c.crossJoin(broadcast(sample))
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("neighbor_id"),
        r4(expr("cosine_sim(qv, v)")).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"qid").orderBy($"cos".desc, $"neighbor_id")))
      .filter($"rank" <= KnnK)
      .select($"qid", $"neighbor_id")
    val hits = edges.select($"vec_id".as("qid"), $"neighbor_id")
      .join(exact, Seq("qid", "neighbor_id"))
      .groupBy($"qid").agg(count(lit(1)).as("n_hits"))
    val per = sample.select($"qid")
      .join(hits, Seq("qid"), "left")
      .select($"qid", coalesce($"n_hits", lit(0L)).as("n_hits"))
    val nSample = sample.count()
    val total = per.agg((coalesce(sum($"n_hits"), lit(0L)) >=
        lit((0.7 * KnnK * nSample).round)).as("recall_ok"))
      .select(lit(-1L).as("vec_id"), $"recall_ok")
    per.select($"qid".as("vec_id"), ($"n_hits" >= 1).as("recall_ok"))
      .unionByName(total)
      .orderBy($"vec_id")
  }
  val embKnnGraphAuditSql: String =
    s"""SELECT vec_id, TRUE AS recall_ok FROM (
      |  SELECT CAST(-1 AS BIGINT) AS vec_id
      |  UNION ALL
      |  SELECT vec_id FROM embeddings WHERE $ValidVecSql AND vec_id % 37 = 0)
      |ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- C34
  /** Product quantization encode (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search"): 64d → 8 subspaces × 8d, each
    * subvector mapped to its nearest of 16 codebook centroids → an
    * 8-byte code per vector (32× compression), plus the total
    * quantization error — the memory-bounded vector representation
    * IVF-PQ indexes store at billion scale. Codebooks here are
    * md5-seeded constants shared verbatim with the oracle (training
    * them is per-subspace Lloyd — the distributed iteration C7b's IVF
    * build already demonstrates); encode is the scale-critical pass,
    * running narrow at scan parallelism over the full corpus.
    *
    * Determinism: per-dim squared residuals are exact IEEE ops on
    * identical doubles (4-dp codebook literals parse identically in
    * both engines), fixed-pointed to 1e-6 and summed as BIGINT;
    * argmin ties break to the lowest centroid index in both engines
    * (array_position / min-k-at-min-dist).
    *
    * 100 TB: zero shuffles — 8 × 16 fold expressions per row, codegen,
    * at scan parallelism; output is 8 BIGINT codes + one error per
    * row. */
  val PqSub = 8
  val PqK = 16
  val PqDim = 8
  /** codebooks(s)(k)(i) ∈ [-1, 1] at 4 dp, from md5("pq:s:k:i"). */
  lazy val pqCodebooks: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until PqSub).map { sub =>
      (0 until PqK).map { k =>
        (0 until PqDim).map { i =>
          val hex = md.digest(s"pq:$sub:$k:$i".getBytes("UTF-8"))
            .take(4).map("%02x".format(_)).mkString
          val u = java.lang.Long.parseLong(hex, 16).toDouble / 0xffffffffL.toDouble
          math.floor((u * 2 - 1) * 10000 + 0.5) / 10000
        }
      }
    }
  }

  def embPqEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val subCols = (0 until PqSub).map { sub =>
      val sv = slice($"v", sub * PqDim + 1, PqDim)
      val dists = array((0 until PqK).map { k =>
        val cen = array(pqCodebooks(sub)(k).map(lit): _*)
        aggregate(
          zip_with(sv, cen, (x, c) =>
            floor((x - c) * (x - c) * 1000000 + 0.5).cast("long")),
          lit(0L), (acc, x) => acc + x)
      }: _*)
      (array_position(dists, array_min(dists)).as(s"c$sub"),
        array_min(dists))
    }
    val errFp = subCols.map(_._2).reduce(_ + _)
    corpus(s, dir)
      .select($"vec_id" +: subCols.map(_._1) :+
        r4(errFp.cast("double") / 1000000).as("pq_err"): _*)
      .orderBy($"vec_id")
  }
  // --------------------------------------------------------------- C36
  /** IVF-PQ asymmetric-distance search (Jégou et al., IVFADC): the
    * billion-scale ANN layout C7b (coarse cells) and C34 (PQ codes)
    * exist to feed. A query probes its `IvfPqNProbe` nearest coarse
    * cells, then ranks ONLY those cells' packed PQ codes by table
    * lookup: adc(q, x) = Σ_s LUT_q[s][code_s(x)], where LUT_q holds
    * the per-subspace squared distances from q to every codebook
    * centroid. No full-precision vector is touched on the candidate
    * path — the property that lets a 64 GB executor fleet rank a
    * trillion codes.
    *
    * Coarse centroids are the vec_id<8 embeddings (C23's quantizer).
    * Codebooks are TRAINED (round 7): k-means init from the vec_id<64
    * seed slices, then [[lloydRefine]] — per-subspace Lloyd as
    * distributed jobs with a fixed-point, engine-replayable
    * trajectory, so the DuckDB oracle re-derives the SAME trained
    * codebooks (its WITH-chain runs the same iterations). Embeddings
    * are unit-norm, so L2 ADC ranks like cosine.
    *
    * Determinism: per-dim squared residuals fixed-pointed to 1e-6 and
    * summed as BIGINT (C34's contract), so codebook means, LUT
    * entries, ADC sums and their ordering are exact integers in both
    * engines — the oracle hash-matches the actual ranked output, a
    * stronger check than the C7/C7b recall contracts. Ties:
    * argmin/argmax to lowest index, final ranking (adc_fp,
    * neighbor_id).
    *
    * 100 TB: cell assignment is a narrow literal fold and
    * encode/LUT are single [[graft.functions.PqOps]] kernel nodes at
    * scan parallelism (the 64-row seed collect and the 32×64×2
    * trained-centroid collect are bounded metadata, like the
    * query-set collect); candidates come from a broadcast probe join
    * on `cell` — the IVF partition key, so a probe reads nprobe/K of
    * the corpus; the per-query top-k shuffles only (query_id, id,
    * BIGINT) triples. Recall ≥ 0.70 is pinned in AnnSpec (measured
    * 0.75 vs a 0.94 cell-coverage ceiling). */
  val IvfPqCells = 8
  val IvfPqNProbe = 3
  val PqIters = 3
  // C36's code geometry: 32 subspaces × 2 dims × 64 centroids (PQ32x6
  // — 24 bytes packed). This corpus is near-random unit vectors (no
  // low-dim structure — the hardest regime for PQ: true neighbors sit
  // at cos 0.3–0.5 over a cos~0.15 background, so the ADC gap is thin
  // and 8-byte codes drown it in quantization noise). Measured on the
  // offline replica: 8×8d/16 → err 0.37, recall 0.31; 16×4d/16 →
  // 0.37/0.41; 32×2d/64 trained → err 0.027, recall 0.75. Real
  // embedding corpora with decaying spectra get away with far fewer
  // bits; the knobs are these three constants.
  val IvfPqSub = 32
  val IvfPqDim = 2
  val IvfPqK = 64
  private def r4d(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000

  /** Per-subspace Lloyd refinement of the PQ codebooks — the training
    * step between k-means init (C36's data-sampled seeds) and encode.
    * Each iteration is one distributed job — assignment via the
    * [[graft.functions.PqOps.PqCodes]] kernel at scan parallelism,
    * means re-derived per (subspace, code, dim) as BIGINT fixed-point
    * sums (addition-order-free) and 4-dp rounded, so BOTH engines
    * replay the identical trajectory; the only driver traffic is the
    * 32×64×2 refined centroid table (bounded metadata). Codes are
    * 1-based to match the oracle's k+1 convention; a code that loses
    * all members keeps its previous centroid (coalesce, both sides).
    * Training runs over the full corpus here — it IS sample-sized; at
    * 100 TB the train frame is a deterministic sample (faiss trains
    * on ~100k vectors) while encode still covers everything. */
  private def lloydRefine(s: SparkSession, c: DataFrame,
      init: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      iters: Int): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    import s.implicits._
    var cbs = init
    for (_ <- 1 to iters) {
      val cbLit = typedLit(cbs.map(_.map(_.toSeq).toSeq).toSeq)
      val rows = c
        .select($"v", posexplode(
          call_function("pq_codes", $"v", cbLit)).as(Seq("s", "k")))
        .select($"s", $"k", posexplode(
          slice($"v", $"s" * IvfPqDim + 1, lit(IvfPqDim))).as(Seq("pos", "x")))
        .groupBy($"s", $"k", $"pos")
        .agg(sum(floor($"x" * 1000000 + 0.5).cast("long")).as("sfp"),
          count(lit(1)).as("n"))
        .select($"s", $"k", $"pos",
          (floor(floor($"sfp" * lit(1.0) / $"n") / 100.0 + 0.5) / 10000.0)
            .as("cen"))
        .collect()
      val trained = rows.map(r =>
        ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getDouble(3))).toMap
      cbs = (0 until IvfPqSub).map { sub =>
        (0 until IvfPqK).map { k =>
          (0 until IvfPqDim).map { i =>
            trained.getOrElse((sub, k + 1, i), cbs(sub)(k)(i))
          }
        }
      }
    }
    cbs
  }

  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = corpus(s, dir)
    // bounded driver-side constants: 64 seed vectors → coarse centroids
    // (first 8) and PQ codebook init, 4-dp rounded on both engines.
    // Seeds are the IvfPqK LOWEST-ID VALID vectors (orderBy + limit),
    // not `vec_id < IvfPqK`: the valid-vector contract can leave holes
    // in the low-id range, and an id-predicate seed set then comes up
    // short (seeds(k) walked off the end on the dirty corpus — r10).
    val seeds: IndexedSeq[IndexedSeq[Double]] = c.orderBy($"vec_id")
      .limit(IvfPqK).as[(Long, Seq[Double])].collect()
      .map(_._2.map(r4d).toIndexedSeq).toIndexedSeq
    if (seeds.isEmpty) {
      // EMPTY corpus → empty result, not an error (r12, softened): a
      // pipeline stage fed an empty upstream partition is a routine
      // production state, and the oracle emits zero rows there too (no
      // queries, no candidates). The named contract below stays for the
      // genuinely-broken middle ground — a NON-empty corpus too small
      // to train the declared K codebook entries.
      return c.select($"vec_id".as("query_id"),
        lit(1).as("rank"), $"vec_id".as("neighbor_id"),
        lit(0.0).as("adc_dist")).limit(0)
    }
    require(seeds.length == IvfPqK,
      s"ann_ivf_pq: corpus has ${seeds.length} valid vectors, " +
        s"need >= $IvfPqK for codebook init")
    val cents = seeds.take(IvfPqCells)
    val cbs0 = (0 until IvfPqSub).map { sub =>
      (0 until IvfPqK).map(k =>
        seeds(k).slice(sub * IvfPqDim, sub * IvfPqDim + IvfPqDim))
    }
    // round-7: Lloyd-refine the k-means-init codebooks (recall floor
    // was 0.33 untrained; trained PQ32x6 ADC clears the 0.7 AnnSpec
    // floor at 0.75, nprobe unchanged)
    val cbs = lloydRefine(s, c, cbs0, PqIters)
    val cbLit = typedLit(cbs.map(_.map(_.toSeq).toSeq).toSeq)

    // per-cell affinity via the FUSED codegen cosine kernel
    // (functions/HashOps.cosine): dot + both norms in one array pass,
    // replacing 8 interpreted aggregate(zip_with(..)) folds per corpus
    // row (r11 attribution pass — the r10 `greatest` divisor guard and
    // its codegen-limit history live in git; the kernel needs no
    // divisor guard at all, it returns 0 on a zero norm, and the
    // corpus filter already excludes such rows). Summation order
    // inside the kernel matches the previous HOF fold and the oracle's
    // list_sum left-to-right, so the r4-rounded values are
    // bit-identical (driver hash-verified).
    val cells = array(cents.map { cv =>
      r4(call_function("cosine_sim", $"v", array(cv.map(lit): _*)))
    }: _*)
    // first-max position = lowest-cell tie-break, matching the oracle
    val cellCol = (array_position(cells, array_max(cells)) - 1).cast("int")

    val assigned = c.select($"vec_id", cellCol.as("cell"),
      call_function("pq_codes", $"v", cbLit).as("codes"))

    val probes = c.filter($"vec_id" < QueryIds)
      .select($"vec_id".as("query_id"),
        call_function("pq_adc_lut", $"v", cbLit).as("qlut"),
        posexplode(cells).as(Seq("cell", "qcos")))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"query_id").orderBy($"qcos".desc, $"cell")))
      .filter($"rn" <= IvfPqNProbe)
      .select($"query_id", $"cell", $"qlut")

    val cand = assigned.join(broadcast(probes), "cell")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        aggregate(zip_with($"codes", $"qlut",
            (code, l) => element_at(l, code)),
          lit(0L), _ + _).as("adc_fp"))
    val w = Window.partitionBy($"query_id").orderBy($"adc_fp", $"neighbor_id")
    cand.withColumn("rank", row_number().over(w))
      .filter($"rank" <= K)
      .select($"query_id", $"rank", $"neighbor_id",
        r4($"adc_fp".cast("double") / 1000000).as("adc_dist"))
      .orderBy($"query_id", $"rank")
  }
  /** One oracle-side Lloyd iteration: assign the training sample to
    * the previous codebooks with the same fixed-point distances,
    * re-derive per-(s, k, dim) means as BIGINT sums → 4-dp centroids,
    * keep the previous centroid for codes with no members — the exact
    * SQL twin of [[lloydRefine]]'s one pass. */
  private def lloydIterSql(it: Int): String = {
    val prev = s"cb${it - 1}"
    s"""d_t$it AS (SELECT tr.vec_id, cb.s, cb.k,
       |    list_sum([CAST(floor((tr.v[cb.s * $IvfPqDim + i] - cen[i])
       |        * (tr.v[cb.s * $IvfPqDim + i] - cen[i]) * 1000000 + 0.5) AS BIGINT)
       |      FOR i IN range(1, ${IvfPqDim + 1})]) AS dist
       |  FROM tr CROSS JOIN $prev cb),
       |a_t$it AS (SELECT vec_id, s,
       |    CAST(min(dist * 100 + k) % 100 AS INT) AS k
       |  FROM d_t$it GROUP BY 1, 2),
       |m_t$it AS (SELECT a.s, a.k, i.i AS pos,
       |    sum(CAST(floor(tr.v[a.s * $IvfPqDim + i.i + 1] * 1000000 + 0.5)
       |      AS BIGINT)) AS sfp,
       |    count(*) AS n
       |  FROM a_t$it a JOIN tr USING (vec_id)
       |  CROSS JOIN range(0, $IvfPqDim) i(i)
       |  GROUP BY 1, 2, 3),
       |g_t$it AS (SELECT s, k,
       |    list(floor(floor(sfp * 1.0 / n) / 100.0 + 0.5) / 10000.0
       |      ORDER BY pos) AS cen
       |  FROM m_t$it GROUP BY 1, 2),
       |cb$it AS (SELECT c.s, c.k, coalesce(g.cen, c.cen) AS cen
       |  FROM $prev c LEFT JOIN g_t$it g ON c.s = g.s AND c.k = g.k),"""
      .stripMargin
  }

  lazy val annIvfPqSql: String =
    s"""WITH n AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE $ValidVecSql),
       |m AS (SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM n),
       |sd AS (SELECT v, row_number() OVER (ORDER BY vec_id) AS rk
       |  FROM n ORDER BY vec_id LIMIT $IvfPqK),
       |cent AS (SELECT rk - 1 AS cluster,
       |    list_transform(v, x -> floor(x * 10000 + 0.5) / 10000) AS cv
       |  FROM sd WHERE rk <= $IvfPqCells),
       |centn AS (SELECT cluster, cv,
       |    sqrt(list_sum(list_transform(cv, x -> x * x))) AS cn FROM cent),
       |asg0 AS (SELECT m.vec_id, c.cluster,
       |    floor(list_sum(list_transform(list_zip(m.v, c.cv),
       |      p -> p[1] * p[2])) / (m.nrm * c.cn) * 10000 + 0.5) / 10000 AS cos
       |  FROM m CROSS JOIN centn c),
       |asg AS (SELECT vec_id, cluster AS cell FROM (
       |    SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY cos DESC, cluster) AS rn FROM asg0) WHERE rn = 1),
       |cb0 AS (SELECT t.s, sd.rk AS k,
       |    [floor(v[t.s * $IvfPqDim + i] * 10000 + 0.5) / 10000
       |     FOR i IN range(1, ${IvfPqDim + 1})] AS cen
       |  FROM sd CROSS JOIN range(0, $IvfPqSub) t(s)),
       |tr AS (SELECT vec_id, v FROM n),
       |${(1 to PqIters).map(lloydIterSql).mkString("\n")}
       |cb AS (SELECT s, k, cen FROM cb$PqIters),
       |d AS (SELECT n.vec_id, cb.s, cb.k,
       |    list_sum([CAST(floor((v[cb.s * $IvfPqDim + i] - cen[i])
       |        * (v[cb.s * $IvfPqDim + i] - cen[i]) * 1000000 + 0.5) AS BIGINT)
       |      FOR i IN range(1, ${IvfPqDim + 1})]) AS dist
       |  FROM n CROSS JOIN cb),
       |codes AS (SELECT vec_id, s,
       |    CAST(min(dist * 100 + k) % 100 AS INT) AS code
       |  FROM d GROUP BY 1, 2),
       |probes AS (SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, c.cluster AS cell,
       |      floor(list_sum(list_transform(list_zip(q.v, c.cv),
       |        p -> p[1] * p[2])) / (q.nrm * c.cn) * 10000 + 0.5) / 10000 AS cos,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        floor(list_sum(list_transform(list_zip(q.v, c.cv),
       |          p -> p[1] * p[2])) / (q.nrm * c.cn) * 10000 + 0.5) / 10000
       |          DESC, c.cluster) AS rn
       |    FROM m q CROSS JOIN centn c WHERE q.vec_id < $QueryIds)
       |  WHERE rn <= $IvfPqNProbe),
       |lut AS (SELECT q.vec_id AS query_id, cb.s, cb.k,
       |    list_sum([CAST(floor((q.v[cb.s * $IvfPqDim + i] - cen[i])
       |        * (q.v[cb.s * $IvfPqDim + i] - cen[i]) * 1000000 + 0.5) AS BIGINT)
       |      FOR i IN range(1, ${IvfPqDim + 1})]) AS dist
       |  FROM n q CROSS JOIN cb WHERE q.vec_id < $QueryIds),
       |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id,
       |    sum(l.dist) AS adc_fp
       |  FROM probes p
       |  JOIN asg a ON a.cell = p.cell
       |  JOIN codes c ON c.vec_id = a.vec_id
       |  JOIN lut l ON l.query_id = p.query_id AND l.s = c.s AND l.k = c.code
       |  WHERE a.vec_id <> p.query_id GROUP BY 1, 2),
       |r AS (SELECT query_id, neighbor_id, adc_fp,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY adc_fp, neighbor_id) AS rank
       |  FROM cand)
       |SELECT query_id, rank, neighbor_id,
       |  floor(CAST(adc_fp AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000
       |    AS adc_dist
       |FROM r WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  val embPqEncodeSql: String = {
    val cbRows = (for {
      sub <- 0 until PqSub
      k <- 0 until PqK
    } yield {
      val cen = pqCodebooks(sub)(k).map(v => f"$v%.4f").mkString("[", ", ", "]")
      s"($sub, ${k + 1}, $cen)"
    }).mkString(",\n    ")
    val codeCols = (0 until PqSub)
      .map(sub => s"max(CASE WHEN s = $sub THEN code END) AS c$sub")
      .mkString(",\n  ")
    s"""WITH cb(s, k, cen) AS (VALUES
       |    $cbRows),
       |n AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE $ValidVecSql),
       |d AS (SELECT vec_id, s, k,
       |    list_sum([CAST(floor((v[s * 8 + i] - cen[i]) * (v[s * 8 + i] - cen[i])
       |        * 1000000 + 0.5) AS BIGINT) FOR i IN range(1, 9)]) AS dist
       |  FROM n CROSS JOIN cb),
       |m AS (SELECT vec_id, s, min(dist) AS md FROM d GROUP BY 1, 2),
       |c AS (SELECT d.vec_id, d.s, min(d.k) AS code, min(m.md) AS md
       |  FROM d JOIN m ON d.vec_id = m.vec_id AND d.s = m.s AND d.dist = m.md
       |  GROUP BY 1, 2)
       |SELECT vec_id,
       |  $codeCols,
       |  floor(CAST(sum(md) AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000
       |    AS pq_err
       |FROM c GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }
}
