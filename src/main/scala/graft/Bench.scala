package graft

import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): run every registered query on
  * SPARK_GRAFT_SF_DIR, print ONE JSON line with per-query seconds.
  * Timing is end-to-end per query (plan + execute + count). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm up every query shape once on the smallest SF (JMH-style):
    // first execution of a plan pays whole-stage-codegen javac + JIT,
    // which a long-lived cluster amortizes to zero. Timing below then
    // measures steady-state data-proportional work, not compiler time.
    locally {
      val parent = new java.io.File(sfDir).getParentFile
      val tiny = new java.io.File(parent, "sf0.001")
      val warmDir = if (tiny.isDirectory) tiny.getPath else sfDir
      SparkEntry.queries.values.foreach { fn =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
        GraftSession.release(spark)
      }
    }
    // Best + median per query over 5 runs (r7 verdict: single-shot
    // timings on a shared box are ±3× noise, and with only best-of-3
    // a phantom swing is indistinguishable from a regression — the
    // median self-diagnoses: best moved AND median moved ⇒ real;
    // best moved, median stable ⇒ one noisy run). The min remains the
    // query's real cost. Cache is cleared between runs so each timing
    // does its own IO + shuffle work, and persisted branches from one
    // query never pin executor memory into the next.
    //
    // r12 (r11 verdict task 3): the runs are split into TWO full
    // registry sweeps — each query times 3 runs in sweep A, then,
    // after every other query's sweep-A block (~the whole suite
    // later), 2 more in sweep B. Same total run count, but the box's
    // documented between-run drift (same-code totals swung ±25–75%
    // across a morning) now has to hit BOTH of a query's
    // time-separated blocks to inflate its best — the driver headline
    // inherits the sf1 Probe pairwise-min protocol's robustness
    // instead of hoping one 5-run block lands in a quiet window.
    // pairwise_min_total below makes the basis machine-readable.
    val Runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "5").toInt
    val RunsA = (Runs + 1) / 2
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    def sweep(runIdx: Range): Map[String, Seq[(Int, Double)]] =
      ordered.map { case (name, fn) =>
        name -> runIdx.map { i =>
          val t0 = System.nanoTime()
          val ok = try { fn(spark, sfDir).count(); true }
            catch { case _: Throwable => false }
          val sec = (System.nanoTime() - t0) / 1e9
          // also drops finished memory-sink tables: every run of a
          // streaming query creates a fresh UUID-named sink, so without
          // the release 5 runs retain 5 copies of its rows on the heap
          GraftSession.release(spark)
          (i, if (ok) sec else -1.0)
        }.filter(_._2 >= 0)
      }.toMap
    // Drift canary (r12 verdict task 1): a fixed synthetic CPU+shuffle
    // probe timed before, between, and after the two sweeps. Identical
    // plan and row count every invocation, zero file IO — so any
    // movement in canary_pre/mid/post is the BOX, not the tree, and a
    // cross-round total comparison starts by normalizing against it.
    // r15 (r14 verdict task 3): a SECOND canary of the shuffle/join
    // class brackets the sweeps too — r14's window drift was
    // class-selective (shingle-self-join queries +46% while the scan
    // canary held), so the headline is only attributable when BOTH
    // canary triples are read together.
    val canaryPre = graft.tools.DriftCanary.warmThenTime(spark)
    val canary2Pre = graft.tools.DriftCanary.warmThenTimeJoin(spark)
    val sweepA = sweep(1 to RunsA)
    val canaryMid = graft.tools.DriftCanary.run(spark)
    val canary2Mid = graft.tools.DriftCanary.runJoin(spark)
    val sweepB = sweep(RunsA + 1 to Runs)
    val canaryPost = graft.tools.DriftCanary.run(spark)
    val canary2Post = graft.tools.DriftCanary.runJoin(spark)
    val results = ordered.map { case (name, _) =>
      val timed = sweepA(name) ++ sweepB(name)
      val secs = timed.map(_._2)
      val best = if (secs.nonEmpty) secs.min else -1.0
      val med = if (secs.nonEmpty) secs.sorted.apply(secs.size / 2) else -1.0
      val worst = if (secs.nonEmpty) secs.max else -1.0
      // spread basis excludes each SWEEP's first run: warmup only
      // touches the tiny SF, so a query's first sfDir run pays cold
      // file IO (3–7× on this box's own protocol) — and after the
      // two-sweep split, sweep B's first run (i = RunsA+1) re-pays it
      // too, ~170 other queries' blocks having evicted the pages.
      // Either cold run would trip the 3× flag for every IO-bound
      // query — a systematic false positive, not box noise.
      // queries_max still reports ALL runs.
      val warm = timed.collect {
        case (i, s) if i > 1 && i != RunsA + 1 => s }
      val spreadNoisy = warm.nonEmpty && warm.max > warm.min * 3
      (name, best, med, worst, spreadNoisy)
    }
    // Pairwise-min bookkeeping: per-query best within each sweep, and
    // the per-sweep best-totals (their spread is the drift gauge — a
    // large A-vs-B gap on identical code means the box moved, not the
    // tree). pairwise_min_total = Σ min(bestA, bestB) — by construction
    // equal to `value` when both sweeps ran a query, and the honest
    // one-sided best when a query failed in one sweep.
    def sweepBest(sw: Map[String, Seq[(Int, Double)]], n: String): Double = {
      val s = sw(n).map(_._2)
      if (s.nonEmpty) s.min else -1.0
    }
    val pairwiseMinTotal = ordered.map { case (n, _) =>
      Seq(sweepBest(sweepA, n), sweepBest(sweepB, n)).filter(_ >= 0) match {
        case Nil => 0.0
        case bs => bs.min
      }
    }.sum
    val sweepATotal = ordered.map { case (n, _) => sweepBest(sweepA, n) }
      .filter(_ >= 0).sum
    val sweepBTotal = ordered.map { case (n, _) => sweepBest(sweepB, n) }
      .filter(_ >= 0).sum
    // Per-query noise self-diagnosis against the newest committed
    // BENCH_r*.json (r8 verdict: a 121-vs-162 best/median spread made
    // regressions unreadable): best moved ≥1.5× while the median held
    // within 1.2× ⇒ one noisy run, flag it; best AND median moved ⇒
    // candidate real change, reader investigates.
    val prev: Map[String, (Double, Double)] = {
      val files = Option(new java.io.File(".").listFiles()).toSeq.flatten
        .filter(_.getName.matches("BENCH_r\\d+\\.json")).sortBy(_.getName)
      files.lastOption.map { f =>
        val txt = java.nio.file.Files.readString(f.toPath)
        // the driver may wrap stdout with escaped quotes; match both
        def block(key: String): Map[String, Double] =
          (s"""\\\\?"$key\\\\?":\\{([^}]*)\\}""").r.findFirstMatchIn(txt)
            .map { m =>
              """\\?"([a-z0-9_]+)\\?":([0-9.]+)""".r.findAllMatchIn(m.group(1))
                .map(g => g.group(1) -> g.group(2).toDouble).toMap
            }.getOrElse(Map.empty)
        val b = block("queries")
        val md = block("queries_median")
        b.map { case (k, v) => k -> (v, md.getOrElse(k, -1.0)) }
      }.getOrElse(Map.empty)
    }
    def moved(now: Double, before: Double, ratio: Double) =
      before > 0 && now > 0 && (now > before * ratio || now < before / ratio)
    val noise = results.flatMap { case (name, best, med, _, _) =>
      prev.get(name).collect {
        case (pb, pm) if moved(best, pb, 1.5) && !moved(med, pm, 1.2) => name
      }
    }.sorted
    // Within-run spread (r10 verdict task 4): the box swings single
    // queries 10× between same-code runs, which cost r10 its headline
    // to three sweeps of forensics. A query whose max/min across its
    // WARM in-process runs (2..5 — see spread-basis note above)
    // exceeds 3× is machine-flagged noisy, and the line carries the
    // per-query max map so any reader can compute the spread without
    // a re-run. noisy=true ⇒ treat cross-round per-query deltas on
    // the flagged queries as unattributable.
    val noisyQueries = results.collect {
      case (name, _, _, _, true) => name
    }.sorted
    // The driver retains only the LAST ~2000 bytes of output (r6
    // evidence: BENCH tail truncation hid 50 of 110 per-query times),
    // so order the line for tail survival: the median map first (its
    // head may truncate), then per-query best ascending (slowest
    // LAST, 3-decimal), then noise flags, failures, and the headline
    // totals/sf. Key order is irrelevant to any JSON parser; the tail
    // always shows the slowest queries, which runs FAILED (a total
    // over fewer queries is not comparable — r8 ADVICE), and both
    // totals.
    def f3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", v)
    def jmap(kv: Seq[(String, Double)]) =
      kv.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    def jarr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Failed queries (sentinel -1) are excluded here exactly as from
    // `queries`/`median_total`, so summing either map is consistent
    // with its total; failures are reported only via failed/n_failed.
    val maxs = jmap(results.filter(_._4 >= 0).map(r => (r._1, r._4)).sortBy(_._2))
    val meds = jmap(results.filter(_._3 >= 0).map(r => (r._1, r._3)).sortBy(_._2))
    val qs = jmap(results.filter(_._2 >= 0).map(r => (r._1, r._2)).sortBy(_._2))
    val failed = results.filter(_._2 < 0).map(_._1).sorted
    val total = results.map(_._2).filter(_ >= 0).sum
    val medTotal = results.map(_._3).filter(_ >= 0).sum
    // Name which probe classes drifted WITHIN this run (r14 verdict
    // task 3's second half: the triples alone still make the reader do
    // the ratio math)
    val driftClasses = graft.tools.DriftCanary.driftedClasses(Seq(
      "scan" -> Seq(canaryPre, canaryMid, canaryPost),
      "shuffle" -> Seq(canary2Pre, canary2Mid, canary2Post)))
    println(s"""{"queries_max":$maxs,"queries_median":$meds,"queries":$qs,"noise_vs_prev":${jarr(noise)},"noisy_queries":${jarr(noisyQueries)},"noisy":${noisyQueries.nonEmpty},"n_noisy":${noisyQueries.size},"n_ok":${results.count(_._2 >= 0)},"n_failed":${failed.size},"failed":${jarr(failed)},"metric":"total","value":${f3(total)},"median_total":${f3(medTotal)},"pairwise_min_total":${f3(pairwiseMinTotal)},"sweep_a_total":${f3(sweepATotal)},"sweep_b_total":${f3(sweepBTotal)},"canary_pre":${f3(canaryPre)},"canary_mid":${f3(canaryMid)},"canary_post":${f3(canaryPost)},"canary2_pre":${f3(canary2Pre)},"canary2_mid":${f3(canary2Mid)},"canary2_post":${f3(canary2Post)},"drift_classes":${jarr(driftClasses)},"runs":$Runs,"unit":"sec","sf":"$sfDir"}""")
    // Per-query compact lines (r16 verdict task 1): the headline line
    // above is several KB, so a consumer that keeps only the LAST
    // ~2000 bytes of stdout never sees a complete per-query map. Each
    // line below is a self-contained <100-byte JSON object; printed
    // ascending so the SLOWEST queries (the interesting ones) sit
    // nearest the tail and survive the clipping. A full-stdout
    // consumer skips them via the "q" discriminator, same contract as
    // the trailer's "trailer":true.
    results.filter(_._2 >= 0).sortBy(_._2).foreach { case (n, b, m, _, _) =>
      println(s"""{"q":"$n","s":${f3(b)},"med":${f3(m)}}""")
    }
    // Compact trailer (r14 verdict task 4: BENCH_r14's `parsed` was
    // null — the driver keeps only the LAST ~2000 bytes of stdout, and
    // the full line above is long enough that its head gets clipped,
    // leaving no complete JSON object in the tail). This line carries
    // the headline totals + both canary triples in < 400 bytes, so a
    // whole parseable JSON object always survives the clipping.
    // "trailer":true (r15 ADVICE): a full-stdout consumer that parses
    // every JSON line would otherwise double-count the headline total —
    // the discriminator lets it drop this line while the tail parser
    // still finds a complete object.
    val trailer = s"""{"trailer":true,"metric":"total","value":${f3(total)},"unit":"sec","n_ok":${results.count(_._2 >= 0)},"n_failed":${failed.size},"n_noisy":${noisyQueries.size},"median_total":${f3(medTotal)},"pairwise_min_total":${f3(pairwiseMinTotal)},"canary_pre":${f3(canaryPre)},"canary_mid":${f3(canaryMid)},"canary_post":${f3(canaryPost)},"canary2_pre":${f3(canary2Pre)},"canary2_mid":${f3(canary2Mid)},"canary2_post":${f3(canary2Post)},"drift_classes":${jarr(driftClasses)},"runs":$Runs,"sf":"$sfDir"}"""
    println(trailer)
    // Sidecar file (r15 verdict task 8; extended per r16 verdict task
    // 1): the round artifact stays machine-readable even when the
    // driver's stdout clipping eats the whole tail. The file carries
    // the compact trailer object EXTENDED with the full per-query
    // pairwise-min map ("queries") and the per-query medians
    // ("queries_median") — files don't clip, so this is the canonical
    // per-query record for regression analysis.
    try {
      val sidecar = trailer.stripSuffix("}") +
        s""","queries":$qs,"queries_median":$meds}"""
      val p = java.nio.file.Paths.get("BENCH_trailer.json")
      java.nio.file.Files.write(p, (sidecar + "\n").getBytes("UTF-8"))
    } catch { case t: Throwable =>
      LogManager.getLogger("graft.Bench").warn(
        s"GRAFT WARN could not write BENCH_trailer.json: $t")
    }
    spark.stop()
  }
}
