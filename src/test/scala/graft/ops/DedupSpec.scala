package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture.{spark, sf0001}

/** Specs for the non-SQL-expressible dedup paths (SURVEY.md §5):
  * recompute the expected result exactly in plain Scala at sf0.001 and
  * demand equality — stronger than a rows-only check. */
class DedupSpec extends AnyFunSuite {

  test("dedup_simhash equals brute-force hamming<=3 over all pairs") {
    import spark.implicits._
    // chunk blocking is exact by pigeonhole: 4 chunks, <=3 differing
    // bits -> at least one chunk identical. Verify against all-pairs.
    val fps = graft.Tables.table(spark, sf0001, "documents")
      .select($"doc_id", org.apache.spark.sql.functions.expr("simhash64(split(text, ' '))"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val want = (for {
      (d1, s1) <- fps.iterator
      (d2, s2) <- fps.iterator if d1 < d2
      h = java.lang.Long.bitCount(s1 ^ s2) if h <= 3
    } yield (d1, d2, h)).toSet
    val got = Dedup.dedupSimhash(spark, sf0001)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty, "planted near-dups should collide")
  }

  test("dedup_minhash_lsh reproduces the exact jaccard pair set") {
    import spark.implicits._
    val exact = Dedup.dedupNgramJaccard(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.dedupMinhashLsh(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet
    assert(lsh === exact)
    assert(exact.nonEmpty)
  }

  test("dedup_cluster equals brute-force union-find components") {
    import spark.implicits._
    // reference components: union-find over the same edge set
    val near = Dedup.dedupNgramJaccard(spark, sf0001)
      .select("d1", "d2").as[(Long, Long)].collect()
    val docs = graft.Tables.table(spark, sf0001, "documents")
      .select($"doc_id").as[Long].collect()
    val exact = docs.filter(_ % 10 == 0).map(d => (d, d + Dedup.DupShift))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- near ++ exact) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = (near ++ exact).flatMap(p => Seq(p._1, p._2)).distinct
    val want = members.map(m => (m, find(m))).toMap
    val sizes = want.values.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val got = Dedup.dedupCluster(spark, sf0001)
      .as[(Long, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2)).toMap === want)
    assert(got.forall(r => sizes(r._2) == r._3))
    assert(got.exists(_._3 >= 3), "transitive chain should form a >=3 cluster")
  }

  test("dedup_containment finds every injected fragment; jaccard misses them") {
    import spark.implicits._
    val got = Dedup.dedupContainment(spark, sf0001)
      .as[(Long, Long, Double)].collect()
    // every injected fragment (id shifted +FragShift) is a shingle-subset
    // of its source, so it must surface with containment exactly 1.0
    val nFrags = graft.Tables.table(spark, sf0001, "documents")
      .filter($"doc_id" % 9 === 0 &&
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split($"text", " ")) >= 8).count()
    val fragHits = got.filter(p => p._1 >= Dedup.FragShift && p._2 == p._1 - Dedup.FragShift)
    assert(fragHits.length === nFrags, "an injected fragment was missed")
    assert(fragHits.forall(_._3 == 1.0))
    // the same (fragment, source) pairs are invisible to symmetric
    // Jaccard at 0.8 — that asymmetry is this operator's reason to exist
    val jac = Dedup.dedupNgramJaccard(spark, sf0001)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(fragHits.forall(p => !jac.contains((p._2, p._1)) &&
      !jac.contains((p._1, p._2))))
  }

  test("star-contraction resolves a 200-deep chain in O(log n) rounds") {
    import spark.implicits._
    // a path graph of diameter 199 — min-label propagation (the old
    // implementation) needed one round per hop and threw past its
    // 20-round cap on exactly this shape; star-contraction folds the
    // chain in half each round
    // smallCutoff = 0 forces the DISTRIBUTED loop (the r16 small-graph
    // union-find fast path would otherwise absorb every fixture-scale
    // graph and leave the loop untested)
    val chain = (0L until 199L).map(i => (i + 1, i)).toDF("u", "v")
    val (labels, rounds, _) = Dedup.starContract(chain, 4, smallCutoff = 0L)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size === 200)
    assert(got.values.forall(_ == 0L), "every node labels to the chain min")
    assert(rounds >= 1 && rounds <= 12,
      s"expected the loop to run ~log2(200) rounds, got $rounds")
    // multi-component + singleton sanity on the same code path
    val multi = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 20L)).toDF("u", "v")
    val (l2, _, _) = Dedup.starContract(multi, 2, smallCutoff = 0L)
    val m2 = l2.as[(Long, Long)].collect().toMap
    assert(m2 === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("small-graph union-find fast path labels exactly like the loop") {
    import spark.implicits._
    // adversarial mix: a deep chain, a star, a clique, self-loops,
    // duplicate and reversed edges — the shapes the loop's canon +
    // alternating stars normalize — on both code paths
    val edges = ((0L until 60L).map(i => (i + 1, i)) ++ // chain 0..60
      (100L to 120L).map(i => (100L, i)) ++             // star w/ self-loop
      (for (a <- 200L to 205L; b <- 200L to 205L if a != b) yield (a, b)) ++
      (0L until 30L).map(i => (i, i + 1)) ++            // reversed dups
      Seq((300L, 300L))).toDF("u", "v")                 // pure singleton
    val (fast, fr, _) = Dedup.starContract(edges, 4)
    assert(fr === 0, "fixture-scale graph must take the fast path")
    val (loop, lr, _) = Dedup.starContract(edges, 4, smallCutoff = 0L)
    assert(lr >= 1, "cutoff 0 must force the distributed loop")
    val fm = fast.as[(Long, Long)].collect().toMap
    val lm = loop.as[(Long, Long)].collect().toMap
    assert(fm === lm, "fast-path labels diverge from the loop's fixpoint")
    assert(fm(60L) === 0L && fm(120L) === 100L && fm(205L) === 200L &&
      fm(300L) === 300L)
  }

  test("dedup_exact keeps one canonical row per text") {
    import spark.implicits._
    val out = Dedup.dedupExact(spark, sf0001)
      .as[(String, Long, Long)].collect()
    val docs = graft.Tables.table(spark, sf0001, "documents").count()
    assert(out.length === docs) // corpus has no natural exact dups
    assert(out.count(_._3 == 2) === (docs / 10).toInt) // injected copies collapse
    assert(out.forall(_._2 < Dedup.DupShift)) // canonical row is the original
  }

  test("dedup_semantic accounting conserves the feed and catches every planted copy") {
    import spark.implicits._
    val stats = Dedup.dedupSemantic(spark, sf0001)
      .select($"n_vectors", $"n_dropped", $"n_kept")
      .as[(Long, Long, Long)].collect()
    for ((n, d, k) <- stats) assert(n === d + k, s"cluster accounting broken: $n != $d + $k")
    val feedSize = Dedup.nearFeed(spark, sf0001).count()
    assert(stats.map(_._1).sum === feedSize, "clusters do not partition the feed")
    // a planted near-copy (cos ≈ 0.997 to its source) is dropped when
    // it lands in its source's cell; a few sit ON a Voronoi boundary
    // and flip cells — the known recall loss of cluster-bounded
    // dedup (SemDeDup accepts it; C5's LSH path catches those).
    // Deterministic here: 121 of 125 planted copies drop.
    val planted = Dedup.nearFeed(spark, sf0001)
      .filter($"vec_id" >= Dedup.VecShift).count()
    val dropped = stats.map(_._2).sum
    assert(dropped >= planted * 9 / 10,
      s"dropped $dropped < 90% of $planted planted near-copies")
  }

  test("dedup_semantic: adversarial all-one-cell feed stays within the pair budget") {
    import spark.implicits._
    // 1000 IDENTICAL vectors: every row ties to every centroid at
    // cos 1.0 and the id tie-break funnels the ENTIRE feed into
    // cluster 1 — the degenerate Voronoi cell no k can fix. The cap
    // must split it so the pair join does O(cap²·nsub) work, not O(n²).
    val M = 1000
    val cap = 64
    import org.apache.spark.sql.functions.{array, lit}
    val base = (0 until Dedup.EmbDim).map(i => math.sin(i + 1) / 8)
    val feed = spark.range(M).select($"id".as("vec_id"),
      array(base.map(lit): _*).as("v"))
    val out = Dedup.semanticCore(spark, feed, 512, cap)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.length === 1, s"expected one populated cell: ${out.toSeq}")
    val (cl, nVec, nDrop, nKeep, nSub) = out.head
    assert(cl === 1L && nVec === M.toLong)
    assert(nDrop + nKeep === M.toLong, "accounting broken")
    assert(nSub === (M + cap - 1) / cap, s"cell not split: nsub=$nSub")
    // replay the md5 sub-key host-side: the deterministic spread keeps
    // every sub-cell within 2×cap, so the pair join's worst unit is
    // (2cap choose 2), never (n choose 2)
    val mdig = java.security.MessageDigest.getInstance("MD5")
    def subOf(id: Long): Long = {
      val h = mdig.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 4), 16) % nSub
    }
    val sizes = (0L until M.toLong).groupBy(subOf).values.map(_.size)
    assert(sizes.max <= 2 * cap, s"sub-cell overflow: max ${sizes.max}")
    val pairBudget = nSub * (2L * cap) * (2L * cap - 1) / 2
    val actualPairs = sizes.map(s => s.toLong * (s - 1) / 2).sum
    val unsplit = M.toLong * (M - 1) / 2
    assert(actualPairs <= pairBudget && actualPairs * 4 < unsplit,
      s"pair work not bounded: $actualPairs vs budget $pairBudget / unsplit $unsplit")
    // identical vectors: every within-sub pair qualifies, so exactly
    // the min id of each non-empty sub-cell survives
    assert(nKeep === sizes.size.toLong, "kept != non-empty sub-cells")
  }

  test("dedup_survival_curve is monotone and its t=0.8 point equals C2 exactly") {
    import spark.implicits._
    val curve = Dedup.dedupSurvivalCurve(spark, sf0001)
      .select("t_pct", "n_pairs", "n_dropped", "n_survivors")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(curve.map(_._1).toSeq === Seq(50L, 60L, 70L, 80L, 90L))
    // tightening the threshold can only shed pairs and revive docs
    curve.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 <= lo._2, s"pairs grew: $lo -> $hi")
      assert(hi._3 <= lo._3, s"dropped grew: $lo -> $hi")
      assert(hi._4 >= lo._4, s"survivors shrank: $lo -> $hi")
    }
    // cross-op identity: the curve's 0.8 point must count exactly the
    // pairs dedup_ngram_jaccard emits — same PPJoin, different route
    val c2Pairs = Dedup.dedupNgramJaccard(spark, sf0001).count()
    val p80 = curve.find(_._1 == 80L).get._2
    assert(p80 === c2Pairs, s"t=0.8 pair count $p80 != C2's $c2Pairs")
    // the dup-free documents table still has SOME near-dup mass at
    // 0.5, or the whole curve is vacuous
    assert(curve.head._2 > 0L, "no pairs at t=0.5: curve is vacuous")
  }
}
