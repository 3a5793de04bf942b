package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture.spark

/** Round-12 additions (star-pass budget), revised in r13 for the
  * per-residue-class parallel election (r12 verdict task 4).
  *
  * Shared feed: 10 groups × 7 docs. Every doc = 190-shingle shared
  * core + 27 per-GROUP extras + 15 per-DOC extras, so
  * J(within-group) = 217/247 = 0.8785 ≥ 0.8 and J(cross-group) =
  * 190/274 = 0.6934 < 0.8. The collision layout is fully ENGINEERED
  * via singleton minhash signatures (a singleton's sig IS its
  * per-position hash):
  *  - group and doc extras never claim a band-0 minimum, so band 0's
  *    sig positions equal the core's for every doc → ONE 70-member
  *    (> BucketCap 64) bucket;
  *  - each doc's 15 private extras claim ≥ 1 minimum in EVERY band
  *    1..15 against its own shingle set, so no two docs agree on any
  *    other band → no private under-cap buckets anywhere.
  *
  * Only the doc_id ASSIGNMENT differs between the two tests — the
  * election is keyed by doc_id % SubBuckets residue class (r13), so
  * ids themselves select serial vs parallel behavior. */
class Round12OpsSpec extends AnyFunSuite {

  private val core = (1 to 190).map(i => s"c$i")
  private val E = 27 // per-group extras
  private val groups = 0 until 10

  /** shingle sets per (group, doc-in-group) — id-independent */
  private lazy val docShingles: Seq[(Int, Int, Seq[String])] = {
    def sig(sh: Seq[String]): Array[Long] = {
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      import org.apache.spark.unsafe.types.UTF8String
      val a = new GenericArrayData(sh.map(x => UTF8String.fromString(x)).toArray[Any])
      graft.functions.HashOps.minhashSig(a, 128).toLongArray()
    }
    val coreSig = sig(core)
    // pool of candidate extras with cached singleton sigs, consumed once
    val pool = Iterator.from(1).map(i => s"x$i").map(x => (x, sig(Seq(x))))
    val cleanOfBand0 = pool.filter { case (_, sx) =>
      (0 until 8).forall(q => sx(q) > coreSig(q)) }
    def takeClean(n: Int)(p: Array[Long] => Boolean): Seq[(String, Array[Long])] = {
      val b = Seq.newBuilder[(String, Array[Long])]
      var k = 0
      while (k < n) {
        val c = cleanOfBand0.next()
        if (p(c._2)) { b += c; k += 1 }
      }
      b.result()
    }
    // group extras: band-0-clean, no other constraint
    val groupExtras: Map[Int, Seq[(String, Array[Long])]] =
      groups.map(g => g -> takeClean(E)(_ => true)).toMap
    def minSig(sigs: Seq[Array[Long]]): Array[Long] =
      (0 until 128).map(p => sigs.map(_(p)).min).toArray
    groups.flatMap { g =>
      val gBase = minSig(coreSig +: groupExtras(g).map(_._2))
      (0 until 7).map { i =>
        // one private extra per band 1..15: claims a minimum INSIDE
        // that band against the doc's base set (distinct 64-bit hash
        // values make the claimed tuple unique per doc)
        val privates = (1 to 15).map { b =>
          takeClean(1) { sx =>
            (b * 8 until b * 8 + 8).exists(p => sx(p) < gBase(p)) }.head._1
        }
        (g, i, core ++ groupExtras(g).map(_._1) ++ privates)
      }
    }
  }

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("sh", ArrayType(StringType))))

  private def feedWithIds(id: (Int, Int) => Long) = {
    val rows: Seq[Row] = docShingles.map { case (g, i, sh) => Row(id(g, i), sh) }
    (rows, spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema))
  }

  private def runPairs(feed: org.apache.spark.sql.DataFrame) =
    Dedup.minhashPairs(spark, feed)
      .select(col("d1"), col("d2")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  test(">StarReps sub-star residue class: residue survives unpaired, never drops") {
    // r11 verdict task 5, re-pinned for the r13 per-class election:
    // ids are (g*100+i)*16, ALL ≡ 0 (mod SubBuckets 16), so every
    // member lands in ONE residue class and the election runs exactly
    // the r12 serial stream — ≥ 9 mutually-dissimilar sub-clusters in
    // one class exhaust the StarReps (8) budget and the past-the-budget
    // residue comes out UNPAIRED. The documented contract is
    // fail-safe: unpaired docs survive the loser ledger.
    assert(Dedup.SubBuckets === 16, "test id layout assumes SubBuckets = 16")
    val (rows, feed) = feedWithIds((g, i) => (g * 100L + i) * 16)

    // precondition: exactly one 70-member bucket, nothing else ≥ 2
    val bucketSizes = feed
      .withColumn("s", expr("minhash_sig(sh, 128)"))
      .select(explode(array((0 until 16).map(b =>
        xxhash64(lit(b), slice(col("s"), b * 8 + 1, 8))): _*)).as("bb"))
      .groupBy(col("bb")).count()
      .filter(col("count") > 1)
      .select(col("count")).collect().map(_.getLong(0)).sorted
    assert(bucketSizes.toSeq === Seq(70L),
      s"expected exactly one 70-member multi-doc bucket, got ${bucketSizes.toSeq}")

    val pairs = runPairs(feed)
    def group(d: Long) = d / 1600

    // precision: no cross-group pair confirms (all cross J = 0.6934)
    assert(!pairs.exists(p => group(p._1) != group(p._2)),
      s"cross-group pair below threshold emitted: " +
        pairs.filter(p => group(p._1) != group(p._2)).take(3).mkString(","))
    // groups 0..8 pair (capped 64-smallest path + the 8-rep stars);
    // group 9 is the residue the StarReps bound leaves unpaired
    val pairedGroups = pairs.map(p => group(p._1)).toSet
    assert(pairedGroups === (0L to 8L).toSet,
      s"expected groups 0..8 paired, got $pairedGroups")
    assert(!pairs.exists(p => group(p._1) == 9 || group(p._2) == 9),
      "residue group must stay unpaired under the StarReps bound")
    // ...and the residue SURVIVES the downstream loser-ledger
    // semantics (nearDupLosers keeps d2s as losers; everything else
    // survives — the C14/C22/C80 consumer convention)
    val losers = pairs.map(_._2).toSet
    val all = rows.map(_.getLong(0)).toSet
    val survivors = all -- losers
    val residue = all.filter(d => group(d) == 9)
    assert(residue.size === 7 && residue.subsetOf(survivors),
      s"residue docs fell out of the survivor set: ${(residue -- survivors).take(7)}")
    // paired groups survive exactly through their min-id rep
    (0 to 8).foreach { g =>
      val gs = survivors.filter(d => group(d) == g)
      assert(gs === Set(g * 1600L),
        s"group $g should survive only through its rep, got $gs")
    }
  }

  test("multi-residue-class election widens the budget: all 10 groups pair") {
    // r12 verdict task 4: the SAME 10-group feed with ids g*100+i —
    // 7 consecutive ids per group spread over doc_id % 16 residue
    // classes, so each class holds ≤ 5 MUTUALLY-DISSIMILAR members and
    // elects them all: the per-class StarReps budget never binds, the
    // rep union covers every group, and the former residue (group 9,
    // serialized-election victim above) now pairs fully through its
    // own reps. Same inputs, parallel election — strictly more true
    // pairs found, nothing new dropped.
    val (rows, feed) = feedWithIds((g, i) => g * 100L + i)
    val pairs = runPairs(feed)
    def group(d: Long) = d / 100

    assert(!pairs.exists(p => group(p._1) != group(p._2)),
      "cross-group pair below threshold emitted")
    val pairedGroups = pairs.map(p => group(p._1)).toSet
    assert(pairedGroups === (0L to 9L).toSet,
      s"expected ALL groups paired under the per-class election, got $pairedGroups")
    val losers = pairs.map(_._2).toSet
    val all = rows.map(_.getLong(0)).toSet
    val survivors = all -- losers
    groups.foreach { g =>
      val gs = survivors.filter(d => group(d) == g)
      assert(gs === Set(g * 100L),
        s"group $g should survive only through its min-id rep, got $gs")
    }
  }
}
