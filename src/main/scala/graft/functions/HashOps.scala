package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MathUtils}
import org.apache.spark.unsafe.types.UTF8String

/** Hot-loop hash/vector kernels, written against Catalyst's internal
  * types (`ArrayData`, `UTF8String`) so the wrapping expressions can
  * call them from generated code as static methods — no boxing, no
  * Scala collection wrappers per row (SURVEY.md §6).
  *
  * All hashes are standard public constructions: FNV-1a 64, the
  * splitmix64 finalizer (Steele et al., "Fast splittable pseudorandom
  * number generators"), MinHash (Broder '97), SimHash (Charikar '02).
  */
object HashOps {

  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  /** FNV-1a 64 over UTF-8 bytes. */
  def fnv64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xffL)) * FnvPrime; i += 1 }
    h
  }

  /** splitmix64 finalizer — used to derive the p-th permutation hash
    * from a base hash without materializing permutations. */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Per-permutation seeds mix64(p), precomputed once (r16): the inner
    * loop below evaluated mix64(p) PER (shingle, perm) — a constant
    * table recomputed n·numPerms times per row. Values are identical
    * (same mix64(p) longs), so signatures, banding, and the recall
    * contract are byte-for-byte unchanged; the hot loop just drops
    * from two splitmix64 finalizers to one. Sized to the largest perm
    * count any caller uses (128), grown on demand under a lock for
    * hypothetical larger callers. */
  @volatile private var permSeeds: Array[Long] = Array.tabulate(128)(p => mix64(p.toLong))
  private def seedsFor(numPerms: Int): Array[Long] = {
    val cur = permSeeds
    if (cur.length >= numPerms) cur
    else synchronized {
      if (permSeeds.length < numPerms)
        permSeeds = Array.tabulate(numPerms)(p => mix64(p.toLong))
      permSeeds
    }
  }

  /** MinHash signature: sig(p) = min over shingles of mix64(h ^ seed_p).
    * One pass over the shingles per row, perms in the inner loop so each
    * shingle is hashed once. */
  def minhashSig(shingles: ArrayData, numPerms: Int): ArrayData = {
    val sig = Array.fill[Long](numPerms)(Long.MaxValue)
    val seeds = seedsFor(numPerms)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val base = fnv64(shingles.getUTF8String(i))
      var p = 0
      while (p < numPerms) {
        val h = mix64(base ^ seeds(p))
        if (h < sig(p)) sig(p) = h
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** 64-bit SimHash over token hashes (weight 1 per occurrence). */
  def simhash64(tokens: ArrayData): Long = {
    val acc = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val h = fnv64(tokens.getUTF8String(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  /** 64-bit rolling polynomial fingerprint (base-31 Horner over UTF-8
    * bytes, wraparound arithmetic). */
  def fingerprint64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 31L + (bytes(i) & 0xffL); i += 1 }
    h
  }

  /** Sum of unsigned byte values of a binary payload. */
  def byteSum(bytes: Array[Byte]): Long = {
    var s = 0L
    var i = 0
    while (i < bytes.length) { s += bytes(i) & 0xff; i += 1 }
    s
  }

  /** 32-band mean-threshold perceptual hash over a payload, ONE pass:
    * band b covers bytes [b·l, b·l+l) with l = len/32 (the trailing
    * len%32 bytes fall outside every band — the same arithmetic as the
    * 32 × substring + byte_sum derivation this replaces, which copied
    * the payload 32 times); bit b is set iff its band sum exceeds the
    * 32-band mean. */
  def phash32(bytes: Array[Byte]): Long = phashBanded(bytes, 32)

  /** 64-band mean-threshold perceptual hash — the r15 widening of
    * [[phash32]] for C38's LSH: 4×16-bit band slices of this hash key
    * the candidate join, so the random-collision (birthday) term of
    * candidate generation is n²/65536 instead of the 8-bit slices'
    * n²/256 — band width must grow with log(corpus), as in every
    * production LSH. Same arithmetic contract at B = 64: band b covers
    * bytes [b·l, b·l+l) with l = len/64 (the trailing len%64 bytes fall
    * outside every band); bit b set iff its band sum exceeds the
    * 64-band mean. Payloads shorter than 64 bytes have no bands and
    * hash to 0 — callers gate on length ≥ 64. */
  def phash64(bytes: Array[Byte]): Long = phashBanded(bytes, 64)

  /** Shared one-pass band fold behind [[phash32]]/[[phash64]]. */
  private def phashBanded(bytes: Array[Byte], nb: Int): Long = {
    val l = bytes.length / nb
    val sums = new Array[Long](nb)
    var b = 0
    while (b < nb) {
      var i = b * l
      val end = i + l
      var s = 0L
      while (i < end) { s += bytes(i) & 0xff; i += 1 }
      sums(b) = s
      b += 1
    }
    var tot = 0L
    b = 0
    while (b < nb) { tot += sums(b); b += 1 }
    var h = 0L
    b = 0
    while (b < nb) { if (sums(b) * nb > tot) h |= 1L << b; b += 1 }
    h
  }

  /** Cosine similarity of two double vectors (one fused pass: dot +
    * both norms). Returns 0 when either norm is 0. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Σ floor(v_i·w_i·1e6 + 0.5) over the leading terms of `v` and `w`
    * that are defined: it stops at the shorter length and at the first
    * NULL element of `v`. Each term is Spark `Floor`'s saturating
    * `(long)` cast of the same IEEE expression `(v_i·w_i)·1e6 + 0.5`;
    * the sum runs left to right from 0 and, with `ansi`, overflows the
    * way Spark's ANSI `Add` does ([ARITHMETIC_OVERFLOW]), otherwise it
    * wraps. Whether the whole dot is defined is [[fpDotDefined]]. */
  def fpDot(v: ArrayData, w: Array[Double], ansi: Boolean): Long = {
    val n = math.min(v.numElements(), w.length)
    var acc = 0L
    var i = 0
    while (i < n && !v.isNullAt(i)) {
      val t = math.floor(v.getDouble(i) * w(i) * 1000000 + 0.5).toLong
      acc = if (ansi) MathUtils.addExact(acc, t) else acc + t
      i += 1
    }
    acc
  }

  /** Whether every term of [[fpDot]] is defined: `v` has `n` elements
    * and none of them is NULL. */
  def fpDotDefined(v: ArrayData, n: Int): Boolean = {
    if (v.numElements() != n) return false
    var i = 0
    while (i < n) { if (v.isNullAt(i)) return false; i += 1 }
    true
  }

  /** Valid-vector predicate (the Spark half of the contract documented
    * at [[graft.ops.Ann.validVec]]): true iff the vector has no NULL
    * element, no NaN element, and a strictly positive sum of squares.
    * One fused pass — replaces the two interpreted higher-order-function
    * passes (`exists(_.isNull)` + an `aggregate` fold) that ran per row
    * at every embeddings scan (r10 verdict: the embeddings family paid
    * 1.5–3× for the interpreted guard).
    *
    * The non-finite term is DELIBERATE and is NOT what the replaced
    * HOF form computed (r11 ADVICE, widened to ±Inf by the r12 review):
    * both SQL engines order NaN greater than zero (Spark's
    * nanSafeCompareDoubles, DuckDB's total order), so an
    * `aggregate(...) > 0` / `list_sum(...) > 0` fold KEEPS NaN-bearing
    * vectors — and a kept NaN vector poisons every downstream kernel on
    * both engines (cosine → NaN scores, PQ/quantize → NaN codes the
    * oracle can't even cast to BIGINT; measured on the r12 dirty
    * replica: 15 queries diverge or crash). ±Inf elements — the OTHER
    * thing an overflowed encoder emits — and finite elements whose
    * squares overflow pass a NaN-only gate yet poison identically
    * (Inf−Inf dots → NaN; Spark's floor(NaN)→0 vs DuckDB's NaN →
    * silent divergence). A NON-FINITE SUM OF SQUARES is therefore the
    * third defect class the corpus gate excludes, alongside NULL
    * elements and zero norm: `isFinite(ss) && ss > 0.0 && ss <= VecNormCap` drops
    * NaN (NaN sum), ±Inf elements, double-norm overflow, AND
    * finite-but-beyond-float norms (see [[VecNormCap]]) in one test
    * (squares are non-negative, so no finite cancellation can hide an
    * Inf or shrink a huge sum).
    * The DuckDB twin [[graft.ops.Ann.ValidVecSql]] carries a matching
    * `isfinite(list_sum(...))` term, and the dirty replica's NaN and
    * Inf slices (tools/DirtyData, vec_id % 23 ∈ {11, 13}) prove the
    * cross-engine agreement. */
  def vecValid(v: ArrayData): Boolean = {
    val n = v.numElements()
    var ss = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return false
      val x = v.getDouble(i)
      ss += x * x
      i += 1
    }
    java.lang.Double.isFinite(ss) && ss > 0.0 && ss <= VecNormCap
  }

  /** Upper bound on a valid vector's sum of squares: float max. The
    * embeddings column is FLOAT[] on disk, so any HONEST encoder's
    * norm fits the storage domain; a finite-but-huge element (the r12
    * ADVICE class, |x| in (~1.84e19, floatmax] — float-square
    * overflow) is an overflowed encoder artifact exactly like NaN/Inf.
    * r13 measurement settled which side of the gate it belongs on: a
    * KEPT 1e20-element vector poisons 11 downstream queries on the
    * dirty replica (int64 fixed-point scales overflow, DuckDB can't
    * even cast the oracle's doubles back) — so BOTH engines now DROP
    * the class, and the bound is an explicit double-domain constant
    * (not a float-domain fold) so the two engines compare the SAME
    * IEEE sum against the same literal: exact agreement, no
    * rounding-boundary ambiguity. Pinned by the dirty replica's
    * vec_id%23==17 slice (1e20f element: double ss ~1e40 > cap). */
  val VecNormCap: Double = 3.4028234663852886e38

  /** Random-hyperplane LSH bucket code: bit p of the code is the sign
    * of the dot product with the p-th deterministic pseudo-random
    * hyperplane (components from splitmix64, mapped to [-1, 1)). */
  def hyperplaneCode(v: ArrayData, numPlanes: Int, seed: Long): Int = {
    val dim = v.numElements()
    var code = 0
    var p = 0
    while (p < numPlanes) {
      var dot = 0.0
      var i = 0
      while (i < dim) {
        val r = mix64(seed + p.toLong * 1000003L + i.toLong)
        // top 53 bits -> uniform double in [0,1) -> [-1,1)
        val u = (r >>> 11) * (1.0 / (1L << 53)) * 2.0 - 1.0
        dot += v.getDouble(i) * u
        i += 1
      }
      if (dot >= 0) code |= (1 << p)
      p += 1
    }
    code
  }
}
