package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration.
  *
  * `shufflePartitions` should track total cores locally and ≈ 2–3×
  * total executor cores on a cluster (AQE coalesces the excess); the
  * remaining settings are safe everywhere: AQE with skew-join
  * splitting, UTC session time, and event-time ordering left to
  * operators (every graft query carries an explicit ORDER BY).
  */
object GraftSession {

  /** Local core count for the bench, Verify and tool sessions:
    * `SPARK_GRAFT_CPUS`, else the machine's. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")

  /** Release per-query run artifacts: drop every `graft_*` temp view
    * (each bounded streaming runner materializes into a uniquely-named
    * in-memory sink table — the catalog reference is what keeps those
    * rows on the driver heap after the query's result is consumed) and
    * clear the block-manager cache. Harness runners call this between
    * queries; without it a long sequential run accumulates every
    * finished stream's sink rows, and on a memory-tight driver a later
    * query's broadcast build inherits the shrunken heap (r11 low-memory
    * sweep: dedup_containment's runtime broadcast OOM'd at 2 GB only
    * AFTER the cdc streaming queries had run). */
  def release(spark: SparkSession): Unit = {
    spark.sessionState.catalog.listLocalTempViews("graft_*")
      .foreach(id => spark.catalog.dropTempView(id.table))
    spark.catalog.clearCache()
    // Broadcast cleanup is GC-driven (ContextCleaner reclaims a
    // broadcast's blocks only after its weak reference is collected):
    // a long sequential run accumulates hundreds of dead broadcasts'
    // torrent pieces between natural GCs, and on a memory-tight
    // driver a later query's broadcast BUILD then fails with "not
    // enough memory to build and broadcast" even though every owner
    // is unreachable (r12 low-memory sweep: dedup_cluster died at
    // broadcast #563 under a 2 GB heap, while the same query passed
    // standalone). An explicit GC here makes the cleaner's queue
    // drain deterministic — between queries, where a pause is free.
    // A library caller embedding graft in a SHARED JVM can opt out
    // (r12 verdict: a global pause is the harness's trade, not
    // necessarily the host application's) — set
    // spark.graft.release.gc=false and own your broadcast hygiene.
    //
    // The drain polls the cleaner's FIXPOINT (r13, second revision):
    // one System.gc() only ENQUEUES the dead broadcasts' weak
    // references — ContextCleaner processes the queue on its own
    // daemon thread, so a query that starts broadcasting immediately
    // after a single gc can still race hundreds of undrained pieces
    // (the r12 "deterministic" claim was too strong, and so was this
    // round's first fix, gc → fixed 150 ms yield → gc: the 2 GB gate
    // failed AGAIN through it — the unbroadcast pass can simply take
    // longer than any fixed sleep when the backlog is large, while the
    // exact-prefix repro passes whenever the cleaner happens to win).
    // The observable that ends the race is the block manager's LIVE
    // broadcast-block count (org.apache.spark.graft.BlockProbe):
    // between harness queries every broadcast is dead, so the drain's
    // fixpoint is zero. Structure — OUTER gc retry × INNER cleaner
    // poll — because the two lags are different phenomena, measured
    // separately (DrainProbe, now HarnessReleaseSpec): the inner poll
    // waits for the CLEANER to unbroadcast what the last gc enqueued
    // (exit on zero or two 120 ms stalls), and the outer retry
    // re-gcs because one collection routinely leaves the most recent
    // Broadcast as floating garbage — its weak ref enqueues only on
    // the NEXT cycle, so a stalled nonzero count with an idle cleaner
    // needs another gc, not more waiting. Stall exits keep the worst
    // case BOUNDED for embedders holding legitimately-live broadcasts
    // — but not free: a live block makes the zero fixpoint unreachable,
    // so release() then costs ~0.7 s of gc + stall sleeps (r13 ADVICE;
    // the live-block early-exit below caps it at two static rounds).
    // An embedder that releases between ITS OWN timed regions while
    // holding broadcasts should set spark.graft.release.gc=false and
    // manage its own drain. Everything is bounded by one 5 s deadline,
    // and the pauses land strictly between queries, zero inside any
    // timed region (all harnesses release outside timing windows).
    if (spark.conf.get("spark.graft.release.gc", "true").toBoolean) {
      val sc = spark.sparkContext
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      var cur = 0
      var gcs = 0
      // seed with the pre-gc count so round 1 can observe "gc freed
      // nothing" — the live-block signature — rather than a vacuous
      // decrease from a sentinel
      var lastRoundEnd = org.apache.spark.graft.BlockProbe.broadcastBlockCount(sc)
      var staticRounds = 0
      while ({
        System.gc()
        gcs += 1
        cur = org.apache.spark.graft.BlockProbe.broadcastBlockCount(sc)
        var decreased = cur < lastRoundEnd
        var stale = 0
        while (cur > 0 && stale < 2 && System.nanoTime() < deadline) {
          Thread.sleep(120)
          val next = org.apache.spark.graft.BlockProbe.broadcastBlockCount(sc)
          if (next < cur) decreased = true
          stale = if (next < cur) 0 else stale + 1
          cur = next
        }
        // live-block early exit (r13 ADVICE): a whole gc+poll round
        // with ZERO decrease, twice in a row, means the survivors are
        // reachable — not floating garbage — and another gc cannot
        // free them. Floating garbage always decreases within a round
        // of the gc that enqueued it.
        staticRounds = if (decreased) 0 else staticRounds + 1
        lastRoundEnd = cur
        cur > 0 && gcs < 3 && staticRounds < 2 && System.nanoTime() < deadline
      }) ()
      // collect the byte arrays the unbroadcast pass freed — pointless
      // if nothing was freed (the live-block exit)
      if (staticRounds < 2) System.gc()
    }
  }

  /** Local session sized to the machine (tests, examples, bench).
    * `getOrCreate` returns any pre-existing session UNCHANGED —
    * builder configs are silently ignored then, and a session built
    * without the graft extensions cannot plan the as-of operator. We
    * can't retrofit a foreign session, so fail by NAME instead of
    * running with wrong parallelism / missing strategies (r10 review
    * finding). Same-master re-requests (the common repeat call in one
    * JVM) pass through untouched. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
      ui: Boolean = false): SparkSession = {
    val s = builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", ui.toString)
      .getOrCreate()
    val master = s.sparkContext.master
    require(master == s"local[$cores]",
      s"GraftSession.local(cores=$cores) got an existing session on '$master' — " +
        "getOrCreate cannot reconfigure it; stop the prior session first")
    require(s.conf.getOption("spark.sql.extensions").exists(_.contains("graft.GraftExtensions")),
      "existing session lacks spark.sql.extensions=graft.GraftExtensions — " +
        "as-of planning would silently fall back; stop the prior session first")
    s
  }
}
