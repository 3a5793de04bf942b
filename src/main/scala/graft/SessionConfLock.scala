package graft

/** JVM-wide serialization point for SCOPED session-conf overrides.
  * Spark session conf is session-scoped by design, and a bounded
  * streaming runner must start its query under the state conf
  * (`spark.sql.shuffle.partitions` = the state-store count, which has
  * no per-query override) — [[graft.cdc.CdcStream.startWithStateConf]]
  * sets it, starts the query and restores it. Two runners doing set →
  * start → restore on one session without a lock could restore a stale
  * value, or start under each other's width.
  *
  * The scope is `start()` alone: a streaming query clones its session
  * when it is constructed, so the conf it runs under is fixed by the
  * time `start()` returns, and the drain needs neither the override nor
  * the lock. Concurrent runners therefore serialize only their starts
  * and drain side by side (ConcurrencySpec). Conf-NEUTRAL queries never
  * take the lock; one that happens to plan a batch shuffle during
  * another runner's `start()` sees that runner's width — inherent to
  * Spark's session-scoped conf, and the documented isolation escape is
  * one `spark.newSession()` per concurrent track (shared context,
  * cache, and catalog; independent conf). */
object SessionConfLock
