package graft.stages

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-conf scoping helpers for the engine's internal driver actions. */
private[graft] object ExecHints {
  /** Run `body` (a limit-collect style action) with
    * `spark.sql.limit.initialNumPartitions` raised so `executeTake` scans
    * every partition in ONE job wave. The default (1, scaling 4× per wave)
    * makes an unsatisfied limit pay ⌈log₄(parts)⌉ + 1 serial job
    * submissions — pure driver round-trip latency for the engine's
    * bounded collects, whose limits are sized to NOT be hit in the common
    * case (they are overflow guards, not top-k queries). The previous
    * value is restored afterward — the session default must not leak into
    * caller queries. */
  def singleWaveTake[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.limit.initialNumPartitions"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, Int.MaxValue.toString)
    try body
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

/** Registry of the engine's internal persisted intermediates.
  *
  * Several operators persist intermediate frames whose consumers are LAZY
  * (the returned DataFrame still references the cached blocks for
  * recompute), so the operator itself can never safely unpersist them. In
  * a long-lived session, repeated calls would otherwise accumulate cached
  * blocks until a global `clearCache()` — which also evicts the CALLER's
  * caches. This registry tracks exactly the engine-created intermediates
  * per session so [[clear]] can drop them and nothing else.
  *
  * Contract for library callers: after fully consuming the result of
  * `Pipeline.run`/`runLite`, `Substring.edges`, `Knn.embedDedup` (an
  * action has run and the output is materialized or persisted by the
  * caller), call `Pipeline.clearIntermediateCaches(spark)`
  * to release the engine's internal blocks. Clearing earlier is safe but
  * forces recomputation if the lazy result is re-evaluated.
  */
private[graft] object IntermediateCaches {
  // The tracked DataFrames must be held STRONGLY until clear(): the
  // intermediate Dataset wrappers are referenced only by this registry
  // (downstream lazy results reference their logical PLANS, not the
  // wrapper objects), so a weak value would be collectable immediately
  // and clear() could no longer unpersist it. Strong values, however,
  // reference their SparkSession (df.sparkSession) and would pin the
  // weak-keyed entry forever — so the first persistTracked per context
  // registers an application-end listener that drops every session's
  // list when that context stops. A session that ends without clear()
  // therefore leaks nothing past its context's lifetime.
  private val tracked = new java.util.WeakHashMap[SparkSession, java.util.ArrayList[DataFrame]]()
  private val listenerInstalled =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[org.apache.spark.SparkContext, java.lang.Boolean]())

  /** Persist `df` at `level` and register it for later [[clear]].
    *
    * No-op when the plan is already cached: either the CALLER persisted it
    * (their cache must survive [[clear]] — tracking it here would evict it
    * behind their back) or an earlier engine call registered it (that
    * registration already releases it; re-persisting would only WARN and
    * double-track). */
  def persistTracked(df: DataFrame,
                     level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    if (df.storageLevel != StorageLevel.NONE) return df
    val out = df.persist(level)
    tracked.synchronized {
      var lst = tracked.get(df.sparkSession)
      if (lst == null) { lst = new java.util.ArrayList[DataFrame](); tracked.put(df.sparkSession, lst) }
      lst.add(out)
      val sc = df.sparkSession.sparkContext
      if (listenerInstalled.add(sc)) {
        sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
            dropSessionsOf(sc)
        })
      }
    }
    out
  }

  /** Unpersist (non-blocking) every tracked intermediate of this session. */
  def clear(spark: SparkSession): Unit = {
    val lst = tracked.synchronized(tracked.remove(spark))
    if (lst != null) lst.forEach(df => try df.unpersist(false) catch { case _: Throwable => () })
  }

  /** Context stopped: its executors (and all cached blocks) are gone —
    * drop the driver-side references so the sessions can be collected. */
  private def dropSessionsOf(sc: org.apache.spark.SparkContext): Unit =
    tracked.synchronized {
      val it = tracked.keySet().iterator()
      while (it.hasNext) if (it.next().sparkContext eq sc) it.remove()
    }
}
