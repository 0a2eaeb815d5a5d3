package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** graft's one memo, in two halves.
  *
  * DataFrames, per session ([[memo]]): a named derivation shared across
  * queries is built and pinned once, and every later consumer in the
  * same session reuses the materialized blocks instead of re-deriving
  * (the graph family alone repeated ~3-4 s of shared edge derivation
  * per query at sf0.1 before this). Query families and the CC label
  * tables of [[Dedup.connectedComponents]] share it.
  *
  * Values, JVM-wide ([[valueMemo]]): small plain values derived from a
  * corpus — row counts, distinct estimates, k-means centroids, PQ
  * codebooks, PCA models, BPE merge tables — keyed on the analyzed
  * plan and a parameter tag. They reference no session, so they
  * outlive one, and their cross-session reuse of deterministic content
  * is the point.
  *
  * The caller pins what it stores, through [[Pin]]: `.pin(false)` (a
  * lazy checkpoint, local or reliable per `spark.graft.checkpoint.reliable`)
  * or `.pinPartitioned` for edge tables whose partitioning the
  * consumers' joins need. The cache releases every entry it drops
  * through [[Pin.release]]: on LRU eviction past [[Max]] entries, on
  * [[onSessionEnd]] and on [[clear]] — a persisted entry's blocks are
  * keyed by PLAN in the shared CacheManager, so dropping the map
  * reference alone would leak them until the context stops. So hold a
  * memoized frame only for the query that asked for it: once its entry
  * is dropped, a local checkpoint's blocks are gone. After an executor
  * loss under local checkpoints, call [[clear]] to force recomputation.
  *
  * Lifecycle: entries die with their session, not only under LRU
  * pressure. A stopped SparkContext purges every entry of its sessions
  * (a SparkListener registered on first use), and a long-lived context
  * hosting several short-lived child sessions calls [[onSessionEnd]]
  * when retiring one — Spark emits no per-child-session end event, so
  * that purge is necessarily explicit.
  */
object PlanCache {
  // Label tables of up to this many distinct CC pair plans per session.
  private[graft] val CcTables = 8
  // One entry per PlanCache.memo call site under queries/ (14, each
  // keyed on one dir; ContractSpec keeps the count below 16) plus the
  // CC label tables. At the cap, one more key would evict-thrash every
  // query.
  private[graft] val Max = 16 + CcTables
  private val cache =
    new java.util.LinkedHashMap[(SparkSession, String), DataFrame](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), DataFrame]): Boolean = {
        val evict = this.size() > Max
        if (evict) Pin.release(e.getValue)
        evict
      }
    }

  private val listenerRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[org.apache.spark.SparkContext]()

  private def ensureListener(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (listenerRegistered.add(sc))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          purgeContext(sc)
          listenerRegistered.remove(sc)
        }
      })
  }

  /** Drop every entry belonging to a session of this (stopping)
    * context. Driven by the listener; callable directly too. */
  private[graft] def purgeContext(sc: org.apache.spark.SparkContext): Unit =
    cache.synchronized {
      val it = cache.keySet.iterator
      while (it.hasNext) if (it.next()._1.sparkContext eq sc) it.remove()
      // No release here: the context is stopping, its blocks die with it.
    }

  /** Drop and release every entry of ONE session — for a long-lived
    * context that retires short-lived child sessions
    * (`spark.newSession()`): Spark has no per-child-session stop event,
    * so the host must say when a session is done or its pinned tables
    * linger until LRU pressure. */
  def onSessionEnd(spark: SparkSession): Unit = cache.synchronized {
    val it = cache.entrySet().iterator
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq spark) { Pin.release(e.getValue); it.remove() }
    }
  }

  /** Memoized build of a named derivation; `build` returns the frame
    * already pinned (see the object doc). A lazy pin costs nothing
    * until the first ACTION materializes its blocks. Built outside the
    * lock (duplicate compute on a race is deterministic and benign;
    * holding the lock across a Spark job would serialize unrelated
    * callers). */
  def memo(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    ensureListener(spark)
    val k = (spark, key)
    cache.synchronized(Option(cache.get(k))).getOrElse {
      val built = build
      cache.synchronized {
        Option(cache.get(k)).getOrElse { cache.put(k, built); built }
      }
    }
  }

  /** Per-JVM memo of values derived from a corpus, keyed on the
    * analyzed plan's semantic hash and a tag that names the derivation
    * and carries its parameters (`s"kmeans:$k:$iters:$maxRows"`) — the
    * value twin of [[memo]]. A different source, filter or even
    * partitioning is a different plan, so it recomputes. Same staleness
    * contract as Spark's own table cache: a rewrite behind an unchanged
    * plan is not detected within the JVM (this library's lake mutators
    * go through VersionedTable roots, whose paths change the plan).
    *
    * Computed outside the map — get, compute, putIfAbsent — so a
    * `compute` may itself call [[valueMemo]] (k-means training derives
    * its sample rate from [[countMemo]]); computing inside
    * ConcurrentHashMap's own compute methods throws "Recursive update"
    * when a nested key shares the outer key's bin. A racing duplicate
    * compute is deterministic and benign, as in [[memo]]; the first
    * value stored wins. */
  private val values =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), Any]()

  def valueMemo[T](df: DataFrame, tag: String)(compute: => T): T = {
    val k = (df.queryExecution.analyzed.semanticHash(), tag)
    Option(values.get(k)).getOrElse {
      val v = compute
      Option(values.putIfAbsent(k, v)).getOrElse(v)
    }.asInstanceOf[T]
  }

  /** Memoized `df.count()` — the one corpus statistic every adaptive
    * grid needs. EAGER on first touch (an action inside what is
    * otherwise lazy plan construction — callers must not pass a
    * streaming DataFrame; adaptive operators guard this). */
  def countMemo(df: DataFrame): Long = {
    require(!df.isStreaming,
      "adaptive operating points need a batch corpus: deriving the grid " +
        "runs an eager count(), which a streaming DataFrame cannot serve — " +
        "pass an explicit grid parameter instead")
    valueMemo(df, "count")(df.count())
  }

  /** Drop and release every memoized derivation (e.g. after an
    * executor loss invalidated the non-recoverable checkpoint blocks). */
  def clear(): Unit = cache.synchronized {
    cache.values.forEach(df => Pin.release(df))
    cache.clear()
  }

  private[graft] def size: Int = cache.synchronized(cache.size())
}
