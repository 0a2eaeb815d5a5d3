package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine.
  *
  * Local testing runs `local[32]`; the conf below is chosen so the same
  * logical plans scale to a multi-executor cluster: AQE handles runtime
  * re-planning (coalesce + skew-join), broadcast threshold keeps
  * ratio-scale dimension tables on the broadcast path, and shuffle
  * partitions default to the local core count (overridden by cluster
  * submit conf at real scale).
  */
object GraftSession {
  def builder(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the lake's event timestamps are raw UTC micros whether or not the
      // writer stamped isAdjustedToUTC; read them as instants, not NTZ
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // scan-split sizing: the test lake is a few single-file tables, so
      // 4 MiB splits keep all cores busy; at production scale (128 MiB+
      // files, thousands of them) the default 128 MiB is right — this is
      // a local-corpus override, not a cluster recommendation.
      .config("spark.sql.files.maxPartitionBytes", (4L * 1024 * 1024).toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // The JVM-wide generated-class cache defaults to 100 entries; a
      // multi-query workload (this library declares 194) compiles far
      // more distinct codegen units than that, so every re-run of a
      // query Janino-recompiles every stage it had already compiled —
      // pure driver latency on ANY deployment that serves more than a
      // handful of distinct plans (static conf: set before the context).
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // Spark keys that codegen cache on the thread's context
      // classloader, and with artifact isolation on, every session gets
      // a classloader of its own. Each streaming query starts on a
      // cloned session (fresh UUID, fresh classloader), so every stream
      // start recompiled the same state-store classes. graft adds no
      // session artifacts (jars, files), so nothing relies on isolation.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The only way to scope a per-query setting: run `f` on a cloned child
    * of `spark` carrying `settings`, so the shared conf is never set and
    * temp views `f` registers die with the child. On exit
    * [[onSessionEnd]] releases the child's PlanCache entries, so what `f`
    * returns must not read a memo of the child. */
  def scoped[T](spark: SparkSession, settings: (String, String)*)(f: SparkSession => T): T = {
    val child = org.apache.spark.sql.graftbridge.GraftSqlBridge.cloneSession(spark)
    settings.foreach { case (k, v) => child.conf.set(k, v) }
    try f(child) finally onSessionEnd(child)
  }

  /** Release the per-session cache of a retiring child session
    * (`spark.newSession()` in a long-lived JVM): the memoized
    * derivations and CC label tables ([[graft.operators.PlanCache]])
    * pin materialized DataFrames keyed by session, and Spark emits no
    * per-child-session stop event, so the host must say when one is
    * done. A full SparkContext stop purges
    * them automatically (listener-driven); this is only for sessions
    * retired UNDER a live context. The JVM-wide value memo
    * ([[graft.operators.PlanCache.valueMemo]]: counts, centroids,
    * codebooks, PCA models, merge tables) is deliberately untouched:
    * its values reference no session, and their cross-session reuse
    * of deterministic content is the point. */
  def onSessionEnd(spark: SparkSession): Unit =
    graft.operators.PlanCache.onSessionEnd(spark)
}
