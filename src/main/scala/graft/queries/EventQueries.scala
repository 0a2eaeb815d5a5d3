package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._
import graft.operators.Windows
import graft.sources.TableLoader
import graft.streaming.EventStream

/** Event/time-series analytics over the events table. Timestamps are
  * normalised to epoch microseconds (BIGINT) at the edge so arithmetic
  * and output hashing are exact across engines; money sums go through
  * DECIMAL(18,2). All windows partition by user_id (high cardinality at
  * scale); the tumbling agg is the same plan Structured Streaming runs
  * (see graft.streaming.EventStream).
  */
object EventQueries {
  /** Events with `ts_us` (epoch micros BIGINT) and a proper timestamp
    * `ts`. The parquet files carry TIMESTAMP(NANOS), which Spark only
    * reads as raw longs (`spark.sql.legacy.parquet.nanosAsLong`) — the
    * integer `div 1000` truncation matches DuckDB's epoch_us exactly. */
  def events(spark: SparkSession, dir: String): DataFrame =
    TableLoader.loadEvents(spark, dir)

  /** Tumbling hourly counts/sums per event type. */
  def tumblingAgg(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("value_cents"))
      .orderBy(col("hour_epoch"), col("event_type"))

  /** Hopping (sliding) window aggregation: 1-hour windows every 30
    * minutes via Spark's builtin `window(ts, duration, slide)` — the
    * same overlapping-window operator Structured Streaming runs, so
    * this is the batch twin of a sliding-window stream. Each event
    * lands in exactly duration/slide = 2 windows (an in-plan explode,
    * map-side); the aggregation then shuffles once on (window, type)
    * with partial combine. Window starts are epoch-aligned, emitted as
    * epoch micros so the DuckDB oracle derives them by pure integer
    * division. */
  def hoppingAgg(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("value_cents"))
      .select(unix_micros(col("w.start")).as("win_start_us"), col("event_type"),
        col("n_events"), col("value_cents"))
      .orderBy(col("win_start_us"), col("event_type"))

  /** Distinct users per hopping window — the audience-reach metric.
    * Exact distinct over overlapping windows is the shape that
    * punishes naive plans at scale: Spark expands it into the
    * two-phase aggregate (partial dedup on (window, type, user), then
    * a partial-agg'd count), so no executor ever holds a per-window
    * user SET and the first shuffle carries already-deduplicated
    * triples. The approximate twins (q_distinct_approx / HLL
    * sketches) cover the cheaper end of the same question. */
  def hoppingUsers(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(unix_micros(col("w.start")).as("win_start_us"), col("event_type"),
        col("n_users"))
      .orderBy(col("win_start_us"), col("event_type"))

  /** Path mining: each user's first three events (by time, event_id
    * tie-break) joined into a `a>b>c` path string, counted per
    * distinct path — the onboarding-flow report. Per-user ordering
    * happens INSIDE the aggregation (sort_array over collected
    * (ts, id, type) structs, bounded by slicing to 3), so there is no
    * global sort: one shuffle on user_id, one on the ~|paths| group
    * keys. */
  def paths(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts_us"), col("event_id"), col("event_type"))))
        .as("evs"))
      .select(concat_ws(">", slice(col("evs.event_type"), 1, 3)).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("path"))

  /** Time-series gap filling: the hourly per-type aggregate joined
    * against a COMPLETE hour spine (min..max hour of the whole table),
    * absent hours emitted as explicit zero rows — the densification a
    * charting/forecasting consumer needs. The spine is generated
    * in-plan from the 1-row (min, max) aggregate via
    * sequence()+explode crossed with the distinct types — broadcast
    * sized by hours×types, never by events; the fact is scanned once
    * for the aggregate and once for the 1-row bounds. */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val hourly = events(spark, dir)
      .groupBy(expr("ts_us div 3600000000").as("hour_idx"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val bounds = events(spark, dir)
      .agg(min(expr("ts_us div 3600000000")).as("lo"), max(expr("ts_us div 3600000000")).as("hi"))
    val types = events(spark, dir).select(col("event_type")).distinct()
    val spine = broadcast(bounds)
      .select(explode(sequence(col("lo"), col("hi"))).as("hour_idx"))
      .crossJoin(broadcast(types))
    spine.join(hourly, Seq("hour_idx", "event_type"), "left")
      .select(col("hour_idx"), col("event_type"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy(col("hour_idx"), col("event_type"))
  }

  /** Weekly cohort retention matrix: users cohorted by their first
    * active week, counted in every later week they return —
    * (cohort_week, week_offset, n_active). Week indices are pure
    * integer epoch-microsecond division, NOT date_trunc('week'), so
    * both engines derive identical cohorts with no week-start
    * convention in play. Two shuffles (user first-week, cohort cell
    * agg), both partial-agg friendly. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val weekly = events(spark, dir)
      .select(col("user_id"), expr("ts_us div 604800000000").as("week"))
      .distinct()
    val first = weekly.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    weekly.join(first, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Gap-based sessions (30 min) with per-session rollup. */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    Windows.sessionize(events(spark, dir), "user_id", "ts_us", "event_id",
        gap = 1800L * 1000000L)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        (sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("value_cents"))
      .orderBy(col("user_id"), col("session_seq"))

  /** Sessionization through Spark's BUILTIN `session_window` aggregation
    * — the same merging-session-state operator Structured Streaming runs
    * for streaming sessions, so this query IS the batch twin of a
    * streaming session pipeline. Boundary semantics probed empirically:
    * a gap of exactly 30 min MERGES (sessions split only when the gap
    * EXCEEDS the timeout), matching the lag+cumsum formulation
    * (ev_sessionize) and its oracle. One shuffle on user_id; the session
    * merge is per-group state, no window over the whole series. */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        (sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("value_cents"))
      .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"),
        col("value_cents"))
      .orderBy(col("user_id"), col("start_us"))

  /** signup -> purchase conversion funnel per user. */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", col("ts_us"))).as("signup_us"),
        count(when(col("event_type") === "signup", lit(1))).as("n_signups"),
        count(when(col("event_type") === "purchase", lit(1))).as("n_purchases"),
        min(when(col("event_type") === "purchase", col("ts_us"))).as("first_purchase_us"))
      .select(col("user_id"), col("signup_us"),
        when(col("signup_us").isNotNull && col("first_purchase_us") >= col("signup_us"),
          col("first_purchase_us")).as("purchase_after_signup_us"),
        col("n_signups"), col("n_purchases"),
        when(col("signup_us").isNotNull && col("first_purchase_us") >= col("signup_us"), 1L)
          .otherwise(0L).as("converted"))
      .orderBy(col("user_id"))

  /** As-of join: each purchase gets the most recent click at-or-before it
    * for the same user (union + last-observation-carried-forward — one
    * shuffle on user_id, no range probe). */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), col("ts_us").as("click_ts_us"))
    Windows.asOfJoin(purchases, clicks, "user_id", "ts_us", Seq("click_ts_us"))
      .select(col("event_id"), col("user_id"), col("ts_us"), col("asof_click_ts_us"))
      .orderBy(col("event_id"))
  }

  /** As-of join with a STALENESS TOLERANCE: like `asofJoin`, but a
    * carried click older than `tol` (15 min) is dropped to null — the
    * attribution-window semantics a real as-of consumer wants (a
    * purchase is not attributed to a click from last month). Same
    * one-shuffle LOCF plan; the tolerance is a map-only null-out on
    * the carried timestamp, so it adds zero shuffle or join cost. */
  def asofToleranceQ(spark: SparkSession, dir: String): DataFrame = {
    val tolUs = 15L * 60L * 1000000L
    val ev = events(spark, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), col("ts_us").as("click_ts_us"))
    Windows.asOfJoin(purchases, clicks, "user_id", "ts_us", Seq("click_ts_us"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        when(col("ts_us") - col("asof_click_ts_us") <= tolUs, col("asof_click_ts_us"))
          .as("attributed_click_ts_us"))
      .orderBy(col("event_id"))
  }

  /** JSON property extraction from the props column (semi-structured
    * path), bucketed aggregation. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(expr("k div 10").as("k_bucket"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("value_cents"))
      .orderBy(col("k_bucket"))

  /** Batch interval join: each purchase counts the same-user clicks in
    * its trailing hour. An equijoin on user_id with the range predicate
    * evaluated inside the join — the shuffle is keyed on the user, so
    * at 100 TB this stays a hash/sort-merge join, never a time-range
    * cross product. Batch twin of the stream-stream interval join in
    * graft.streaming.StreamJoin. */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts_us").as("click_us"))
    purchases.join(clicks,
        col("user_id") === col("cu") &&
          col("click_us") >= col("ts_us") - lit(3600L * 1000000L) &&
          col("click_us") <= col("ts_us"), "left")
      .groupBy(col("event_id"), col("user_id"), col("ts_us"))
      .agg(count(col("click_us")).as("n_clicks_1h"),
        min(col("click_us")).as("first_click_us"))
      .orderBy(col("event_id"))
  }

  /** Per-user 3-sigma outlier detection in EXACT integer arithmetic —
    * the anomaly-screening pass a training-data pipeline runs over
    * telemetry/label streams. |v - mean| > 3*sigma is algebraically
    * rearranged to (n*v - s)^2 > 9*(n*ss - s^2) over integer cents, so
    * there is NO division and NO double anywhere: the oracle derives
    * bit-identical flags. Squares ride DECIMAL(38) (100 TB row counts
    * cannot overflow). Two shuffles, both on user_id: the per-user
    * moment aggregation (partial-agg friendly) and the join back. */
  def outliers(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).select(col("user_id"),
      (col("value").cast("decimal(18,2)") * 100).cast("long").as("v"))
    val m = e.groupBy(col("user_id")).agg(
      count(lit(1)).as("n"),
      sum(col("v")).as("s"),
      sum((col("v") * col("v")).cast("decimal(38,0)")).as("ss"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val lhs = dec(col("n")) * dec(col("v")) - dec(col("s"))
    val rhs = lit(9) * (dec(col("n")) * col("ss") - dec(col("s")) * dec(col("s")))
    e.join(m, "user_id")
      .withColumn("is_out", when(lhs * lhs > rhs, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n_events"), sum(col("is_out")).as("n_outliers"))
      .orderBy(col("user_id"))
  }

  /** Equi-width value histogram in exact integer cents — the
    * distribution-profile pass run before normalising a feature or
    * picking outlier thresholds. Bucket lower bound is the true floor
    * multiple via pmod (sign-safe: `v - pmod(v, w)` floors for negative
    * values too, where `div` would truncate toward zero). One shuffle,
    * ~n_buckets groups, fully partial-aggregated map-side — the profile
    * of a 100 TB column costs one scan plus a tiny exchange. */
  /** CUSUM change-point detection over hourly event counts, per type:
    * the top-5 hours by cumulative upward deviation from the series
    * mean. The textbook recursion s_i = max(0, s_{i-1} + (x_i - mean))
    * is not window-expressible, so this uses the exact identity
    * s_i = cum_i - min(0, min_{j<=i} cum_j): one cumulative sum plus
    * one running min — two ordinary window passes that parallelize
    * over the (event_type)-partitioned series (GraphSpec pins the
    * identity against the literal recursion). All arithmetic is
    * integer (counts in millis vs a floor-divided mean), so the DuckDB
    * oracle hash-matches exactly. Scale: the windows partition by
    * event_type over HOURLY rows — cardinality is types x hours, not
    * events; raw events are reduced by the partial-agg groupBy first. */
  def cusumQ(spark: SparkSession, dir: String): DataFrame = {
    val hourly = events(spark, dir)
      .groupBy(col("event_type"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"))
      .agg(count(lit(1)).as("cnt"))
    val stats = hourly.groupBy(col("event_type").as("et2"))
      .agg(count(lit(1)).as("n_hours"), sum(col("cnt")).as("total"))
      .select(col("et2"), expr("(total * 1000L) div n_hours").as("mean_milli"))
    val wSeq = W.partitionBy(col("event_type")).orderBy(col("hour_epoch"))
    val series = hourly.join(broadcast(stats), col("event_type") === col("et2"))
      .withColumn("cum", sum(col("cnt") * lit(1000L) - col("mean_milli")).over(wSeq))
      .withColumn("cusum_milli",
        col("cum") - least(min(col("cum")).over(wSeq), lit(0L)))
    val wTop = W.partitionBy(col("event_type"))
      .orderBy(col("cusum_milli").desc, col("hour_epoch"))
    series.withColumn("rnk", row_number().over(wTop))
      .where(col("rnk") <= 5)
      .select(col("event_type"), col("rnk").cast("int").as("rnk"),
        col("hour_epoch"), col("cnt"), col("cusum_milli"))
      .orderBy(col("event_type"), col("rnk"))
  }

  /** SCD Type-2 dimension build from the event change log: per user,
    * consecutive same-type events collapse into one validity interval
    * [valid_from_us, valid_to_us) with the half-open end at the NEXT
    * state change (NULL-as-max for the current row) — the
    * slowly-changing-dimension table a warehouse derives from a
    * mutation stream. Two window passes (LAG to find change rows, LEAD
    * over the changes for interval ends), both partitioned by user_id;
    * one shuffle, integer epoch-micros arithmetic → hash-exact oracle. */
  def scd2Q(spark: SparkSession, dir: String): DataFrame = {
    val w = W.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val changes = events(spark, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    val wc = W.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    changes
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(wc))
      .select(col("user_id"), col("event_type"), col("ts_us").as("valid_from_us"),
        col("valid_to_us"),
        when(col("valid_to_us").isNull, 1).otherwise(0).cast("int").as("is_current"))
      .orderBy(col("user_id"), col("valid_from_us"))
  }

  def valueHistogram(spark: SparkSession, dir: String): DataFrame = {
    val w = lit(2000L) // $20 buckets
    val e = events(spark, dir).select(
      (col("value").cast("decimal(18,2)") * 100).cast("long").as("v"))
    e.groupBy((col("v") - pmod(col("v"), w)).as("bucket_lo_cents"))
      .agg(count(lit(1)).as("n_events"),
        min(col("v")).as("min_cents"), max(col("v")).as("max_cents"))
      .orderBy(col("bucket_lo_cents"))
  }

  /** Batch run of the streaming tumbling aggregation (same plan shape). */
  def streamingParity(spark: SparkSession, dir: String): DataFrame =
    EventStream.tumblingAgg(events(spark, dir).drop("ts_us"))
      .select(unix_timestamp(col("window_start")).as("hour_epoch"),
        col("event_type"), col("n_events"), col("value_cents"))
      .orderBy(col("hour_epoch"), col("event_type"))

  /** Stream-source fixture: the events table normalized for streaming
    * reads (proper TIMESTAMP column — the raw parquet carries
    * TIMESTAMP(NANOS) which the session reads as a bare long), plus ONE
    * sentinel row (user_id = -1) four hours past the last real event.
    * The sentinel advances the event-time watermark past every real
    * session's `last_ts + gap`, so `EventTimeTimeout` closes all open
    * sessions in the trailing no-data micro-batch — without it the last
    * session of every user would stay in the state store forever and
    * the streamed result could never equal the batch oracle. Written
    * once per input dir; filtered back out of every result. */
  private def streamSourceFixture(spark: SparkSession, dir: String): String =
    graft.sinks.LakeRoot.fixture(spark,
      graft.sinks.LakeRoot.root(spark, dir, "stream_src_v1")) { staging =>
      val ev = events(spark, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"), col("event_type"))
      val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val sentinel = spark.range(1).select(
        lit(-1L).as("user_id"), lit(-1L).as("event_id"),
        timestamp_micros(lit(maxUs + 4L * 3600L * 1000000L)).as("ts"),
        lit(0.0).as("value"), lit("sentinel").as("event_type"))
      ev.unionByName(sentinel)
        .write.mode("overwrite").parquet(staging)
    }

  /** Run `stream` to completion into a uniquely named memory sink and
    * return its rows. State partitions follow the session's
    * `spark.sql.shuffle.partitions`. The query checkpoints into its own
    * directory (under `spark.sql.streaming.checkpointLocation` if set,
    * else the JVM temp dir), deleted after `stop()`; the sink's temp
    * view is dropped too, since `spark.table` has already resolved the
    * frame's plan. Neither outlives the call.
    *
    * `oneBatch` runs the stream as exactly one micro-batch over all the
    * available input (`Trigger.Once`), with no trailing no-data batch.
    * `Trigger.AvailableNow` would still run that batch, and the session
    * setting that turns it off would apply to every stream started in
    * the session. */
  @scala.annotation.nowarn("cat=deprecation")
  private def drainToMemory(spark: SparkSession, tag: String, stream: Dataset[_],
                            oneBatch: Boolean = false): DataFrame = {
    val name = s"graft_stream_${tag}_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ckpt = new Path(spark.conf.getOption("spark.sql.streaming.checkpointLocation")
      .getOrElse(System.getProperty("java.io.tmpdir")), name)
    try {
      val writer = stream.writeStream
        .format("memory").queryName(name)
        .option("checkpointLocation", ckpt.toString)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      val query =
        if (oneBatch) writer.trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
        else writer.start()
      try { if (oneBatch) query.awaitTermination() else query.processAllAvailable() }
      finally query.stop()
      spark.table(name)
    } finally {
      spark.catalog.dropTempView(name)
      ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(ckpt, true)
    }
  }

  /** STREAMING gap-sessionization, driven end to end: the stateful
    * `flatMapGroupsWithState` sessionizer (`SessionStream.sessionize`,
    * one bounded open-session state per user, closed by gap or by
    * event-time timeout) runs as a real Structured Streaming query over
    * the events parquet and must reproduce the batch `ev_sessionize`
    * oracle hash-exactly — the strongest check a streaming operator can
    * get, not a spec on toy rows. */
  def streamSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = streamSourceFixture(spark, dir)
    val sessions = graft.streaming.SessionStream.sessionize(
      spark.readStream.schema(TableLoader.schemaOf(spark, src)).parquet(src)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withWatermark("ts", "1 second")
        .as[graft.streaming.SessionStream.Event])
    drainToMemory(spark, "sessions", sessions).where(col("user_id") >= 0)
      .orderBy(col("user_id"), col("session_seq"))
  }

  /** STREAMING exact dedup, driven end to end: the
    * `dropDuplicatesWithinWatermark` dedup (`DedupStream.dropDupKeys`,
    * one bounded state entry per live key) runs as a real Structured
    * Streaming query over the events parquet and must reproduce the
    * batch DISTINCT hash-exactly. The delay is longer than the table's
    * span so no key is evicted mid-run (the bounded-horizon eviction
    * behavior itself is spec'd in DedupStreamSpec), and only the dedup
    * key is emitted, so arrival-order nondeterminism in which
    * duplicate row survives is projected away — the streamed key set
    * is deterministic.
    *
    * The stream runs one micro-batch (`drainToMemory(oneBatch = true)`).
    * Batch 0 emits every surviving key, and a trailing no-data batch
    * would only evict state. The other `ev_stream_*` queries keep their
    * no-data batch: in it the sentinel's watermark closes their sessions
    * and windows. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val src = streamSourceFixture(spark, dir)
    val deduped = graft.streaming.DedupStream.dropDupKeys(
      spark.readStream.schema(TableLoader.schemaOf(spark, src)).parquet(src)
        .select(col("user_id"), col("event_type"), col("ts")),
      Seq("user_id", "event_type"), "30 days")
    drainToMemory(spark, "dedup", deduped, oneBatch = true).where(col("user_id") >= 0)
      .select(col("user_id"), col("event_type"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** STREAMING stream-stream interval join, driven end to end: the
    * watermarked left-outer join (`StreamJoin.purchasesWithRecentClicks`
    * — click state held only until the watermark passes
    * `click_ts + window`, unmatched purchases flushed on watermark
    * advance) runs as a real two-stream file query over the events
    * parquet and, re-aggregated, must reproduce the batch
    * `ev_interval_join` oracle hash-exactly. The far-future sentinel
    * rides BOTH side filters (`user_id < 0`) so the trailing micro-batch
    * advances the watermark past every purchase's window and every
    * unmatched purchase is emitted before the stream drains. */
  def streamJoinQ(spark: SparkSession, dir: String): DataFrame = {
    val src = streamSourceFixture(spark, dir)
    val schema = TableLoader.schemaOf(spark, src)
    def side(t: String) = spark.readStream.schema(schema).parquet(src)
      .where(col("event_type") === t || col("user_id") < 0)
      .select(col("user_id"), col("ts"), col("event_id"))
    val joined = graft.streaming.StreamJoin.purchasesWithRecentClicks(
      side("purchase"), side("click"), windowMinutes = 60, watermark = "1 second")
    drainToMemory(spark, "join", joined).where(col("p_user") >= 0)
      .select(col("purchase_id").as("event_id"), col("p_user").as("user_id"),
        unix_micros(col("p_ts")).as("ts_us"), unix_micros(col("c_ts")).as("click_us"))
      .groupBy(col("event_id"), col("user_id"), col("ts_us"))
      .agg(count(col("click_us")).as("n_clicks_1h"),
        min(col("click_us")).as("first_click_us"))
      .orderBy(col("event_id"))
  }

  /** STREAMING hopping-window parity, driven end to end: the SAME
    * `window(ts, 1 hour, 30 minutes)` aggregation `ev_hopping_agg`
    * declares batch-side runs as a watermarked Structured Streaming
    * query in APPEND mode — each overlapping window is emitted exactly
    * once, when the event-time watermark passes its end — and must
    * reproduce the batch hopping oracle hash-exactly. The far-future
    * sentinel advances the watermark past every real window's end in
    * the trailing no-data micro-batch, so no window is left pending in
    * the state store; sentinel groups carry their own event_type and
    * are filtered after aggregation. State is bounded by watermark +
    * window (each event lives in exactly 2 windows), keyed on
    * (window, event_type) — the same per-key state shape a production
    * sliding-window stream holds. */
  def streamHopping(spark: SparkSession, dir: String): DataFrame = {
    val src = streamSourceFixture(spark, dir)
    val agg = spark.readStream.schema(TableLoader.schemaOf(spark, src)).parquet(src)
      .withWatermark("ts", "1 second")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("value_cents"))
    drainToMemory(spark, "hopping", agg).where(col("event_type") =!= "sentinel")
      .select(unix_micros(col("w.start")).as("win_start_us"), col("event_type"),
        col("n_events"), col("value_cents"))
      .orderBy(col("win_start_us"), col("event_type"))
  }

  /** STREAMING MERGE-sink parity, driven end to end: the tumbling
    * aggregation in UPDATE mode upserted into a parquet lake by window
    * identity (`EventStream.runUpsertSink` — last-writer-wins on batch
    * id, merge cost ∝ touched partitions), then the LAKE is read back
    * and must reproduce the batch tumbling oracle hash-exactly. The
    * checkpoint makes repeat calls incremental no-ops over the same
    * converged lake — the production restart shape. */
  def streamMerge(spark: SparkSession, dir: String): DataFrame = {
    val src = streamSourceFixture(spark, dir)
    val base = graft.sinks.LakeRoot.root(spark, dir, "stream_merge_v1")
    graft.sinks.LakeRoot.mkdirs(spark, base)
    val lake = graft.sinks.LakeRoot.child(base, "lake")
    val ckpt = graft.sinks.LakeRoot.child(base, "ckpt")
    val query = EventStream.runUpsertSink(spark, src, lake, Some(ckpt))
    query.awaitTermination()
    spark.read.parquet(lake)
      .where(col("event_type") =!= "sentinel")
      .select(unix_timestamp(col("window_start")).as("hour_epoch"),
        col("event_type"), col("n_events"), col("value_cents"))
      .orderBy(col("hour_epoch"), col("event_type"))
  }
}
