package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Pin.PinOps

/** Window/time-series operators: the analytics surface a ratings lake
  * exists for (leaderboards, month-over-month progress) plus event
  * sessionization and as-of joins.
  *
  * Scale notes: every window partitions by a high-cardinality key
  * (nation, user) — no global ordering except final small top-k sinks;
  * sessionization is two window passes over the same (user, ts)
  * partitioning so it costs one shuffle; the as-of join is the
  * union+LOCF (last observation carried forward) formulation — one
  * shuffle on the key, never a per-row range probe.
  */
object Windows {

  /** Top-k rows per group by `order` descending (leaderboard — the
    * "rank players by rating per federation" analog). */
  def topKPerGroup(df: DataFrame, k: Int, part: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(part: _*).orderBy(order: _*)
    df.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  /** Native whole-operator top-k per group (custom LogicalPlan +
    * Strategy + Exec, see graft.plans.TopKPerGroup): same output
    * contract as `topKPerGroup`, but the shuffle carries at most
    * k rows per group per input partition instead of every row —
    * the map-side partial the window formulation cannot express.
    * Planned by the strategy GraftExtensions injects. */
  def topKPerGroupNative(df: DataFrame, k: Int, part: Seq[Column], order: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder => CSortOrder}
    val spark = df.sparkSession
    val child = df.queryExecution.analyzed
    // Plan-based resolution (handles qualified refs like "t.col" and
    // respects the session's case-sensitivity setting).
    def resolve(e: org.apache.spark.sql.catalyst.expressions.Expression) = e.transformUp {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        child.resolve(u.nameParts, GraftSqlBridge.resolver(spark))
          .getOrElse(sys.error(
            s"topKPerGroupNative: cannot resolve ${u.name} against ${child.output.map(_.name)}"))
    }
    val groupExprs = part.map(c => resolve(GraftSqlBridge.expression(c)))
    val orderExprs = order.map { c =>
      GraftSqlBridge.expression(c) match {
        case so: CSortOrder => so.copy(child = resolve(so.child))
        case e => CSortOrder(resolve(e), Ascending)
      }
    }
    GraftSqlBridge.ofRows(spark, graft.plans.TopKPerGroup(k, groupExprs, orderExprs, child))
  }

  /** Gap-based sessionization: new session when the gap to the previous
    * event of the same user exceeds `gap` (in the units of the numeric
    * `tsCol`, e.g. epoch micros). `tieCol` breaks ordering ties so the
    * result is deterministic. Adds session_seq per user. */
  def sessionize(events: DataFrame, userCol: String, tsCol: String, tieCol: String,
                 gap: Long): DataFrame = {
    val byUser = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    events
      .withColumn("prev_ts", lag(col(tsCol), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col(tsCol) - col("prev_ts") > gap, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(byUser))
      .drop("prev_ts", "new_session")
  }

  /** As-of join: attach to each left row the most recent right row with
    * right.ts <= left.ts for the same key, via union + LOCF window —
    * one shuffle on the key instead of an O(n*m) range probe. `payload`
    * columns are carried from the right side. */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, tsCol: String,
               payload: Seq[String]): DataFrame = {
    val l = left
    val r = right
    // Align schemas: left keeps its columns; right contributes key/ts/payload.
    val leftCols = left.columns.toSeq
    val lAligned = l.select(
      (leftCols.map(col) :+ lit(0).as("_is_right") :+ lit(null).cast("long").as("_rid")) ++
        payload.map(p => lit(null).cast(right.schema(p).dataType).as(s"asof_$p")): _*)
    // Tie-break among right rows sharing (key, ts) must be deterministic
    // across runs AND partitionings, so it is derived from row content
    // (monotonically_increasing_id depends on partition layout).
    val rAligned = r.select(
      (leftCols.map(c => if (c == key || c == tsCol) col(c) else lit(null).cast(left.schema(c).dataType).as(c)) :+
        lit(1).as("_is_right") :+
        xxhash64((Seq(key, tsCol) ++ payload).map(col): _*).as("_rid")) ++
        payload.map(p => col(p).as(s"asof_$p")): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col(tsCol), col("_is_right").desc, col("_rid").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = payload.foldLeft(lAligned.unionByName(rAligned)) { (df, p) =>
      df.withColumn(s"asof_$p", last(col(s"asof_$p"), ignoreNulls = true).over(w))
    }
    carried.where(col("_is_right") === 0).drop("_is_right", "_rid")
  }

  /** Global row_number over a TOTAL order, at scale: a single-partition
    * Window would funnel the whole relation through one task, so this
    * uses the two-level formulation — range-repartition on the sort key
    * (globally ordered partitions), rank WITHIN each partition in
    * parallel, then add per-partition offsets from a prefix sum over
    * the (nParts-row) partition sizes. Identical output to
    * `row_number() OVER (ORDER BY order*)` as long as `order` is a
    * total order (include tie-breaker columns).
    *
    * `nParts` sizes the parallel width; the default (`<= 0`) uses the
    * session's configured shuffle parallelism (capped at 4096) — NOT
    * `df.rdd.getNumPartitions`, because under AQE `.rdd` finalizes the
    * adaptive plan by materializing every upstream shuffle stage, i.e.
    * the input would execute once just to read a partition count and
    * then again through the range exchange. The shuffle-partition conf
    * is the same width Spark itself would give any exchange over this
    * input, known without touching the plan.
    *
    * The range-partitioned frame is materialized via a lazy [[Pin]]
    * checkpoint before fanning out to the rank and size consumers:
    * RangePartitioner samples its boundaries with an rdd.id-seeded
    * seed, so two physical executions of the same range exchange (plan
    * divergence, exchange reuse disabled) could disagree on partition
    * boundaries — the checkpoint pins ONE concrete partitioning that
    * both consumers are guaranteed to read. */
  def globalRowNumber(df: DataFrame, order: Seq[Column], nParts: Int = 0,
                      rankCol: String = "rank", totalCol: String = null): DataFrame = {
    val width =
      if (nParts > 0) nParts
      else math.min(math.max(
        df.sparkSession.sessionState.conf.numShufflePartitions, 1), 4096)
    val ranged = df.repartitionByRange(width, order: _*)
      .withColumn("_pid", spark_partition_id())
      .pin(false)
    val wp = Window.partitionBy(col("_pid")).orderBy(order: _*)
    val ranked = ranged.withColumn("_lrank", row_number().over(wp).cast("long"))
    val sizes = ranged.groupBy(col("_pid")).agg(count(lit(1)).as("_n"))
    val wo = Window.orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // nParts rows through the single-partition prefix-sum window — the
    // ONLY single-partition stage, bounded by the partition count.
    // Carrying the grand total too costs nothing extra (same nParts-row
    // frame) and spares rank consumers that need n (NTILE arithmetic) a
    // SECOND full scan of the input just to count it.
    val offsets = sizes
      .withColumn("_offset", coalesce(sum(col("_n")).over(wo), lit(0L)))
    val slim = offsets.select(col("_pid"), col("_offset"))
    val lookup =
      if (totalCol == null) slim
      else slim.crossJoin(sizes.agg(sum(col("_n")).as(totalCol)))
    ranked.join(broadcast(lookup), "_pid")
      .withColumn(rankCol, col("_lrank") + col("_offset"))
      .drop("_pid", "_lrank", "_offset")
  }

  /** Exact floor division of non-negative longs (Spark's `/` on longs
    * is DOUBLE division): subtract the remainder first so the double
    * divide is of an exactly-divisible value (exact below 2^53). */
  private def fdiv(a: Column, d: Column): Column =
    ((a - pmod(a, d)) / d).cast("long")

  /** SQL NTILE(b) bucket from a 1-based global rank and the total row
    * count: the first (n mod b) buckets take ceil(n/b) rows, the rest
    * floor(n/b) — integer arithmetic only, map-only given the rank. */
  def ntileFromRank(rank: Column, n: Column, b: Int): Column = {
    val q = fdiv(n, lit(b.toLong))
    val r = pmod(n, lit(b.toLong))
    val cut = r * (q + 1)
    when(rank <= cut, fdiv(rank + q, q + 1))
      .otherwise(r + fdiv(rank - cut + q - 1, q))
  }
}
