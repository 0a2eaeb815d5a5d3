package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The opt-in optimizer rewrite (plain `row_number() <= k` window SQL
  * -> native TopKPerGroup): plan shape, result equality against the
  * un-rewritten window execution, and conservative non-eligibility.
  */
class TopKRewriteSpec extends SparkSpec {

  private val Flag = "spark.graft.topk.autoRewrite"

  private def withRewrite[T](on: Boolean)(f: => T): T = {
    val prev = spark.conf.getOption(Flag)
    spark.conf.set(Flag, on.toString)
    try f finally prev match {
      case Some(v) => spark.conf.set(Flag, v)
      case None => spark.conf.unset(Flag)
    }
  }

  private def leaderboard(k: Int): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    spark.read.parquet(s"$Sf/customer.parquet")
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("eligible window pattern rewrites to the native operator (no Window in plan)") {
    withRewrite(on = true) {
      val p = plan(leaderboard(3))
      assert(p.contains("TopKPerGroup"), s"native operator missing:\n$p")
      assert(!p.contains("Window"), s"Window survived the rewrite:\n$p")
    }
    // flag off (default): the same query keeps its Window plan
    withRewrite(on = false) {
      assert(plan(leaderboard(3)).contains("Window"))
    }
  }

  test("rewritten results equal the window execution row for row") {
    // total order (custkey tie-break) -> both formulations deterministic
    def rows(df: DataFrame) = df
      .select(col("c_nationkey"), col("rnk"), col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_nationkey"), col("rnk"))
      .collect().map(_.toSeq).toSeq
    val native = withRewrite(on = true)(rows(leaderboard(3)))
    val window = withRewrite(on = false)(rows(leaderboard(3)))
    assert(native.nonEmpty)
    assert(native === window)
  }

  test("strict bound, flipped bound, and ==1 all rewrite with the right k") {
    withRewrite(on = true) {
      val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_custkey"))
      val base = spark.read.parquet(s"$Sf/customer.parquet")
        .withColumn("rnk", row_number().over(w))
      val lt = base.where(col("rnk") < 4) // k = 3
      assert(plan(lt).contains("TopKPerGroup") && !plan(lt).contains("Window"))
      assert(lt.groupBy(col("c_nationkey")).count()
        .agg(max(col("count"))).head().getLong(0) <= 3)
      val eq = base.where(col("rnk") === 1) // k = 1
      assert(plan(eq).contains("TopKPerGroup"))
      assert(eq.groupBy(col("c_nationkey")).count()
        .agg(max(col("count"))).head().getLong(0) === 1)
    }
  }

  test("conjunction filters rewrite with the residual predicate preserved") {
    withRewrite(on = true) {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      def q(rewrite: Boolean) = withRewrite(on = rewrite) {
        spark.read.parquet(s"$Sf/customer.parquet")
          .withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= 3 && col("c_acctbal") > 0)
          .select(col("c_nationkey"), col("rnk"), col("c_custkey"))
          .orderBy(col("c_nationkey"), col("rnk"))
      }
      val p = plan(q(rewrite = true))
      assert(p.contains("TopKPerGroup") && !p.contains("Window"), p)
      // the residual acctbal predicate must still filter: equality with
      // the window execution proves neither too many nor too few rows
      assert(q(rewrite = true).collect().map(_.toSeq).toSeq ===
        q(rewrite = false).collect().map(_.toSeq).toSeq)
      // two bounds -> the tighter one wins
      val two = spark.read.parquet(s"$Sf/customer.parquet")
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 5 && col("rnk") <= 2)
      assert(plan(two).contains("TopKPerGroup"))
      assert(two.groupBy(col("c_nationkey")).count()
        .agg(max(col("count"))).head().getLong(0) <= 2)
    }
  }

  test("the SQL-text subquery form rewrites too") {
    withRewrite(on = true) {
      spark.read.parquet(s"$Sf/customer.parquet").createOrReplaceTempView("cust_rw")
      val df = spark.sql(
        """SELECT * FROM (
          |  SELECT c_nationkey, c_custkey,
          |         ROW_NUMBER() OVER (PARTITION BY c_nationkey
          |                            ORDER BY c_acctbal DESC, c_custkey) AS rn
          |  FROM cust_rw) WHERE rn <= 3""".stripMargin)
      val p = plan(df)
      assert(p.contains("TopKPerGroup") && !p.contains("Window"), p)
      assert(df.count() > 0)
      assert(df.groupBy(col("c_nationkey")).count()
        .agg(max(col("count"))).head().getLong(0) <= 3)
    }
  }

  test("q_topk_rewrite driver query: native plan, oracle-equal results, flag restored") {
    assert(spark.conf.getOption(Flag).isEmpty)
    val df = queries.RelationalQueries.qTopKRewrite(spark, Sf)
    // The query restores the session flag on exit (it must not leak
    // the rewrite into unrelated queries of the same session)...
    assert(spark.conf.getOption(Flag).isEmpty)
    // ...yet the returned frame still executes the native operator.
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerGroup"), s"native operator missing:\n$p")
    assert(!p.contains("Window"), s"Window survived:\n$p")
    val expect = queries.RelationalQueries.qTopKPerGroup(spark, Sf)
      .collect().map(_.toSeq).toSeq
    val got = df.collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got === expect)
  }

  test("ineligible shapes are left untouched") {
    withRewrite(on = true) {
      val part = Window.partitionBy(col("c_nationkey")).orderBy(col("c_custkey"))
      val df = spark.read.parquet(s"$Sf/customer.parquet")
      // dense_rank() <= k keeps the k smallest DISTINCT values — an
      // unbounded row set no bounded heap can represent: not rewritten
      val dense = df.withColumn("rnk",
          org.apache.spark.sql.functions.dense_rank().over(part))
        .where(col("rnk") <= 3)
      assert(plan(dense).contains("Window"))
      // global window (no partition): stays on the window path
      val global = df.withColumn(
          "rnk", row_number().over(Window.orderBy(col("c_custkey"))))
        .where(col("rnk") <= 3)
      assert(plan(global).contains("Window"))
      // filter on a different column: nothing to infer
      val other = df.withColumn("rnk", row_number().over(part))
        .where(col("c_custkey") <= 3)
      assert(plan(other).contains("Window"))
    }
  }

  test("rank() <= k rewrites tie-completely: boundary ties kept, gaps numbered") {
    import spark.implicits._
    // Adversarial tie layout for the partial heap: group 0's three
    // best values are [1, 2, 2, 2, ...] — a naive k-bounded heap that
    // fills with the 2s and then sees the 1 would evict ONE tied 2,
    // losing a row whose rank (2) is within bound. 40 groups x 50
    // rows over 8 input partitions exercise partial flush + merge.
    val data = (0 until 40).flatMap { g =>
      (0 until 50).map(i => (g, if (i < 3) 2 else if (i == 3) 1 else 5 + i, g * 1000 + i))
    }
    val df = data.toDF("grp", "v", "id").repartition(8)
    val w = Window.partitionBy(col("grp")).orderBy(col("v"))
    def q(): DataFrame = df.withColumn("rnk", rank().over(w))
      .where(col("rnk") <= 3)
      .orderBy(col("grp"), col("rnk"), col("id"))
    val native = withRewrite(on = true) {
      val d = q()
      val p = plan(d)
      assert(p.contains("TopKPerGroup") && !p.contains("Window"), p)
      d.collect().map(_.toSeq).toSeq
    }
    val window = withRewrite(on = false)(q().collect().map(_.toSeq).toSeq)
    assert(native === window)
    // The semantics were genuinely exercised: every group keeps 4 rows
    // (1 + three tied 2s at ranks 2,2,2) — MORE than k — and rank 3 is
    // skipped by competition numbering.
    assert(native.count(r => r(0) == 0) === 4)
    val ranks = native.filter(r => r(0) == 0).map(_(3))
    assert(ranks === Seq(1, 2, 2, 2))
  }

  test("argmax-keep rewrites: nulls, all-null groups, min variant, null-safe excluded") {
    import spark.implicits._
    // group 0: plain ties at the max; group 1: nulls mixed in (never
    // equal to the max); group 2: ALL null (x = max(x) keeps nothing).
    val data = Seq[(Int, java.lang.Integer, Int)](
      (0, 7, 1), (0, 7, 2), (0, 3, 3),
      (1, null, 4), (1, 9, 5), (1, 9, 6), (1, 2, 7),
      (2, null, 8), (2, null, 9))
    val df = data.toDF("grp", "v", "id").repartition(4)
    def argmax(d: DataFrame) = d
      .withColumn("mx", max(col("v")).over(Window.partitionBy(col("grp"))))
      .where(col("v") === col("mx"))
      .select(col("grp"), col("v"), col("id"))
      .orderBy(col("grp"), col("id"))
    val native = withRewrite(on = true) {
      val q = argmax(df)
      val p = plan(q)
      assert(p.contains("TopKPerGroup") && !p.contains("Window"), p)
      q.collect().map(_.toSeq).toSeq
    }
    val window = withRewrite(on = false)(argmax(df).collect().map(_.toSeq).toSeq)
    assert(native === window)
    assert(native.map(_(2)) === Seq(1, 2, 5, 6)) // group 2 gone, nulls dropped
    withRewrite(on = true) {
      // argMIN: ascending with NullsLast — null rows still never win
      val qmin = df
        .withColumn("mn", min(col("v")).over(Window.partitionBy(col("grp"))))
        .where(col("v") === col("mn"))
        .select(col("grp"), col("id")).orderBy(col("grp"), col("id"))
      assert(plan(qmin).contains("TopKPerGroup") && !plan(qmin).contains("Window"))
      assert(qmin.collect().map(_.getInt(1)).toSeq === Seq(3, 7))
      // null-safe equality KEEPS all-null groups — must NOT rewrite
      val nullsafe = df
        .withColumn("mx", max(col("v")).over(Window.partitionBy(col("grp"))))
        .where(col("v") <=> col("mx"))
      assert(plan(nullsafe).contains("Window"), plan(nullsafe))
      // ordered window (frame is range-to-current-row, not the
      // partition max): must NOT rewrite
      val ordered = df
        .withColumn("mx", max(col("v"))
          .over(Window.partitionBy(col("grp")).orderBy(col("id"))))
        .where(col("v") === col("mx"))
      assert(plan(ordered).contains("Window"), plan(ordered))
    }
  }

  test("argmax rewrite keeps downstream references to the max column working") {
    import spark.implicits._
    val df = Seq((0, 5, 1), (0, 5, 2), (0, 1, 3), (1, 4, 4), (1, 2, 5))
      .toDF("grp", "v", "id")
    withRewrite(on = true) {
      // selects the window alias itself + a residual conjunct
      val q = df
        .withColumn("mx", max(col("v")).over(Window.partitionBy(col("grp"))))
        .where(col("v") === col("mx") && col("id") =!= 2)
        .select(col("grp"), col("mx"), col("id"))
        .orderBy(col("grp"), col("id"))
      val p = plan(q)
      assert(p.contains("TopKPerGroup") && !p.contains("Window"), p)
      assert(q.collect().map(_.toSeq).toSeq ===
        Seq(Seq(0, 5, 1), Seq(1, 4, 4)))
    }
  }

  test("join-back rewrite: min and max variants equal the un-rewritten join, ties kept") {
    spark.read.parquet(s"$Sf/part.parquet").createOrReplaceTempView("part_jb")
    for (fn <- Seq("MIN", "MAX")) {
      val sql = s"""
        SELECT f.p_brand, f.p_partkey, f.p_size
        FROM part_jb f
        JOIN (SELECT p_brand, $fn(p_size) AS ex FROM part_jb GROUP BY p_brand) m
          ON f.p_brand = m.p_brand AND f.p_size = m.ex
        ORDER BY f.p_brand, f.p_partkey"""
      val expect = withRewrite(on = false) {
        spark.sql(sql).collect().map(_.toSeq).toSeq
      }
      withRewrite(on = true) {
        val df = spark.sql(sql)
        val opt = df.queryExecution.optimizedPlan
        assert(opt.exists(_.isInstanceOf[graft.plans.TopKPerGroup]),
          s"$fn join-back did not rewrite:\n$opt")
        assert(!opt.exists(p =>
          p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join] ||
            p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]),
          s"$fn rewritten plan still joins/aggregates:\n$opt")
        val got = df.collect().map(_.toSeq).toSeq
        assert(got === expect)
        assert(got.groupBy(_(0)).values.exists(_.size > 1),
          "no extreme ties — the tie contract is unexercised")
      }
    }
  }

  test("join-back rewrite: residual conjuncts survive; agg-side output references resolve") {
    // The residual must reference BOTH sides to stay in the join
    // condition (a fact-only conjunct gets pushed below the join by
    // the main optimizer batches, turning the fact side into a
    // FILTERED variant — which correctly blocks the rewrite, because
    // the extreme would then be computed over filtered rows; the
    // non-rewrite test covers that). Substitution rewrites m.ex to the
    // fact-side p_size, equal on every surviving row.
    spark.read.parquet(s"$Sf/part.parquet").createOrReplaceTempView("part_jb")
    val sql = """
      SELECT f.p_partkey, f.p_brand, m.ex
      FROM part_jb f
      JOIN (SELECT p_brand, MAX(p_size) AS ex FROM part_jb GROUP BY p_brand) m
        ON f.p_brand = m.p_brand AND f.p_size = m.ex
          AND f.p_partkey % 2 = m.ex % 2
      ORDER BY f.p_partkey"""
    val expect = withRewrite(on = false) { spark.sql(sql).collect().map(_.toSeq).toSeq }
    withRewrite(on = true) {
      val df = spark.sql(sql)
      val opt = df.queryExecution.optimizedPlan
      assert(opt.exists(_.isInstanceOf[graft.plans.TopKPerGroup]),
        s"residual-conjunct join-back did not rewrite:\n$opt")
      // m.ex is projected — the trailing Project must re-emit it from
      // the fact side under the original exprId.
      assert(df.collect().map(_.toSeq).toSeq === expect)
      assert(expect.nonEmpty)
    }
  }

  test("join-back rewrite guards NULL group keys like the inner join it replaces") {
    // The inner join's g-equality silently drops NULL-group rows; the
    // native operator groups NULL like a value — the rewrite must add
    // the IsNotNull guard itself. Constraint propagation is turned OFF
    // so no inferred filter hides a missing guard.
    import spark.implicits._
    Seq((Some("a"), 1), (Some("a"), 2), (None: Option[String], 9),
        (None: Option[String], 7), (Some("b"), 5))
      .toDF("g", "x").createOrReplaceTempView("nullable_jb")
    val sql = """
      SELECT f.g, f.x FROM nullable_jb f
      JOIN (SELECT g, MAX(x) AS mx FROM nullable_jb GROUP BY g) m
        ON f.g = m.g AND f.x = m.mx
      ORDER BY f.g, f.x"""
    val cpFlag = "spark.sql.constraintPropagation.enabled"
    val prevCp = spark.conf.getOption(cpFlag)
    spark.conf.set(cpFlag, "false")
    try {
      val expect = withRewrite(on = false) { spark.sql(sql).collect().map(_.toSeq).toSeq }
      withRewrite(on = true) {
        val df = spark.sql(sql)
        val opt = df.queryExecution.optimizedPlan
        assert(opt.exists(_.isInstanceOf[graft.plans.TopKPerGroup]),
          s"nullable-key join-back did not rewrite:\n$opt")
        val got = df.collect().map(_.toSeq).toSeq
        // The NULL group's max row (x=9) must NOT appear.
        assert(got === expect, s"NULL-group rows leaked:\ngot $got\nwant $expect")
      }
    } finally prevCp match {
      case Some(v) => spark.conf.set(cpFlag, v)
      case None => spark.conf.unset(cpFlag)
    }
  }

  test("join-back non-rewrite: a fact-only residual means a filtered fact — left alone") {
    spark.read.parquet(s"$Sf/part.parquet").createOrReplaceTempView("part_jb")
    withRewrite(on = true) {
      val opt = spark.sql("""
        SELECT f.p_partkey FROM part_jb f
        JOIN (SELECT p_brand, MAX(p_size) AS ex FROM part_jb GROUP BY p_brand) m
          ON f.p_brand = m.p_brand AND f.p_size = m.ex AND f.p_partkey % 2 = 0
        """).queryExecution.optimizedPlan
      // Pushdown moves the conjunct into the fact branch; the sides no
      // longer scan the same thing, and the extreme must stay computed
      // over the UNFILTERED side — the rule must decline.
      assert(!opt.exists(_.isInstanceOf[graft.plans.TopKPerGroup]),
        s"rewrote a filtered-fact join-back (semantics change!):\n$opt")
    }
  }

  test("join-back non-rewrites: unpinned key, differing inputs, avg, outer join") {
    spark.read.parquet(s"$Sf/part.parquet").createOrReplaceTempView("part_jb")
    def joins(sql: String): Boolean = withRewrite(on = true) {
      val opt = spark.sql(sql).queryExecution.optimizedPlan
      opt.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join]) &&
        !opt.exists(_.isInstanceOf[graft.plans.TopKPerGroup])
    }
    // Group key not pinned in the condition: NOT a per-group argmax.
    assert(joins("""
      SELECT f.p_partkey FROM part_jb f
      JOIN (SELECT p_brand, MAX(p_size) AS ex FROM part_jb GROUP BY p_brand) m
        ON f.p_size = m.ex"""))
    // Differing inputs (agg over a filtered variant): not a self-argmax.
    assert(joins("""
      SELECT f.p_partkey FROM part_jb f
      JOIN (SELECT p_brand, MAX(p_size) AS ex FROM part_jb
            WHERE p_size > 10 GROUP BY p_brand) m
        ON f.p_brand = m.p_brand AND f.p_size = m.ex"""))
    // AVG is not an extreme a heap can keep.
    assert(joins("""
      SELECT f.p_partkey FROM part_jb f
      JOIN (SELECT p_brand, AVG(p_size) AS ex FROM part_jb GROUP BY p_brand) m
        ON f.p_brand = m.p_brand AND f.p_size = m.ex"""))
    // LEFT JOIN keeps non-extreme rows: out of contract.
    assert(joins("""
      SELECT f.p_partkey FROM part_jb f
      LEFT JOIN (SELECT p_brand, MAX(p_size) AS ex FROM part_jb GROUP BY p_brand) m
        ON f.p_brand = m.p_brand AND f.p_size = m.ex
      WHERE m.ex IS NOT NULL"""))
  }

  test("q_minmax_rewrite driver query: native plan, join-equal, real ties, flag restored") {
    assert(spark.conf.getOption(Flag).isEmpty)
    val df = queries.RelationalQueries.qMinmaxRewrite(spark, Sf)
    assert(spark.conf.getOption(Flag).isEmpty)
    // The gate's temp view lived and died in its scoped child session.
    assert(!spark.catalog.tableExists("lineitem_minmax"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerGroup"), s"native operator missing:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("HashJoin"),
      s"a join survived:\n$p")
    val got = df.collect().map(_.toSeq).toSeq
    val li = spark.read.parquet(s"$Sf/lineitem.parquet")
    val m = li.groupBy(col("l_partkey").as("mk"))
      .agg(min(col("l_extendedprice")).as("min_price"))
    val expect = li.join(m, col("l_partkey") === col("mk") &&
        col("l_extendedprice") === col("min_price"))
      .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("price_cents"))
      .orderBy(col("l_partkey"), col("l_orderkey"), col("l_linenumber"))
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got === expect)
  }

  test("q_argmax_rewrite driver query: native plan, window-equal, real ties") {
    assert(spark.conf.getOption(Flag).isEmpty)
    val df = queries.RelationalQueries.qArgmaxRewrite(spark, Sf)
    assert(spark.conf.getOption(Flag).isEmpty)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerGroup"), s"native operator missing:\n$p")
    assert(!p.contains("Window"), s"Window survived:\n$p")
    val got = df.collect().map(_.toSeq).toSeq
    val w = Window.partitionBy(col("p_brand"))
    val expect = spark.read.parquet(s"$Sf/part.parquet")
      .withColumn("mx", max(col("p_size")).over(w))
      .where(col("p_size") === col("mx"))
      .select(col("p_brand"), col("p_partkey"), col("p_size"))
      .orderBy(col("p_brand"), col("p_partkey"))
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got === expect)
    val perGroup = got.groupBy(_(0)).values.map(_.size)
    assert(perGroup.exists(_ > 1), "no max ties — the gate is vacuous")
  }

  test("q_rank_rewrite driver query: native plan, window-equal, real ties") {
    assert(spark.conf.getOption(Flag).isEmpty)
    val df = queries.RelationalQueries.qRankRewrite(spark, Sf)
    assert(spark.conf.getOption(Flag).isEmpty) // flag restored
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerGroup"), s"native operator missing:\n$p")
    assert(!p.contains("Window"), s"Window survived:\n$p")
    val got = df.collect().map(_.toSeq).toSeq
    // un-rewritten window execution of the same query
    val w = Window.partitionBy(col("p_brand")).orderBy(col("p_size"))
    val expect = spark.read.parquet(s"$Sf/part.parquet")
      .withColumn("rnk", rank().over(w))
      .where(col("rnk") <= 3)
      .select(col("p_brand"), col("rnk"), col("p_partkey"), col("p_size"))
      .orderBy(col("p_brand"), col("rnk"), col("p_partkey"))
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    assert(got === expect)
    // the corpus genuinely ties: some group keeps more than k rows
    val perGroup = got.groupBy(_(0)).values.map(_.size)
    assert(perGroup.exists(_ > 3), "no boundary ties — the gate is vacuous")
  }

  test("q_scalar_argmax_rewrite driver query: native plan through decorrelation, subquery-equal, ties") {
    assert(spark.conf.getOption(Flag).isEmpty)
    val df = queries.RelationalQueries.qScalarArgmaxRewrite(spark, Sf)
    assert(spark.conf.getOption(Flag).isEmpty)
    assert(!spark.catalog.tableExists("lineitem_sargmax"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerGroup"), s"native operator missing:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("HashJoin"),
      s"a join survived:\n$p")
    val got = df.collect().map(_.toSeq).toSeq
    // Ground truth: the same correlated subquery, flag OFF (Spark's own
    // decorrelated join execution).
    spark.read.parquet(s"$Sf/lineitem.parquet")
      .createOrReplaceTempView("lineitem_sargmax_gt")
    val expect = withRewrite(on = false) {
      spark.sql("""
        SELECT t.l_suppkey, t.l_orderkey, t.l_linenumber,
          CAST(CAST(t.l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qty_cents
        FROM lineitem_sargmax_gt t
        WHERE t.l_quantity = (SELECT MAX(t2.l_quantity)
                              FROM lineitem_sargmax_gt t2
                              WHERE t2.l_suppkey = t.l_suppkey)
        ORDER BY t.l_suppkey, t.l_orderkey, t.l_linenumber""").collect().map(_.toSeq).toSeq
    }
    assert(got.nonEmpty)
    assert(got === expect)
    val perGroup = got.groupBy(_(0)).values.map(_.size)
    assert(perGroup.exists(_ > 1), "no max ties — the gate is vacuous")
  }

  test("scalar-subquery non-rewrites: different table, inner filter, inequality pin") {
    spark.read.parquet(s"$Sf/part.parquet").createOrReplaceTempView("part_sq")
    spark.read.parquet(s"$Sf/lineitem.parquet").createOrReplaceTempView("li_sq")
    def joins(sql: String): Boolean = withRewrite(on = true) {
      val opt = spark.sql(sql).queryExecution.optimizedPlan
      opt.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join]) &&
        !opt.exists(_.isInstanceOf[graft.plans.TopKPerGroup])
    }
    // Subquery over a DIFFERENT table: not a self-argmax.
    assert(joins("""
      SELECT f.p_partkey FROM part_sq f
      WHERE f.p_size = (SELECT MAX(l.l_linenumber) FROM li_sq l
                        WHERE l.l_partkey = f.p_partkey)"""))
    // Extra filter INSIDE the subquery: agg input differs from the fact.
    assert(joins("""
      SELECT f.p_partkey FROM part_sq f
      WHERE f.p_size = (SELECT MAX(t2.p_size) FROM part_sq t2
                        WHERE t2.p_brand = f.p_brand AND t2.p_retailprice > 100)"""))
    // Inequality against the scalar: no equality pin, still a join.
    assert(joins("""
      SELECT f.p_partkey FROM part_sq f
      WHERE f.p_size < (SELECT MAX(t2.p_size) FROM part_sq t2
                        WHERE t2.p_brand = f.p_brand)"""))
  }
}
