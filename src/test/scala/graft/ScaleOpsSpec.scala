package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew
import graft.sinks.BucketedTables

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("saltedAggregate equals direct aggregation") {
    val df = spark.read.parquet(s"$Sf/lineitem.parquet")
    val direct = df.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Skew.saltedAggregate(df, Seq("l_returnflag"), salts = 8,
      tieBreakers = Seq(col("l_orderkey"), col("l_linenumber")),
      partials = Map("q" -> sum(col("l_quantity")), "n" -> count(lit(1))))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted === direct)
  }

  test("replicatedJoin equals plain join") {
    val fact = spark.read.parquet(s"$Sf/orders.parquet").select("o_custkey", "o_orderkey")
    val dim = spark.read.parquet(s"$Sf/customer.parquet").select("c_custkey", "c_mktsegment")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = fact.join(dim, "o_custkey").count()
    val repl = Skew.replicatedJoin(fact, dim, "o_custkey", salts = 4,
      hotKeys = Seq(1L, 2L, 3L)).count()
    assert(repl === plain)
  }

  test("bloom prune keeps every true match (no false negatives) at low FPP") {
    import graft.operators.Bloom
    val li = spark.read.parquet(s"$Sf/lineitem.parquet").select("l_orderkey")
    val urgent = spark.read.parquet(s"$Sf/orders.parquet")
      .where(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val trueKeys = urgent.as[Long].collect().toSet
    val liKeys = li.as[Long].collect()
    val pruned = Bloom.prune(li, "l_orderkey", urgent, "o_orderkey")
      .select("l_orderkey").as[Long].collect()
    // no false negatives: every fact row whose key IS in the build set
    // must survive the pruning
    val trueMatches = liKeys.count(trueKeys.contains)
    assert(pruned.count(trueKeys.contains) === trueMatches)
    // false-positive rate over the NON-matching keys stays near the
    // design point (k=3, n≈|urgent|, m=2^17 → well under 1%)
    val nonMatch = pruned.count(!trueKeys.contains(_)).toDouble
    val nonMatchTotal = liKeys.count(!trueKeys.contains(_)).toDouble
    assert(nonMatch / nonMatchTotal < 0.05, s"fpp=${nonMatch / nonMatchTotal}")
    // and the pruning actually prunes: survivors are a strict subset
    assert(pruned.length < liKeys.length)
  }

  test("bloom prune widens integral keys: int fact vs long dim has no false negatives") {
    import graft.operators.Bloom
    // int fact keys probed against a long-typed build set — xxhash64
    // hashes INT and BIGINT differently, so without canonical widening
    // every member would silently fail the membership test.
    val fact = (1 to 200).toDF("k")                       // IntegerType
    val dim = (1L to 100L by 2L).toDF("k")                // LongType
    val kept = Bloom.prune(fact, "k", dim, "k", nBits = 4096)
      .as[Int].collect().toSet
    assert((1 to 100 by 2).forall(kept.contains),
      "false negative: a build-set member was pruned")
    // and the reverse width mix
    val kept2 = Bloom.prune(dim, "k", fact.where(col("k") <= 50), "k", nBits = 4096)
      .as[Long].collect().toSet
    assert((1L to 50L by 2L).forall(kept2.contains))
  }

  test("upsert merges latest-wins and rewrites only touched partitions") {
    import graft.sinks.UpsertWriter
    val lake = java.nio.file.Files.createTempDirectory("upsertlake").toFile.getAbsolutePath + "/t"
    val v1 = Seq(
      (1L, 2700, 1, 100L), (2L, 2650, 1, 100L), // period 1
      (3L, 2500, 2, 100L), (4L, 2400, 2, 100L)  // period 2
    ).toDF("fide_id", "rating", "period", "version")
    assert(UpsertWriter.upsert(v1, lake, Seq("fide_id"), Seq("period"), "version") === 2L)
    val p1File = new java.io.File(lake + "/period=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSeq

    // corrected drop for period 2 only: update id 3, add id 5, stale id 4 update loses
    val v2 = Seq(
      (3L, 2555, 2, 200L),  // newer version wins
      (4L, 2999, 2, 50L),   // OLDER version must lose to existing 100
      (5L, 2450, 2, 200L)   // brand-new record
    ).toDF("fide_id", "rating", "period", "version")
    assert(UpsertWriter.upsert(v2, lake, Seq("fide_id"), Seq("period"), "version") === 1L)

    val after = spark.read.parquet(lake)
      .collect().map(r => r.getAs[Long]("fide_id") ->
        ((r.getAs[Int]("rating"), r.getAs[Long]("version")))).toMap
    assert(after(3L) === ((2555, 200L)), "newer incoming version must win")
    assert(after(4L) === ((2400, 100L)), "stale incoming version must lose")
    assert(after(5L) === ((2450, 200L)), "new record must be inserted")
    assert(after(1L) === ((2700, 100L)) && after(2L) === ((2650, 100L)))
    // untouched partition files were not rewritten
    val p1After = new java.io.File(lake + "/period=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSeq
    assert(p1After === p1File, "period=1 files must be untouched")
  }

  test("bucketed join plan has no shuffle exchange") {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val ord = spark.read.parquet(s"$Sf/orders.parquet").select("o_orderkey", "o_custkey")
    val li = spark.read.parquet(s"$Sf/lineitem.parquet").select("l_orderkey", "l_quantity")
    BucketedTables.writeBucketed(ord, "g_orders_b", "o_orderkey", 8)
    BucketedTables.writeBucketed(li, "g_lineitem_b", "l_orderkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val joined = BucketedTables.bucketedJoin(spark, "g_orders_b", "g_lineitem_b",
        "o_orderkey", "l_orderkey")
      assert(joined.count() === li.count())
      val physical = joined.queryExecution.executedPlan.toString
      assert(!physical.contains("Exchange"), s"unexpected shuffle:\n$physical")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("GraftExtensions installs native functions via spark.sql.extensions") {
    // the shared test session is built by GraftSession, which sets the
    // extensions conf — every catalog function must resolve from SQL,
    // also in a newSession() child, with nothing registered by hand.
    val child = spark.newSession()
    assert(GraftExtensions.functions.map(_._1).distinct.size === 18)
    for (s <- Seq(spark, child); (name, usage, _) <- GraftExtensions.functions) {
      val described = s.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0))
      assert(described.exists(_.contains(usage)), s"$name: ${described.mkString(" | ")}")
    }
    val r = child.sql(
      "SELECT vec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d, " +
        "size(shingle_hashes('a b c d', 3)) AS s, " +
        "size(simhash_bits('a b c d')) AS b").head
    assert(r.getDouble(0) === 11.0)
    assert(r.getInt(1) === 2)
    assert(r.getInt(2) === 64)
  }
}
