package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-evidence generator: replicates a driver testdata directory
  * N× (default 10) into a larger lake with the SAME per-replica
  * structure, so per-query wall-time ratios across the decade measure
  * the engine's scaling shape, not a changed workload. NOT part of the
  * query surface — `/root/testdata` stays read-only; output goes under
  * the repo (e.g. `target/sf1`).
  *
  * Replica construction keeps every distribution the queries depend on:
  *
  *  - **Key shifts preserve modulus-based selections.** Each table's id
  *    offset is a multiple of the lcm of every modulus the query
  *    surface applies to that id (documents: 2,922,504,000 = lcm of
  *    3,4,8,13,16,17,19,29,40,64,100,1000; embeddings: 1600; orders
  *    and the rest: 400), so "doc_id % 100 == 0"-style query sets and
  *    the %16 historical/delta split scale by exactly the replica
  *    count. Foreign keys shift with their parents (referential
  *    integrity holds within each replica; dims region/nation are
  *    shared, as on any multi-tenant lake).
  *  - **Documents get per-replica token namespaces** (every
  *    whitespace token suffixed `zzr<r>zz` for replica r > 0): within
  *    a replica the duplicate/shingle structure is IDENTICAL to the
  *    source corpus, across replicas the Jaccard/MinHash/substring
  *    overlap is zero — so dedup work scales with data, instead of
  *    every document gaining N-1 artificial exact twins (which would
  *    measure a different problem). The suffix is all [a-z0-9], so it
  *    survives the surface's [^a-z0-9] normalizations INTACT (an
  *    earlier `_r` suffix lost its `_` to normalization, and `foo_3`
  *    → `foo3` can collide with a literal source token `foo3`); a
  *    pre-write guard asserts no source token already matches the
  *    suffix pattern, making the disjointness claim checked rather
  *    than assumed on any corpus. n_chars is
  *    recomputed.
  *  - **Embeddings get per-replica dimension rotations** (circular
  *    shift by 7r mod 64): norms and all intra-replica angles are
  *    EXACTLY preserved (a permutation is orthogonal), while
  *    cross-replica cosines decorrelate — ANN recall structure and
  *    near-dup geometry scale instead of collapsing onto N-1 exact
  *    copies of every vector.
  *  - **Events shift user/event ids only** — per-user timelines, and
  *    therefore session/funnel/path structure, are identical in every
  *    replica.
  *
  * Replica 0 is the identity, so the output strictly contains the
  * source data.
  */
object ScaleUp {

  /** Smallest multiple of `l` strictly above `max` (the replica
    * stride: keeps id spaces disjoint AND congruent mod every divisor
    * of `l`). */
  private def stride(df: DataFrame, idCol: String, l: Long): Long = {
    // Cast before getLong: an IntegerType id column in a source lake
    // would otherwise ClassCastException at runtime.
    val mx = df.agg(max(col(idCol).cast("long"))).head().getLong(0)
    (mx / l + 1) * l
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val replicas = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, src, dst, replicas)
    spark.stop()
    println(s"[scaleup] wrote ${replicas}x of $src to $dst")
  }

  def run(spark: SparkSession, src: String, dst: String, replicas: Int): Unit = {
    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def wr(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name done")
    }
    def shifted(t: String, idLcm: Map[String, Long]): DataFrame = {
      val df = rd(t)
      val strides = idLcm.map { case (c, l) => c -> stride(df, c, l) }
      (0 until replicas).map { r =>
        strides.foldLeft(df) { case (d, (c, k)) =>
          d.withColumn(c, col(c) + lit(r * k))
        }
      }.reduce(_ unionByName _)
    }

    // Dims are shared across replicas (25 nations / 5 regions describe
    // every tenant's rows, like any conformed dimension).
    wr("region", rd("region"))
    wr("nation", rd("nation"))

    val lGen = 400L   // lcm(2,4,8,16,25,50,100): every modulus used on these ids
    val cust = rd("customer"); val supp = rd("supplier"); val part = rd("part")
    val ord = rd("orders"); val li = rd("lineitem"); val ev = rd("events")
    val kCust = stride(cust, "c_custkey", lGen)
    val kSupp = stride(supp, "s_suppkey", lGen)
    val kPart = stride(part, "p_partkey", lGen)
    val kOrd = stride(ord, "o_orderkey", lGen)

    wr("customer", (0 until replicas).map(r =>
      cust.withColumn("c_custkey", col("c_custkey") + lit(r * kCust))
    ).reduce(_ unionByName _))
    wr("supplier", (0 until replicas).map(r =>
      supp.withColumn("s_suppkey", col("s_suppkey") + lit(r * kSupp))
    ).reduce(_ unionByName _))
    wr("part", (0 until replicas).map(r =>
      part.withColumn("p_partkey", col("p_partkey") + lit(r * kPart))
    ).reduce(_ unionByName _))
    wr("orders", (0 until replicas).map(r =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(r * kOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(r * kCust))
    ).reduce(_ unionByName _))
    wr("lineitem", (0 until replicas).map(r =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(r * kOrd))
        .withColumn("l_partkey", col("l_partkey") + lit(r * kPart))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * kSupp))
    ).reduce(_ unionByName _))
    wr("events", shifted("events", Map("event_id" -> lGen, "user_id" -> lGen)))

    // Documents: id stride preserves every doc_id modulus the surface
    // uses; texts of replica r > 0 move to a disjoint token namespace.
    val lDoc = 2922504000L  // lcm(3,4,8,13,16,17,19,29,40,64,100,1000)
    val docs = rd("documents")
    val kDoc = stride(docs, "doc_id", lDoc)
    // Namespace-collision guard: the replica suffix must not already
    // occur as a token tail in the source corpus, or cross-replica
    // token disjointness (raw AND normalized) silently degrades into
    // partial overlap and the dedup/decontam growth ratios lie. The
    // check runs on tokens AFTER the surface's [^a-z0-9] normalization
    // — that is the domain where a collision actually bites (raw
    // 'abczzr1z.z' normalizes to 'abczzr1zz' and would collide with
    // replica 1's suffixed 'abc'), and an ends-with match catches
    // punctuation/whitespace-adjacent tails a raw word-boundary regex
    // misses.
    val collisions = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .select(regexp_replace(lower(col("tok")), "[^a-z0-9]", "").as("tok"))
      .where(col("tok").rlike("zzr[0-9]+zz$"))
      .count()
    require(collisions == 0L,
      s"$collisions source tokens normalize to a tail matching the " +
        "replica namespace suffix pattern zzr<digits>zz — pick a " +
        "different suffix for this corpus")
    wr("documents", (0 until replicas).map { r =>
      val base = docs.withColumn("doc_id", col("doc_id") + lit(r * kDoc))
      if (r == 0) base
      else base
        .withColumn("text", array_join(
          transform(split(col("text"), " "), w => concat(w, lit(s"zzr${r}zz"))), " "))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_ unionByName _))

    // Embeddings: rotate dimensions by 7r mod 64 — orthogonal, so all
    // intra-replica geometry (norms, cosines, neighbor ranks) is exact.
    val lVec = 1600L  // lcm(2,8,50,64,100)
    val emb = rd("embeddings")
    val kVec = stride(emb, "vec_id", lVec)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    wr("embeddings", (0 until replicas).map { r =>
      val base = emb.withColumn("vec_id", col("vec_id") + lit(r * kVec))
      val shift = (r * 7) % dim
      if (shift == 0) base
      else base.withColumn("embedding",
        expr(s"transform(sequence(0, ${dim - 1}), i -> embedding[int((i + $shift) % $dim)])"))
    }.reduce(_ unionByName _))
  }
}
