package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window => W}
import graft.operators.Graph

/** Specs for the round-6 analytics additions: fixed-point PageRank,
  * the CUSUM window identity, and the integer BM25 — each pinned
  * against an in-memory reference running the LITERAL textbook
  * formulation, so the distributed re-expressions can't drift from
  * the semantics they claim.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank matches the literal integer power iteration on a handcrafted graph") {
    // 4-node graph: 1->2, 1->3, 2->3, 3->1, 4->3, 3->4 (every node
    // has an out-edge).
    val edgeList = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L), (3L, 4L))
    val edges = edgeList.toDF("src", "dst")
    val got = Graph.pageRank(edges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // Literal reference: same integer recurrence, driver-side.
    val outdeg = edgeList.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var pr: Map[Long, Long] = outdeg.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 5) {
      val contribs = edgeList.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => pr(s) / outdeg(s) }.sum
      }
      pr = contribs.map { case (n, c) => n -> (150000L + 85L * c / 100L) }
    }
    assert(got === pr)
    // Rank mass sanity: every node kept a positive rank.
    assert(got.values.forall(_ > 0))
  }

  test("pageRankWeighted matches the literal weighted recurrence; parallel edges sum") {
    // Same 4-node topology as the unweighted case, but 1->3 carries
    // weight 3 (as one weighted row AND as parallel rows — both forms
    // must combine identically) so node 3 pulls most of node 1's rank.
    val weighted = Seq(
      (1L, 2L, 1L), (1L, 3L, 3L), (2L, 3L, 1L),
      (3L, 1L, 2L), (4L, 3L, 1L), (3L, 4L, 1L))
    val got = Graph.pageRankWeighted(weighted.toDF("src", "dst", "w"), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // Parallel-edge form: 1->3 three times at weight 1, 3->1 twice.
    val parallel = weighted.flatMap { case (s, d, w) =>
      Seq.fill(w.toInt)((s, d, 1L)) }
    val gotParallel = Graph.pageRankWeighted(parallel.toDF("src", "dst", "w"), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotParallel === got)

    // Literal reference: contribution (pr * w) / sw, truncating division.
    val sw = weighted.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var pr: Map[Long, Long] = sw.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 5) {
      val contribs = weighted.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _, w) => pr(s) * w / sw(s) }.sum
      }
      pr = contribs.map { case (n, c) => n -> (150000L + 85L * c / 100L) }
    }
    assert(got === pr)
    // The weight matters: node 3 outranks everything (it absorbs 3/4
    // of node 1's mass plus all of 2's and 4's).
    assert(got(3L) === got.values.max)
  }

  test("bfsDistances: multi-source minimum, depth cap, early drain, unreachable omitted") {
    // Chain 1-2-3-4-5 plus isolated pair 10-11; undirected via
    // symmetrization. Seeds {1, 5}: distances are min over both ends.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val edges = und.toDF("src", "dst")
      .unionAll(und.map(_.swap).toDF("src", "dst"))
    val seeds = Seq(1L, 5L).toDF("node")
    val rows = Graph.bfsDistances(edges, seeds, maxDepth = 6)
      .as[(Long, Long)].collect()
    val got = rows.toMap
    // Every node appears at exactly ONE level (toMap would silently
    // swallow a node emitted at two distances).
    assert(rows.length === got.size, s"duplicate node emissions: ${rows.toSeq}")
    // 3 is 2 hops from both seeds; 10/11 unreachable -> absent.
    assert(got === Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L))

    // Depth cap: from seed 1 only, node 5 is 4 hops away; cap at 2
    // omits it — the bounded-recursion contract, not an error.
    val capped = Graph.bfsDistances(edges, Seq(1L).toDF("node"), maxDepth = 2)
      .as[(Long, Long)].collect().toMap
    assert(capped === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))

    // A seed that is also reachable from another seed keeps dist 0,
    // and duplicate seed rows collapse.
    val dup = Graph.bfsDistances(edges, Seq(1L, 1L, 2L).toDF("node"), maxDepth = 6)
      .as[(Long, Long)].collect().toMap
    assert(dup(1L) === 0L && dup(2L) === 0L && dup(3L) === 1L)
  }

  test("ssspDistances: cheap multi-hop beats expensive direct, cap, parallel-min, drain") {
    // 1 -3-> 5 direct, but 1 -1-> 2 -1-> 5 is cheaper; a parallel
    // (1, 5) edge pair must collapse to its min weight; 10-11 isolated.
    val und = Seq((1L, 5L, 3L), (1L, 5L, 4L), (1L, 2L, 1L), (2L, 5L, 1L),
      (5L, 6L, 2L), (10L, 11L, 1L))
    val edges = und.toDF("src", "dst", "w")
      .unionAll(und.map { case (a, b, w) => (b, a, w) }.toDF("src", "dst", "w"))
    val got = Graph.ssspDistances(edges, Seq(1L).toDF("node"), maxCost = 8)
      .as[(Long, Long)].collect().toMap
    // 5 via 2 costs 2 (< direct 3 and < parallel 4); 6 rides it at 4.
    assert(got === Map(1L -> 0L, 2L -> 1L, 5L -> 2L, 6L -> 4L))

    // Cost budget: cap 3 admits 6 at exactly 4? No — 4 > 3, omitted;
    // 5 at 2 stays. The budget is inclusive.
    val capped = Graph.ssspDistances(edges, Seq(1L).toDF("node"), maxCost = 3)
      .as[(Long, Long)].collect().toMap
    assert(capped === Map(1L -> 0L, 2L -> 1L, 5L -> 2L))
    val exact = Graph.ssspDistances(edges, Seq(1L).toDF("node"), maxCost = 4)
      .as[(Long, Long)].collect().toMap
    assert(exact(6L) === 4L)

    // Multi-source: min over both seeds; a budget-many chain of unit
    // edges needs every permitted round (the rounds <= maxCost + 1
    // bound is tight at the all-ones chain).
    val chain = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L))
      .toDF("src", "dst", "w")
    val far = Graph.ssspDistances(chain, Seq(1L).toDF("node"), maxCost = 4)
      .as[(Long, Long)].collect().toMap
    assert(far === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
  }

  test("ssspIncrement equals from-scratch under additions AND weight decreases") {
    // Old graph: 1 -3-> 5, 5 -3-> 6 (plus symmetric); stored at cap 8.
    val old = Seq((1L, 5L, 3L), (5L, 6L, 3L))
    def sym(s: Seq[(Long, Long, Long)]) =
      s.toDF("src", "dst", "w").unionAll(
        s.map { case (a, b, w) => (b, a, w) }.toDF("src", "dst", "w"))
    val seeds = Seq(1L).toDF("node")
    val stored = Graph.ssspDistances(sym(old), seeds, maxCost = 8)
    // Delta: NEW pair (1, 2, 1) + (2, 5, 1), and (1, 5) CHEAPENS 3 -> 2
    // (the count-monotone weight-grade shape). New node 7 hangs off 6.
    val newEdges = Seq((1L, 5L, 2L), (5L, 6L, 3L), (1L, 2L, 1L),
      (2L, 5L, 1L), (6L, 7L, 1L))
    val full = sym(newEdges)
    val delta = sym(Seq((1L, 5L, 2L), (1L, 2L, 1L), (2L, 5L, 1L), (6L, 7L, 1L)))
    val folded = Graph.ssspIncrement(stored, full, delta, maxCost = 8)
      .as[(Long, Long)].collect().toMap
    val scratch = Graph.ssspDistances(full, seeds, maxCost = 8)
      .as[(Long, Long)].collect().toMap
    assert(folded === scratch)
    // And the fold genuinely shortened things: 5 was 3, now 2 via 2;
    // 6 rides to 5; 7 appears at 6.
    assert(folded === Map(1L -> 0L, 2L -> 1L, 5L -> 2L, 6L -> 5L, 7L -> 6L))

    // Empty effective delta: the fold is an exact no-op.
    val noop = Graph.ssspIncrement(stored, sym(old),
        sym(Seq.empty[(Long, Long, Long)]), maxCost = 8)
      .as[(Long, Long)].collect().toMap
    assert(noop === Graph.ssspDistances(sym(old), seeds, maxCost = 8)
      .as[(Long, Long)].collect().toMap)
  }

  test("CUSUM window identity equals the literal max(0, s+d) recursion") {
    // The query computes s_i = cum_i - min(0, min_{j<=i} cum_j); the
    // textbook recursion is s_i = max(0, s_{i-1} + d_i). Pin the
    // identity on a series with sign changes and a genuine level shift.
    val counts = Seq(3L, 1L, 4L, 1L, 5L, 9L, 2L, 6L, 5L, 3L, 5L, 8L, 9L, 7L)
    val mean = counts.sum * 1000L / counts.size
    val devs = counts.map(_ * 1000L - mean)

    val df = counts.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toDF("t", "cnt")
    val w = W.orderBy(col("t"))
    val got = df
      .withColumn("cum", sum(col("cnt") * lit(1000L) - lit(mean)).over(w))
      .withColumn("cusum", col("cum") - least(min(col("cum")).over(w), lit(0L)))
      .orderBy(col("t")).select("cusum").as[Long].collect().toSeq

    val expected = devs.scanLeft(0L)((s, d) => math.max(0L, s + d)).tail
    assert(got === expected)
  }

  test("triangles counts a handcrafted graph exactly, once per triangle") {
    // K4 on {1,2,3,4} (4 triangles, every vertex on 3), a pendant
    // vertex 5, and a triangle-free component {6,7}: pendant and
    // triangle-free nodes must not appear.
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = (k4 ++ Seq((1L, 5L), (6L, 7L))).toDF("a", "b")
    val got = Graph.triangles(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangles on a hub graph: orientation bounds the wedge fan-out but counts stay exact") {
    // Star hub 0 connected to 1..20, plus rim edges (i, i+1) for
    // i in 1..19: triangles are exactly (0, i, i+1) — 19 of them; the
    // hub sits on all 19, each rim node on the triangles of its
    // incident rim edges.
    val star = (1L to 20L).map(i => (0L, i))
    val rim = (1L to 19L).map(i => (i, i + 1))
    val got = Graph.triangles((star ++ rim).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L) === 19L)
    assert(got(1L) === 1L && got(20L) === 1L)
    assert((2L to 19L).forall(got(_) === 2L))
    // once-per-triangle: per-node counts sum to 3x the triangle count
    assert(got.values.sum === 3 * 19)
  }

  test("labelPropagation matches the literal synchronous reference, min-label ties") {
    // two triangles bridged by one edge — LPA should resolve two
    // communities (the bridge cannot outvote either triangle)
    val edgeList = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val rounds = 4
    val got = Graph.labelPropagation(edgeList.toDF("a", "b"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // Literal synchronous reference: most frequent neighbor label,
    // ties to the smallest label.
    val adj = (edgeList ++ edgeList.map(_.swap))
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    var lab: Map[Long, Long] = adj.keys.map(k => k -> k).toMap
    for (_ <- 1 to rounds) {
      lab = adj.map { case (u, vs) =>
        val counts = vs.map(lab).groupBy(identity).map { case (l, xs) => l -> xs.size }
        u -> counts.toSeq.maxBy { case (l, c) => (c, -l) }._1
      }
    }
    assert(got === lab)
    // community structure: each triangle coheres on one label
    assert(Set(got(1L), got(2L)).size === 1 && got(1L) === got(3L))
    assert(Set(got(4L), got(5L)).size === 1 && got(4L) === got(6L))
  }

  test("iterative rounds release superseded checkpoints (bounded storage)") {
    // Rounds are eagerly checkpointed and round r-1 is unpersisted as
    // round r lands: net pinned RDDs after a many-round run must be
    // the FINAL table only, not one per round.
    val edgeList = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val before = spark.sparkContext.getPersistentRDDs.size
    val labels = Graph.labelPropagation(edgeList.toDF("a", "b"), rounds = 8)
    labels.count()
    val afterLpa = spark.sparkContext.getPersistentRDDs.size
    assert(afterLpa - before <= 1,
      s"8-round LPA left ${afterLpa - before} pinned RDDs (want <= 1: final labels)")

    val pr = Graph.pageRank(
      (edgeList ++ edgeList.map(_.swap)).toDF("src", "dst"), iters = 8)
    pr.count()
    val afterPr = spark.sparkContext.getPersistentRDDs.size
    assert(afterPr - afterLpa <= 1,
      s"8-iter pageRank left ${afterPr - afterLpa} pinned RDDs (want <= 1: final ranks)")
  }

  test("PlanCache memoizes a named derivation per session and is clearable") {
    graft.operators.PlanCache.clear()
    var builds = 0
    def build() = { builds += 1; Seq((1L, 2L), (3L, 4L)).toDF("src", "dst") }
    val a = graft.operators.PlanCache.memo(spark, "spec:edges")(build())
    val b = graft.operators.PlanCache.memo(spark, "spec:edges")(build())
    assert(builds === 1, "second memo call must reuse the cached plan")
    assert(a.collect().toSet === b.collect().toSet)
    assert(graft.operators.PlanCache.size === 1)
    // distinct key -> distinct entry; clear() drops everything
    graft.operators.PlanCache.memo(spark, "spec:edges2")(build())
    assert(builds === 2 && graft.operators.PlanCache.size === 2)
    graft.operators.PlanCache.clear()
    assert(graft.operators.PlanCache.size === 0)
    graft.operators.PlanCache.memo(spark, "spec:edges")(build())
    assert(builds === 3, "cleared cache must rebuild")
    graft.operators.PlanCache.clear()
  }

  test("graph queries share memoized edge derivations (one entry per family)") {
    graft.operators.PlanCache.clear()
    val tri = graft.queries.GraphQueries.qTriangles(spark, Sf).collect()
    assert(tri.nonEmpty)
    val sizeAfterTri = graft.operators.PlanCache.size
    val lpa = graft.queries.GraphQueries.qLabelProp(spark, Sf).collect()
    assert(lpa.nonEmpty)
    // label prop reuses triangles' co-supplier table: no new entry
    assert(graft.operators.PlanCache.size === sizeAfterTri)
    val pr = graft.queries.GraphQueries.qPageRank(spark, Sf).collect()
    val sizeAfterPr = graft.operators.PlanCache.size
    // BFS shares BOTH of pagerank's tables (the raw purchase edges and
    // the degreed iteration table): no new entry.
    val bfs = graft.queries.GraphQueries.qGraphBfs(spark, Sf).collect()
    assert(pr.nonEmpty && bfs.nonEmpty)
    assert(graft.operators.PlanCache.size === sizeAfterPr)
    // The weighted variant adds exactly its own weighted iteration
    // table on top of the shared purchase edges.
    val prw = graft.queries.GraphQueries.qPageRankWeighted(spark, Sf).collect()
    assert(prw.nonEmpty)
    assert(graft.operators.PlanCache.size === sizeAfterPr + 1)
    graft.operators.PlanCache.clear()
  }

  test("integer BM25 ranks a term-stuffed short doc above a diluted long doc") {
    // Reference semantics checks on a corpus where the true BM25
    // ordering is unambiguous: doc 1 mentions the query term densely,
    // doc 2 mentions it once among filler, doc 3 not at all.
    val docs = Seq(
      (1L, "spark spark spark fast"),
      (2L, "spark " + Seq.fill(60)("filler").mkString(" ")),
      (3L, "nothing relevant here at all " + Seq.fill(40)("pad").mkString(" "))
    ).toDF("doc_id", "text")

    val terms = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val dl = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    val qt = terms.where(col("term") === "spark")
    val tf = qt.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfT = qt.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df")).withColumnRenamed("term", "t2")
    val scored = tf.join(broadcast(dfT), col("term") === col("t2"))
      .join(dl, "doc_id").crossJoin(broadcast(stats))
      .withColumn("avgdl", expr("total_tokens div n_docs"))
      .withColumn("normq", expr("(7500L * dl) div avgdl"))
      .withColumn("denom", expr("tf * 10000L + (12L * (2500L + normq)) div 10L"))
      .withColumn("tfpart", expr("(tf * 22000L * 1000000L) div denom"))
      .withColumn("idf", expr("((2L * (n_docs - df) + 1L) * 1000000L) div (2L * df + 1L)"))
      .withColumn("score", expr("(idf * tfpart) div 1000000L"))
      .select("doc_id", "score").as[(Long, Long)].collect().toMap

    assert(!scored.contains(3L), "doc without the term must not score")
    assert(scored(1L) > scored(2L),
      s"dense short doc must outrank diluted long doc: $scored")
    assert(scored.values.forall(_ > 0))
  }

  test("prepared-edge loops equal their self-preparing twins bit for bit") {
    // The *OnEdges/*OnDegreed entry points exist so queries can share
    // one pinned, partitioned edge table across calls — the ONE thing
    // to pin is that splitting preparation from iteration changes no
    // result (same dedup/aggregation, same integer arithmetic).
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L), (3L, 4L),
      (2L, 3L), (4L, 3L) // repeats: the dedup/weight-sum must see them
    ).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")

    val pr1 = Graph.pageRank(edges, iters = 4).collect().toSet
    val deg = Graph.degreeEdges(edges).persist()
    val pr2 = Graph.pageRankOnDegreed(deg, iters = 4).collect().toSet
    assert(pr1 === pr2)

    val bfs1 = Graph.bfsDistances(edges, seeds, maxDepth = 3).collect().toSet
    val bfs2 = Graph.bfsDistancesOnEdges(
      deg.select(col("src"), col("dst")), seeds, maxDepth = 3).collect().toSet
    assert(bfs1 === bfs2)
    deg.unpersist()

    val wEdges = edges.withColumn("w", lit(1L))
    val wpr1 = Graph.pageRankWeighted(wEdges, iters = 4).collect().toSet
    val wdeg = Graph.weightedDegreeEdges(wEdges).persist()
    val wpr2 = Graph.pageRankWeightedOnEdges(wdeg, iters = 4).collect().toSet
    assert(wpr1 === wpr2)
    wdeg.unpersist()

    val sEdges = Seq((1L, 2L, 2L), (2L, 3L, 1L), (1L, 3L, 5L), (1L, 3L, 4L))
      .toDF("src", "dst", "w")
    val ss1 = Graph.ssspDistances(sEdges, seeds, maxCost = 6).collect().toSet
    val minw = Graph.minWeightEdges(sEdges).persist()
    val ss2 = Graph.ssspDistancesOnEdges(minw, seeds, maxCost = 6).collect().toSet
    assert(ss1 === ss2)
    minw.unpersist()
  }

  test("a pinPartitioned memo keeps the hash partitioning a checkpoint would lose") {
    import graft.operators.PlanCache
    import graft.operators.Pin.PinOps
    val key = s"spec:memo-partitioned:${java.util.UUID.randomUUID}"
    val prep = PlanCache.memo(spark, key) {
      Graph.degreeEdges(
        spark.range(1000).select((col("id") % 50).as("src"), (col("id") % 37).as("dst")))
        .pinPartitioned
    }
    prep.count() // materialize the cache
    // A join keyed on src must not ADD an exchange on the edge side:
    // the only hashpartitioning(src) exchanges in the plan are the
    // REPARTITION_BY_COL ones inside the cached relation's lineage —
    // an ENSURE_REQUIREMENTS one would mean the planner re-shuffled
    // the pinned table (what happens when the pin loses partitioning,
    // e.g. under localCheckpoint).
    val ranks = spark.range(50).select(col("id").as("node"), lit(1L).as("pr"))
    val plan = prep.join(ranks.hint("shuffle_hash"), col("src") === col("node"))
      .queryExecution.executedPlan.toString
    val added = "Exchange hashpartitioning\\(src[^\\n]*ENSURE_REQUIREMENTS".r
      .findAllIn(plan).size
    assert(added === 0, s"edge side re-exchanged:\n$plan")
    assert(plan.contains("InMemoryTableScan"), s"prepared table not cached:\n$plan")
  }
}
