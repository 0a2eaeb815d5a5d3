package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Pin.PinOps

/** Iterative graph analytics beyond connected components (see
  * [[Dedup]] for large-star/small-star CC): fixed-point-arithmetic
  * PageRank by synchronous power iteration.
  *
  * All rank arithmetic is integer (rank scaled by 1e6, damping as the
  * 85/100 rational, contributions via integral division
  * `pr div outdeg`), so the result is bit-identical across engines and
  * partitionings — a floating-point PageRank depends on partial-sum
  * order and cannot be hash-checked. The deliberate cost is the
  * truncation of each division: this is "PageRank with floor
  * division", the same function the DuckDB oracle computes, and rank
  * ORDER behaves like the float version at these iteration counts.
  *
  * Scale shape: the edge list is hash-partitioned on `src` ONCE and
  * persisted — the cached partitioning survives into every
  * iteration's join, so the per-round cost is shuffling the (much
  * smaller) rank table to the edges plus one partial-agg shuffle of
  * the contributions, never a re-shuffle of the edges themselves.
  * Joins carry a shuffle-hash hint (build on the rank/degree side):
  * a sort-merge join would re-sort the edge partitions every round.
  * Ranks are pinned per iteration ([[Pin]]: localCheckpoint by
  * default; `spark.graft.checkpoint.reliable=true` switches every
  * iteration pin in this object to a reliable checkpoint that
  * survives executor loss — set it under dynamic allocation or
  * preemptible executors) so the plan stays flat; the final round is
  * an EAGER pin, after which the edge cache is dropped — the operator
  * leaves no pinned state behind.
  */
object Graph {

  /** The shared iteration prologue: dedup the edge list riding a src
    * repartition (HashPartitioning(src) satisfies the (src, dst)
    * clustering, so the dedup adds no exchange) and persist — the
    * partitioning survives into every round's join. One definition so
    * the shuffle shape cannot drift between the iterative operators. */
  private def srcPartitionedDistinctEdges(edges: DataFrame): DataFrame =
    distinctEdges(edges).pinPartitioned

  /** The UNPINNED distinct src-partitioned edge table — callers that
    * share one edge table across several iterative queries pin this
    * once (e.g. in [[graft.operators.PlanCache.memo]] through
    * `pinPartitioned`, which keeps the HashPartitioning(src) a
    * checkpoint would lose) and
    * pass it to the `*OnEdges` entry points below. */
  def distinctEdges(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .repartition(col("src"))
      .distinct()

  /** Degree-annotated iteration edge table for [[pageRankOnDegreed]]:
    * (src, dst, outdeg), hash-partitioned by src. The out-degree
    * aggregate rides the src partitioning (no exchange) and the join
    * back is partition-local, so building this costs the one edge
    * shuffle the plain prologue already paid — but a PageRank loop over
    * it no longer re-derives degrees and re-joins them EVERY ROUND
    * (measured ~40% of the per-round CPU at sf0.1: each round scanned
    * the cached edges twice, once for the degree aggregate and once
    * for the join). At 100 TB the trade is one extra long column of
    * cached edge state for one fewer corpus-wide pass per iteration. */
  def degreeEdges(edges: DataFrame): DataFrame = {
    val ed = distinctEdges(edges)
    val deg = ed.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    ed.join(deg.hint("shuffle_hash"), "src")
  }

  /** Synchronous PageRank over a directed edge list.
    *
    * @param edges DataFrame with `src` and `dst` long columns; rows
    *              may repeat — the edge set is deduplicated here,
    *              riding the src repartition (HashPartitioning(src)
    *              satisfies the (src, dst) clustering, so the dedup
    *              adds no exchange). Every node is assumed to have at
    *              least one OUT-edge (true for symmetrized graphs;
    *              dangling-node mass is otherwise dropped, as in the
    *              classic formulation).
    * @param iters number of power iterations (synchronous updates).
    * @return (node, pr) with pr scaled by 1e6; initial rank 1e6 per
    *         node, damping 0.85 as `150000 + (85 * contribs) div 100`.
    */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    val e = degreeEdges(edges).pinPartitioned
    val out = pageRankOnDegreed(e, iters)
    Pin.release(e)
    out
  }

  /** The [[pageRank]] iteration loop over an ALREADY-PREPARED degree
    * table ([[degreeEdges]] shape: (src, dst, outdeg), hash-partitioned
    * by src, pinned by the caller): per round, ONE shuffle-hash probe
    * of the stationary table by the nodes-sized rank table and one
    * partial-agg'd contribution exchange — the edges are never
    * re-deduplicated, re-degreed, or re-shuffled. Bit-identical to
    * [[pageRank]] (same integer arithmetic over the same edge set;
    * GraphSpec pins the equality). */
  def pageRankOnDegreed(e: DataFrame, iters: Int): DataFrame = {
    // Initial ranks: every node with >= 1 out-edge, uniform 1e6. The
    // distinct rides the src partitioning (no exchange).
    var ranks = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1000000L).as("pr"))
    for (i <- 1 to iters) {
      val next = e.join(ranks.hint("shuffle_hash"), col("src") === col("node"))
        .select(col("dst"), expr("pr div outdeg").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("contribs"))
        .select(col("dst").as("node"),
          (lit(150000L) + expr("(85L * contribs) div 100L")).as("pr"))
      // Per-round EAGER checkpoints pin each (tiny, nodes-sized) rank
      // table and keep every AQE query one join+agg deep — measured
      // faster than handing the optimizer the full 5-round nested
      // plan. Eager materialization lets round r-1's blocks be
      // released immediately, so no matter how many iterations run,
      // at most TWO rank tables are ever pinned at once (unbounded
      // accumulation was executor storage pressure at high iters).
      val prev = ranks
      ranks = next.pin(true)
      Pin.release(prev)
    }
    ranks
  }

  /** Weighted synchronous PageRank: each node's rank is split across
    * its out-edges PROPORTIONALLY TO EDGE WEIGHT instead of uniformly
    * — contribution = `(pr * w) div sw` with `sw` the node's total
    * outgoing weight — which is what a real importance ranking over an
    * interaction graph wants (a supplier reached through 40 orders
    * should pull more rank than one reached through 1; the unweighted
    * variant throws that multiplicity away).
    *
    * Input rows are (src, dst, w) and may repeat: parallel edges are
    * combined by SUMMING weights, riding the same src repartition the
    * unweighted variant uses for its dedup (HashPartitioning(src)
    * satisfies the (src, dst) clustering — no extra exchange). Every
    * other scale property matches [[pageRank]]: big edge side
    * stationary and partitioned once, nodes-sized rank table moving,
    * shuffle-hash joins, eager per-round checkpoints with round r-1
    * released as round r lands. Integer fixed-point throughout —
    * `pr * w` stays far under 2^63 for any realistic weight scale
    * (pr ~ 1e6-1e9, w ~ multiplicities). */
  def pageRankWeighted(edges: DataFrame, iters: Int): DataFrame = {
    val e = weightedDegreeEdges(edges).pinPartitioned
    val out = pageRankWeightedOnEdges(e, iters)
    Pin.release(e)
    out
  }

  /** [[degreeEdges]]' weighted sibling for [[pageRankWeightedOnEdges]]:
    * parallel edges summed to their multiplicity weight and annotated
    * with the emitter's total outgoing weight — (src, dst, w, sw),
    * hash-partitioned by src. Both aggregates and the join back ride
    * the src partitioning (no extra exchange). */
  def weightedDegreeEdges(edges: DataFrame): DataFrame = {
    val ed = edges.select(col("src"), col("dst"), col("w"))
      .repartition(col("src"))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    val sw = ed.groupBy(col("src")).agg(sum(col("w")).as("sw"))
    ed.join(sw.hint("shuffle_hash"), "src")
  }

  /** The [[pageRankWeighted]] loop over an ALREADY-PREPARED
    * [[weightedDegreeEdges]] table (pinned by the caller) — same
    * per-round shape as [[pageRankOnDegreed]], same bit-identity
    * contract. */
  def pageRankWeightedOnEdges(e: DataFrame, iters: Int): DataFrame = {
    var ranks = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1000000L).as("pr"))
    for (_ <- 1 to iters) {
      val next = e.join(ranks.hint("shuffle_hash"), col("src") === col("node"))
        .select(col("dst"), expr("(pr * w) div sw").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("contribs"))
        .select(col("dst").as("node"),
          (lit(150000L) + expr("(85L * contribs) div 100L")).as("pr"))
      val prev = ranks
      ranks = next.pin(true)
      Pin.release(prev) // round r-1's blocks, as soon as round r lands
    }
    ranks
  }

  /** [[pageRank]] that also RETURNS the internal per-round state an
    * incremental maintainer needs: one row per (round, node) with the
    * round's contribution sum and rank. Round 0 carries the out-degree
    * in `contribs` and the uniform initial rank. The `pr` values are
    * bit-identical to [[pageRank]]'s (same integer arithmetic, same
    * join shapes), so state built here and ranks computed there anchor
    * the same oracle. */
  def pageRankStates(edges: DataFrame, iters: Int): DataFrame = {
    val ed = srcPartitionedDistinctEdges(edges)
    val deg = ed.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val e = ed.join(deg.hint("shuffle_hash"), "src")
    val round0 = deg.select(lit(0).as("round"), col("src").as("node"),
      col("outdeg").as("contribs"), lit(1000000L).as("pr"))
    var ranks = deg.select(col("src").as("node"), lit(1000000L).as("pr"))
    val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (i <- 1 to iters) {
      val next = e.join(ranks.hint("shuffle_hash"), col("src") === col("node"))
        .select(col("dst"), expr("pr div outdeg").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("contribs"))
        .select(col("dst").as("node"), col("contribs"),
          (lit(150000L) + expr("(85L * contribs) div 100L")).as("pr"))
        .pin(true)
      rounds += next.select(lit(i).as("round"), col("node"), col("contribs"), col("pr"))
      ranks = next.select(col("node"), col("pr"))
    }
    val all = (round0 +: rounds.toSeq).reduce(_ unionByName _).pin(true)
    Pin.release(ed)
    all
  }

  /** EXACT incremental maintenance of [[pageRankStates]] state for a
    * batch of new distinct edges — incremental view maintenance of the
    * fixed-round integer PageRank, not an approximation: the returned
    * state is bit-identical to a from-scratch [[pageRankStates]] over
    * the full edge set (spec-pinned), but the per-round COMPUTE is
    * proportional to the delta's blast radius, not the corpus.
    *
    * Per round r the only nodes whose round-r contribution sum can
    * change are the out-neighbors of `touched` nodes — those whose
    * round-(r-1) rank changed, or whose out-degree the batch changed
    * (which alters every contribution they emit). For each such
    * receiver the new sum is the stored sum minus the touched nodes'
    * old terms plus their new terms; since G_old = G_new \ delta, the
    * old-term sum over G_old rides the same single probe of the full
    * edge table as the new-term sum, corrected by a join against the
    * (small) delta. So each round costs: one shuffle-hash probe of the
    * src-partitioned edge table by the touched set (build side =
    * touched, nodes-scale at worst), one delta-sized join, and one
    * partial-agg'd sum over affected receivers — the full rank table
    * is never recomputed, only patched (anti-join + union against the
    * stored round). The 150000 + (85c) div 100 damping is re-applied
    * to patched contribution sums, so integer truncation composes
    * exactly rather than approximately.
    *
    * @param state      stored [[pageRankStates]] output for the OLD graph
    * @param fullEdges  the new full edge set (old ∪ delta; dups ok)
    * @param deltaEdges the NEW distinct directed edges only (must not
    *                   repeat edges already in the old graph)
    * @return patched state, same schema as [[pageRankStates]] */
  def pageRankIncrement(state: DataFrame, fullEdges: DataFrame,
                        deltaEdges: DataFrame, iters: Int): DataFrame = {
    val ed = srcPartitionedDistinctEdges(fullEdges)
    val dEff = deltaEdges.select(col("src"), col("dst")).distinct()
      .pin(true)
    val st = state.pin(false)
    val degOld = st.where(col("round") === 0)
      .select(col("node"), col("contribs").as("degOld"))
    // New degrees only where the batch added out-edges: degNew = degOld
    // + the node's delta out-count (delta-sized work, no full re-count).
    val degChanged = dEff.groupBy(col("src").as("node")).agg(count(lit(1)).as("dAdd"))
      .join(degOld.hint("shuffle_hash"), Seq("node"), "left")
      .select(col("node"), col("degOld"),
        (coalesce(col("degOld"), lit(0L)) + col("dAdd")).as("degNew"))
      .pin(true)
    val roundTables = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // Round 0 of the new state: old degrees patched with the changed ones.
    roundTables += degOld
      .join(degChanged.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), col("degOld").as("contribs"))
      .unionByName(degChanged.select(col("node"), col("degNew").as("contribs")))
      .select(lit(0).as("round"), col("node"), col("contribs"), lit(1000000L).as("pr"))
    // (node, prOld nullable, prNew) of nodes whose rank changed at the
    // previous round; empty before round 1 (rank 0 is uniform).
    var changed: DataFrame = null
    for (r <- 1 to iters) {
      val prevStored =
        if (r == 1) degOld.select(col("node"), lit(1000000L).as("prStored"))
        else st.where(col("round") === r - 1).select(col("node"), col("pr").as("prStored"))
      // The touched emitters: rank changed last round, or degree changed.
      val base = degChanged.select(col("node"), col("degNew"))
      val withChanged =
        if (changed == null) base
          .withColumn("prOldC", lit(null).cast("long"))
          .withColumn("prNewC", lit(null).cast("long"))
        else base.join(changed, Seq("node"), "full_outer")
      val touched = withChanged
        .join(prevStored.hint("shuffle_hash"), Seq("node"), "left")
        .join(degOld.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"),
          // old emitted term: absent for nodes the old graph never had
          coalesce(col("prOldC"), col("prStored")).as("prOldPrev"),
          // new rank last round; a degree-changed node whose rank did
          // not change keeps its stored rank (1e6 for brand-new nodes)
          coalesce(col("prNewC"), col("prStored"), lit(1000000L)).as("prNewPrev"),
          col("degOld"),
          coalesce(col("degNew"), col("degOld")).as("degNew"))
        .pin(true)
      val oldTerm = when(col("degOld").isNotNull && col("prOldPrev").isNotNull,
        expr("prOldPrev div degOld")).otherwise(lit(0L))
      val newTerm = expr("prNewPrev div degNew")
      // One probe of the full edge table by the touched set carries
      // both terms; the delta join adds back old terms the old graph
      // never emitted (G_old = G_new \ delta).
      val net = ed.join(touched.hint("shuffle_hash"), ed("src") === touched("node"))
        .select(col("dst"), (newTerm - oldTerm).as("d"))
        .groupBy(col("dst")).agg(sum(col("d")).as("dNet"))
      val corr = dEff.join(touched.hint("shuffle_hash"), dEff("src") === touched("node"))
        .select(col("dst"), oldTerm.as("d"))
        .groupBy(col("dst")).agg(sum(col("d")).as("dCorr"))
      val dAll = net.join(corr, Seq("dst"), "full_outer")
        .select(col("dst").as("node"),
          (coalesce(col("dNet"), lit(0L)) + coalesce(col("dCorr"), lit(0L))).as("dC"))
      val oldRound = st.where(col("round") === r)
        .select(col("node"), col("contribs").as("cOld"), col("pr").as("prOldR"))
      val patched = dAll.join(oldRound.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"), (coalesce(col("cOld"), lit(0L)) + col("dC")).as("contribs"),
          col("prOldR"))
        .withColumn("pr", lit(150000L) + expr("(85L * contribs) div 100L"))
        .pin(true)
      changed = patched
        .where(col("prOldR").isNull || col("pr") =!= col("prOldR"))
        .select(col("node"), col("prOldR").as("prOldC"), col("pr").as("prNewC"))
        .pin(true)
      roundTables += oldRound
        .join(patched.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), col("cOld").as("contribs"), col("prOldR").as("pr"))
        .unionByName(patched.select(col("node"), col("contribs"), col("pr")))
        .select(lit(r).as("round"), col("node"), col("contribs"), col("pr"))
    }
    val all = roundTables.toSeq.reduce(_ unionByName _).pin(true)
    Pin.release(ed)
    all
  }

  /** Exact triangle counting by degree-ordered edge orientation — the
    * standard distributed formulation (Suri & Vassilvitskii's MapReduce
    * variant of compact-forward counting): orient every undirected edge
    * from its (degree, id)-smaller endpoint to the larger, enumerate
    * wedges at the smaller endpoint, and close them against the
    * oriented edge set. Each triangle is found exactly once — at its
    * minimum-order vertex — and the wedge fan-out of high-degree hubs
    * is bounded because hubs receive edges instead of emitting them:
    * out-degrees in the oriented DAG are O(sqrt(|E|)) regardless of
    * skew, which is what makes the wedge join survive a power-law
    * graph at scale.
    *
    * All joins are equijoins on node ids; the oriented edge table (one
    * row per undirected edge) is pinned once and reused by both sides
    * of the wedge join and the closing probe.
    *
    * @param edges undirected simple edge list: DISTINCT (a, b) with
    *              a < b, long ids below 2^32.
    * @return (node, n_triangles) for every node on >= 1 triangle.
    */
  def triangles(edges: DataFrame): DataFrame = {
    // (degree, id) total order, encoded as one comparable long. Ids are
    // required < 2^32 and degree <= |V| < 2^32, so the encoding is
    // injective and overflow-free.
    val big = 1L << 32
    val deg = edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val rk = deg.select(col("node"), (col("deg") * big + col("node")).as("rk"))
    // Orient each edge toward the larger rank; keep the dst rank for
    // the wedge ordering. The rank table is node-sized (small next to
    // the edge list) — AQE broadcasts it onto the edge scan.
    val e = edges
      .join(rk.select(col("node").as("a"), col("rk").as("rka")), "a")
      .join(rk.select(col("node").as("b"), col("rk").as("rkb")), "b")
      .select(
        when(col("rka") < col("rkb"), col("a")).otherwise(col("b")).as("src"),
        when(col("rka") < col("rkb"), col("b")).otherwise(col("a")).as("dst"),
        greatest(col("rka"), col("rkb")).as("rkd"))
      .pin(false) // consumed 3x: two wedge sides + the close
    // Wedges (u -> v, u -> w) with rank(v) < rank(w), closed by the
    // oriented edge (v -> w). Inner join is exact: the edge set is
    // distinct, so each triangle materializes exactly once.
    val x = e.select(col("src").as("u"), col("dst").as("v"), col("rkd").as("rkv"))
    val y = e.select(col("src").as("u"), col("dst").as("w"), col("rkd").as("rkw"))
    val tri = x.join(y, Seq("u")).where(col("rkv") < col("rkw"))
      .join(e.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    tri.select(col("u").as("node"))
      .unionAll(tri.select(col("v").as("node")))
      .unionAll(tri.select(col("w").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007's LPA in its
    * deterministic fixed-round form): every node starts as its own
    * label; each round every node adopts the most frequent label among
    * its neighbors, ties to the SMALLEST label — both choices make the
    * algorithm a pure function of the graph, so the result is
    * hash-checkable (classic asynchronous LPA is order-dependent).
    *
    * Per round: one equijoin of the adjacency against the nodes-sized
    * label table, one partial-agg'd count on (node, label), and an
    * argmax via max(struct(count, -label)) — no window wider than one
    * node's neighbor-label set, no corpus-wide ordering anywhere.
    * Rounds are eagerly checkpointed so each round's plan stays one
    * join deep, and round r-1's blocks are released the moment round
    * r materializes — at most two label tables (plus the adjacency)
    * are pinned at any point, regardless of the round count (the same
    * pacing as [[pageRank]]).
    *
    * @param edges  undirected simple edge list: DISTINCT (a, b), a < b.
    * @param rounds synchronous update rounds.
    * @return (node, label) — label is the community representative.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    val adj = edges.select(col("a").as("u"), col("b").as("v"))
      .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
      .pin(false) // consumed once per round; released below
    var labels = adj.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      val prev = labels
      labels = adj.join(labels, col("v") === col("node"))
        .groupBy(col("u"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("u"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("u").as("node"), (-col("m.nl")).as("label"))
        .pin(true)
      Pin.release(prev)
    }
    // The adjacency is dead once the final round has materialized.
    Pin.release(adj)
    labels
  }

  /** Multi-source BFS: the exact hop distance from every node to its
    * NEAREST seed, bounded at `maxDepth` (nodes farther than that —
    * including unreachable ones — are omitted, which is the semantics
    * a bounded recursive-CTE oracle computes too). Synchronous
    * frontier expansion, so level = minimum distance by construction;
    * no arithmetic at all, hence trivially hash-exact.
    *
    * Scale shape, same discipline as [[pageRank]]: the edge list is
    * hash-partitioned on `src` once and persisted; each round moves
    * only the FRONTIER (at most nodes-sized, typically far smaller)
    * to the stationary edges via a shuffle-hash join, then anti-joins
    * the discovered set against the nodes-sized visited union. The
    * per-round cost is therefore ∝ the frontier's out-edge boundary —
    * the same blast-radius bound the incremental PageRank lives on —
    * and the loop EXITS EARLY the round the frontier drains (a
    * driver-side emptiness probe on an already-pinned table, not a
    * recompute). Each frontier is eagerly pinned once and serves
    * three masters (next round's probe, every later round's
    * anti-join, the final union) without recomputation; total pinned
    * state across all rounds is one row per reached node.
    *
    * @param edges directed edge list (src, dst); symmetrize upstream
    *              for undirected semantics. Repeats are deduplicated
    *              here, riding the src repartition.
    * @param seeds one `node` column; deduplicated here.
    * @return (node, dist) with dist in [0, maxDepth].
    */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = {
    val ed = srcPartitionedDistinctEdges(edges)
    val out = bfsDistancesOnEdges(ed, seeds, maxDepth)
    Pin.release(ed)
    out
  }

  /** The [[bfsDistances]] loop over an ALREADY-PREPARED distinct
    * src-partitioned edge table ([[distinctEdges]] shape, pinned by the
    * caller) — the traversal itself, with the caller owning the edge
    * table's lifecycle. Bit-identical to [[bfsDistances]]. */
  def bfsDistancesOnEdges(ed: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = {
    var frontier = seeds.select(col("node")).distinct().pin(true)
    val frontiers = scala.collection.mutable.ArrayBuffer(frontier)
    val levels = scala.collection.mutable.ArrayBuffer(
      frontier.select(col("node"), lit(0L).as("dist")))
    var d = 0L
    while (d < maxDepth && !frontier.isEmpty) {
      d += 1
      val seen = levels.map(_.select(col("node"))).reduce(_ unionAll _)
      frontier = ed
        .join(frontier.select(col("node").as("fn")).hint("shuffle_hash"),
          col("src") === col("fn"))
        .select(col("dst").as("node")).distinct()
        .join(seen, Seq("node"), "left_anti")
        .pin(true)
      frontiers += frontier
      levels += frontier.select(col("node"), lit(d).as("dist"))
    }
    // Flat union of the pinned per-level tables (the last may be empty
    // — a drained frontier is harmless in a union), re-pinned EAGERLY
    // as ONE result so every per-level pin can be released before
    // returning: at most the live levels are pinned DURING the call
    // and only the (reached-nodes-sized) result survives it — the
    // same leave-nothing-behind discipline as the other iterative
    // operators here.
    val out = levels.reduce(_ unionByName _).pin(true)
    frontiers.foreach(Pin.release)
    out
  }

  /** EXACT incremental maintenance of [[bfsDistances]] under EDGE
    * ADDITIONS — the BFS member of the stored-state IVM family
    * ([[pageRankIncrement]] for ranks, the incremental CC fold for
    * components). Additions can only SHORTEN hop distances, so the
    * stored table folds forward by monotone relaxation and the result
    * is EXACTLY the from-scratch BFS over (old ∪ delta) — not a
    * warm-start approximation. (Deletions are out of contract: they
    * can lengthen distances, which this fold never does.)
    *
    * Why bounded relaxation is exact: order improved nodes by their
    * new distance. The minimal one, w, has a new-shortest-path
    * predecessor p with a SMALLER new distance — hence p is
    * unimproved, d_new(p) = d_old(p) — and the edge (p, w) cannot be
    * an old edge (that would bound d_old(w) ≤ d_old(p) + 1 =
    * d_new(w), contradicting improvement), so w is adjacent to a
    * DELTA edge from a stored-correct node: exactly the seeding
    * round. Every other improved node's shortest path reaches it
    * from some improved node through ≤ maxDepth further hops (its
    * whole suffix is improved nodes, and emitted distances are
    * ≤ maxDepth), and each relaxation round advances improvements
    * one hop — so seeding + maxDepth rounds reach the fixpoint, and
    * the loop exits earlier the round improvements drain.
    *
    * Scale shape: the full edge list partitions once and stays put;
    * the seeding probes only the DELTA edges against the stored
    * distances, and each round probes the stationary edges with the
    * (typically tiny) improved set — cost ∝ the improvement's blast
    * radius, never the graph. The stored table is re-patched per
    * round via a nodes-sized min-merge, pinned eagerly with round
    * r-1 released as r lands.
    *
    * @param stored     (node, dist) as [[bfsDistances]] emitted for
    *                   the OLD graph (same seeds, same maxDepth).
    * @param fullEdges  the NEW graph's full directed edge list
    *                   (old ∪ delta, symmetrized upstream).
    * @param deltaEdges the added edges (symmetrized upstream); rows
    *                   already present in the old graph are harmless
    *                   (they relax to existing distances).
    * @return (node, dist) — bit-identical to a from-scratch
    *         [[bfsDistances]] over fullEdges. */
  def bfsIncrement(stored: DataFrame, fullEdges: DataFrame,
                   deltaEdges: DataFrame, maxDepth: Int): DataFrame = {
    val ed = srcPartitionedDistinctEdges(fullEdges)
    val dEff = deltaEdges.select(col("src"), col("dst")).distinct().pin(true)
    // The initial stored pin only survives until the first merge (or
    // the caller owns it, if no round improves anything).
    var dist = stored.select(col("node"), col("dist")).pin(false)
    // Seeding: relax every delta edge once from the stored distances.
    var improved = dEff
      .join(dist.select(col("node").as("fn"), col("dist").as("fd")).hint("shuffle_hash"),
        col("src") === col("fn"))
      .select(col("dst").as("node"), (col("fd") + 1L).as("nd"))
      .groupBy(col("node")).agg(min(col("nd")).as("nd"))
      .where(col("nd") <= maxDepth)
      .join(dist.withColumnRenamed("dist", "od"), Seq("node"), "left")
      .where(col("od").isNull || col("nd") < col("od"))
      .select(col("node"), col("nd"))
      .pin(true)
    var rounds = 0
    while (rounds < maxDepth && !improved.isEmpty) {
      rounds += 1
      val next = dist
        .join(improved.withColumnRenamed("nd", "imp"), Seq("node"), "full_outer")
        .select(col("node"), least(col("dist"), col("imp")).as("dist"))
        .pin(true)
      Pin.release(dist)
      dist = next
      val cand = ed
        .join(improved.select(col("node").as("fn"), col("nd").as("fd")).hint("shuffle_hash"),
          col("src") === col("fn"))
        .select(col("dst").as("node"), (col("fd") + 1L).as("nd"))
        .groupBy(col("node")).agg(min(col("nd")).as("nd"))
        .where(col("nd") <= maxDepth)
      val nextImproved = cand
        .join(dist.withColumnRenamed("dist", "od"), Seq("node"), "left")
        .where(col("od").isNull || col("nd") < col("od"))
        .select(col("node"), col("nd"))
        .pin(true)
      Pin.release(improved)
      improved = nextImproved
    }
    // The loop can only exit with an EMPTY improvement set: round-r
    // improvements satisfy nd >= r + 1 (seeding >= 1, each round
    // adds 1), so round maxDepth's candidates all fail the
    // nd <= maxDepth filter — `dist` IS the fixpoint. Transfer its
    // pin to the caller and release every other pin this call made.
    Seq(dEff, improved, ed).foreach(Pin.release)
    dist
  }

  /** Weighted-edge iteration prologue, the [[srcPartitionedDistinctEdges]]
    * sibling: collapse parallel edges to their MIN weight riding a src
    * repartition (HashPartitioning(src) satisfies the (src, dst)
    * clustering, so the aggregate adds no exchange) and persist — only
    * the cheapest parallel edge can ever lie on a shortest path, so the
    * collapse is semantics-preserving and shrinks every round's probe. */
  private def srcPartitionedMinWeightEdges(edges: DataFrame): DataFrame =
    minWeightEdges(edges).pinPartitioned

  /** The UNPINNED min-weight iteration edge table — the weighted
    * sibling of [[distinctEdges]] for callers that pin it themselves
    * and run [[ssspDistancesOnEdges]]. */
  def minWeightEdges(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), col("w"))
      .repartition(col("src"))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
      // The w >= 1 contract is load-bearing (the maxCost+1 round bound
      // and the nd <= maxCost candidate filter both assume it): a w <= 0
      // edge would silently exit relaxation BEFORE the fixpoint and
      // return wrong distances. Fail loudly instead — one comparison per
      // collapsed edge riding the aggregate's output projection, and
      // prune-proof because the guarded column is the one consumed
      // downstream.
      .select(col("src"), col("dst"),
        when(col("w") < 1L, raise_error(concat(
          lit("ssspDistances requires integer edge weights >= 1, got w="),
          col("w"), lit(" on edge src="), col("src"), lit(" dst="), col("dst"))))
          .otherwise(col("w")).as("w"))

  /** COST-BOUNDED weighted shortest paths by synchronous delta
    * relaxation (Bellman–Ford restricted to last-round-improved
    * sources) — the weighted sibling of [[bfsDistances]]. Semantics:
    * for every node reachable from the seed set at total edge weight
    * <= maxCost, the EXACT minimum path weight (integer weights >= 1;
    * parallel edges collapse to their min). The cost budget — not a
    * hop bound — is the contract because it composes with monotone
    * relaxation: any path of weight <= maxCost has <= maxCost edges
    * (weights >= 1) and every prefix under the cap, so <= maxCost + 1
    * relaxation rounds provably reach the fixpoint, the per-candidate
    * `nd <= maxCost` filter makes round budgets self-limiting, and the
    * SAME cap bounds the oracle's recursive CTE (the UNION-deduplicated
    * (node, d) walk space is nodes x maxCost, not the path count).
    *
    * Scale shape: identical to BFS — edges hash-partition once and
    * stay put; each round probes the stationary edges with the
    * (shrinking) improved set via shuffle-hash, one partial-agg'd min
    * per relaxation, distances merged by a nodes-sized least-merge
    * with round r-1's pin released as r lands, early exit the round
    * improvements drain.
    *
    * @param edges   (src, dst, w) with integer w >= 1; repeats collapse
    *                to min weight here; symmetrize upstream.
    * @param seeds   one `node` column; deduplicated here.
    * @param maxCost inclusive total-weight budget.
    * @return (node, dist) with dist in [0, maxCost]. */
  def ssspDistances(edges: DataFrame, seeds: DataFrame, maxCost: Long): DataFrame = {
    val ed = srcPartitionedMinWeightEdges(edges)
    val out = ssspDistancesOnEdges(ed, seeds, maxCost)
    Pin.release(ed)
    out
  }

  /** The [[ssspDistances]] relaxation over an ALREADY-PREPARED
    * [[minWeightEdges]] table (pinned by the caller) — bit-identical,
    * caller owns the edge table's lifecycle. */
  def ssspDistancesOnEdges(ed: DataFrame, seeds: DataFrame, maxCost: Long): DataFrame = {
    val dist0 = seeds.select(col("node")).distinct()
      .select(col("node"), lit(0L).as("dist")).pin(true)
    relaxToFixpoint(ed, dist0, dist0, maxCost)
  }

  /** EXACT incremental maintenance of [[ssspDistances]] under EDGE
    * ADDITIONS AND WEIGHT DECREASES — the weighted member of the
    * stored-state IVM family, sharing [[bfsIncrement]]'s
    * minimal-improved-node proof with `+ w` in place of `+ 1`: order
    * improved nodes by new distance; the minimal one, v, has a
    * new-cheapest-path predecessor p at strictly smaller new distance
    * (w >= 1), hence p is unimproved and stored-correct — and the edge
    * (p, v) at its NEW weight cannot have existed in the old graph
    * (that would bound the old distance by the new one, contradicting
    * improvement), so (p, v, w) is a DELTA row and seeding relaxes it.
    * Every other improved node's cheapest path reaches it through a
    * suffix of improved nodes with <= maxCost further weight (hence
    * <= maxCost further edges), one relaxation round per edge. Weight
    * INCREASES and deletions are out of contract (they can lengthen
    * distances, which monotone relaxation never does) — upstream this
    * is guaranteed by deriving weights from count-monotone facts.
    *
    * @param stored     (node, dist) as [[ssspDistances]] emitted for
    *                   the OLD graph (same seeds, same maxCost).
    * @param fullEdges  the NEW graph's full weighted edge list.
    * @param deltaEdges the (src, dst, w) rows of the new list absent
    *                   from the old one (new pairs or cheapened
    *                   weights); stale rows are harmless.
    * @return (node, dist) — bit-identical to a from-scratch
    *         [[ssspDistances]] over fullEdges. */
  def ssspIncrement(stored: DataFrame, fullEdges: DataFrame,
                    deltaEdges: DataFrame, maxCost: Long): DataFrame = {
    val ed = srcPartitionedMinWeightEdges(fullEdges)
    val dEff = deltaEdges.select(col("src"), col("dst"), col("w")).distinct().pin(true)
    val dist0 = stored.select(col("node"), col("dist")).pin(false)
    // Seeding: relax every delta edge once from the stored distances.
    val improved0 = dEff
      .join(dist0.select(col("node").as("fn"), col("dist").as("fd")).hint("shuffle_hash"),
        col("src") === col("fn"))
      .select(col("dst").as("node"), (col("fd") + col("w")).as("nd"))
      .where(col("nd") <= maxCost)
      .groupBy(col("node")).agg(min(col("nd")).as("nd"))
      .join(dist0.withColumnRenamed("dist", "od"), Seq("node"), "left")
      .where(col("od").isNull || col("nd") < col("od"))
      .select(col("node"), col("nd").as("dist"))
      .pin(true)
    val out = relaxToFixpoint(ed, dist0, improved0, maxCost)
    Seq(dEff, ed).foreach(Pin.release)
    out
  }

  /** The shared weighted relaxation loop: merge the improvement set
    * into the distance table (nodes-sized least-merge), relax the
    * stationary edges from it, keep only candidates strictly better
    * than the merged table, repeat. `maxCost + 1` rounds are always
    * enough (see [[ssspDistances]]); the loop exits the round
    * improvements drain, releasing every superseded pin (`dist0` and
    * `improved0` included) as it goes and transferring only the
    * fixpoint's pin to the caller. `dist0` and `improved0` may be the
    * SAME pinned table (the from-scratch seeding): it is kept until
    * both roles are superseded, and returned if no round runs. */
  private def relaxToFixpoint(ed: DataFrame, dist0: DataFrame,
                              improved0: DataFrame, maxCost: Long): DataFrame = {
    var dist = dist0
    var improved = improved0
    var rounds = 0L
    while (rounds <= maxCost && !improved.isEmpty) {
      rounds += 1
      val merged = dist
        .join(improved.withColumnRenamed("dist", "imp"), Seq("node"), "full_outer")
        .select(col("node"), least(col("dist"), col("imp")).as("dist"))
        .pin(true)
      if (!(dist eq improved)) Pin.release(dist)
      dist = merged
      val nextImproved = ed
        .join(improved.select(col("node").as("fn"), col("dist").as("fd")).hint("shuffle_hash"),
          col("src") === col("fn"))
        .select(col("dst").as("node"), (col("fd") + col("w")).as("nd"))
        .where(col("nd") <= maxCost)
        .groupBy(col("node")).agg(min(col("nd")).as("nd"))
        .join(dist.withColumnRenamed("dist", "od"), Seq("node"), "left")
        .where(col("od").isNull || col("nd") < col("od"))
        .select(col("node"), col("nd").as("dist"))
        .pin(true)
      Pin.release(improved)
      improved = nextImproved
    }
    if (!(improved eq dist)) Pin.release(improved)
    dist
  }
}
