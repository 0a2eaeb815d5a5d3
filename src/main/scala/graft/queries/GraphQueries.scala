package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Pin.PinOps
import graft.operators.Graph
import graft.sources.TableLoader

/** Graph analytics over relations derived from the lake. The
  * customer–supplier purchase graph (who bought through whom) is the
  * lake's natural interaction graph; PageRank over its symmetrized
  * edges ranks suppliers by how central they are to well-connected
  * customers — the classic importance measure a recommendation or
  * risk pipeline derives from transactional data.
  */
object GraphQueries {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    TableLoader.load(spark, dir, name)

  /** PageRank over the bipartite customer–supplier graph, top 25.
    *
    * Nodes are key-disjoint longs (customer c -> 2c, supplier s ->
    * 2s+1); edges are the DISTINCT (customer, supplier) purchase pairs
    * from orders |><| lineitem, symmetrized so every node has out-
    * degree >= 1 (no dangling mass). 5 synchronous iterations of the
    * fixed-point integer PageRank in [[graft.operators.Graph]] — the
    * DuckDB oracle unrolls the identical 5 rounds as chained CTEs, so
    * the check is hash-exact, not rows-only.
    *
    * Scale: the distinct-pair edge derivation is one shuffle on the
    * join key plus one on the pair; each iteration shuffles edge
    * contributions once. At 100 TB the edge list is the big side and
    * the rank table the small one — exactly the asymmetry this join
    * orientation exploits.
    */
  /** Symmetrized purchase edge list, derived in ONE shuffle and
    * memoized per (session, dir): broadcast the key-projected orders
    * side onto the lineitem scan (map-side join), symmetrize BEFORE
    * deduplicating, and let pageRank's repartition-by-src carry the
    * distinct — HashPartitioning(src) satisfies the (src, dst)
    * clustering, so the dedup is partition-local. Both PageRank
    * variants consume this one pinned table (the weighted one adds its
    * unit weight column on top) instead of re-deriving it. */
  private def purchaseEdges(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PlanCache.memo(spark, s"graph:purchase-edges:$dir") {
      val raw = t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(broadcast(t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      raw.select(col("c").as("src"), col("s").as("dst"))
        .unionAll(raw.select(col("s").as("src"), col("c").as("dst"))).pin(false)
    }

  /** The degree-annotated PageRank edge table ([[Graph.degreeEdges]]),
    * memoized PERSISTED per (session, dir): `pinPartitioned` (not a
    * checkpoint) is what carries HashPartitioning(src) into every
    * consumer, so per-round joins never re-shuffle the edges — and the
    * one-shuffle dedup + degree join runs once per session instead of
    * once per query call (it was ~25-35% of every graph query's warm
    * time at sf0.1; the BFS traversal projects (src, dst) off the same
    * table, partitioning intact). */
  private def degreedPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PlanCache.memo(spark, s"graph:pe-degreed:$dir") {
      Graph.degreeEdges(purchaseEdges(spark, dir)).pinPartitioned
    }

  def qPageRank(spark: SparkSession, dir: String): DataFrame = {
    val ranked = Graph.pageRankOnDegreed(degreedPurchaseEdges(spark, dir), iters = 5)
    // Global top-25 via orderBy+limit (TakeOrderedAndProject: partition
    // heaps + driver merge), then rank only the 25 survivors — no
    // single-partition window ever sees the full node table.
    val top = ranked.orderBy(col("pr").desc, col("node")).limit(25)
    val w = Window.orderBy(col("pr").desc, col("node"))
    top.withColumn("rnk", row_number().over(w))
      .select(col("rnk").cast("int").as("rnk"), col("node"),
        (col("node") % 2).cast("int").as("is_supplier"), col("pr"))
      .orderBy(col("rnk"))
  }

  /** WEIGHTED PageRank over the purchase graph, top 25 — the variant
    * a real supplier-importance ranking wants: where [[qPageRank]]
    * deduplicates the (customer, supplier) pairs and so treats a
    * 40-order relationship like a 1-order one, this keeps the lineitem
    * multiplicity as the edge weight and splits each node's rank
    * proportionally ([[Graph.pageRankWeighted]]'s `(pr * w) div sw`).
    * Same node encoding, same 5 synchronous integer rounds, same
    * unrolled-CTE oracle shape — hash-exact, not rows-only.
    *
    * Scale: identical to the unweighted query except the edge
    * derivation's dedup becomes a weight-summing aggregate on the
    * same keys (same shuffle), and the per-round join carries one
    * extra long column. */
  /** [[degreedPurchaseEdges]]' weighted sibling
    * ([[Graph.weightedDegreeEdges]] over unit weights — parallel edges
    * sum to the multiplicity), memoized persisted for the same
    * partitioning-and-once-per-session reasons. */
  private def weightedDegreedPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PlanCache.memo(spark, s"graph:pe-wdegreed:$dir") {
      Graph.weightedDegreeEdges(purchaseEdges(spark, dir).withColumn("w", lit(1L))).pinPartitioned
    }

  def qPageRankWeighted(spark: SparkSession, dir: String): DataFrame = {
    val ranked = Graph.pageRankWeightedOnEdges(
      weightedDegreedPurchaseEdges(spark, dir), iters = 5)
    val top = ranked.orderBy(col("pr").desc, col("node")).limit(25)
    val w = Window.orderBy(col("pr").desc, col("node"))
    top.withColumn("rnk", row_number().over(w))
      .select(col("rnk").cast("int").as("rnk"), col("node"),
        (col("node") % 2).cast("int").as("is_supplier"), col("pr"))
      .orderBy(col("rnk"))
  }

  /** Symmetrized DISTINCT purchase pairs for a subset of orders — the
    * historical/delta split [[qPageRankInc]] builds its stored state
    * over (same derivation as [[purchaseEdges]], restricted pre-join
    * so the filter pushes into the orders scan). */
  private def symPairs(spark: SparkSession, dir: String,
                       ordersFilter: org.apache.spark.sql.Column): DataFrame = {
    val raw = t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      .join(broadcast(t(spark, dir, "orders").where(ordersFilter)
        .select(col("o_orderkey"), col("o_custkey"))),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
    raw.select(col("c").as("src"), col("s").as("dst"))
      .unionAll(raw.select(col("s").as("src"), col("c").as("dst")))
      .distinct()
  }

  /** Lake root of the stored per-round PageRank state (contribution
    * sums + ranks per round, [[Graph.pageRankStates]] schema). */
  private def pagerankStateRoot(spark: SparkSession, dir: String): String =
    graft.sinks.LakeRoot.root(spark, dir, "pagerank_state_v1")

  /** INCREMENTALLY-MAINTAINED PageRank — the graph member of the
    * stored-state lifecycle family (lexical index: text_bm25_inc;
    * vector indexes: ann_ivf_stored/ann_ivf_stream): the per-round
    * contribution state of the 5-round integer PageRank over the
    * HISTORICAL purchase graph (orders with o_orderkey % 16 != 0) is
    * committed once through [[graft.sinks.VersionedTable]], and the
    * delta batch (the remaining ~1/16 of orders) is folded in by
    * [[Graph.pageRankIncrement]] — EXACT incremental view
    * maintenance, not warm-start approximation: per round, only the
    * out-neighbors of nodes whose rank or out-degree the delta
    * touched are re-scored (stored sums patched by subtracted old
    * terms + added new terms, damping re-applied so integer
    * truncation composes exactly). The folded state is committed as
    * the next version and serving reads the batch-marked snapshot.
    * Build-once guards and serve-time version selection key on
    * content markers (the bm25_inc contract — race-safe under
    * renumbering). The ORACLE is from-scratch 5-round PageRank over
    * the FULL graph (graph_pagerank's SQL verbatim), so the driver's
    * hash check proves the incremental fold is lossless, and the
    * output shape matches [[qPageRank]] row for row. */
  def qPageRankInc(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.VersionedTable
    val root = pagerankStateRoot(spark, dir)
    val isDelta = col("o_orderkey") % 16 === 0
    def ensure(part: String, build: => DataFrame): Long =
      VersionedTable.ensurePart(spark, root, part)(build)
    val vHist = ensure("historical",
      Graph.pageRankStates(symPairs(spark, dir, !isDelta), iters = 5))
    val vFull = ensure("batch", {
      val hist = symPairs(spark, dir, !isDelta)
      // Only edges the old graph does not already have perturb ranks.
      val dEff = symPairs(spark, dir, isDelta)
        .join(hist, Seq("src", "dst"), "left_anti")
      Graph.pageRankIncrement(VersionedTable.read(spark, root, Some(vHist)),
        purchaseEdges(spark, dir), dEff, iters = 5)
    })
    val ranks = VersionedTable.read(spark, root, Some(vFull))
      .where(col("round") === 5).select(col("node"), col("pr"))
    val top = ranks.orderBy(col("pr").desc, col("node")).limit(25)
    val w = Window.orderBy(col("pr").desc, col("node"))
    top.withColumn("rnk", row_number().over(w))
      .select(col("rnk").cast("int").as("rnk"), col("node"),
        (col("node") % 2).cast("int").as("is_supplier"), col("pr"))
      .orderBy(col("rnk"))
  }

  /** STREAMED maintenance of the stored PageRank state — the graph
    * twin of `ann_ivf_stream`/`text_bm25_inc`'s streaming index
    * loops, closing the build→stream→serve lifecycle for the graph
    * family: the orders table is replayed as a real Structured
    * Streaming file stream, and each micro-batch's genuinely NEW
    * purchase edges are folded into the lake-stored per-round state
    * by [[Graph.pageRankIncrement]] — exact incremental view
    * maintenance per batch, so the final state is bit-identical to a
    * from-scratch run over the full graph and the query shares
    * `graph_pagerank`'s DuckDB oracle verbatim (the driver hash
    * proves the whole streamed fold chain lossless).
    *
    * Two versioned roots, one commit protocol: per batch, the edge
    * DELTA (batch edges anti-joined against all previously stored
    * edges — orders can repeat a (customer, supplier) pair) lands in
    * the edges root first, then the folded state lands in the state
    * root; BOTH carry the batch's `_batch_id` marker, and the STATE
    * marker is the batch's commit point. Replay (same checkpoint, or
    * a crash between the two commits) is safe: a batch whose state
    * marker survives is skipped outright, and a surviving edges
    * marker without its state marker means the delta landed but the
    * fold crashed — the delta version is REUSED (selected by marker
    * family AND value, [[graft.sinks.VersionedTable.versionsWithMarkerValue]]
    * — a family-only match would see every batch's marker and the
    * recovery branch would be dead code), never re-committed, and only
    * the fold re-runs (GraphIncSpec's crash-injection case pins this).
    * An empty effective delta still lands its markers (the ledger must
    * be gapless) but re-lands the prior state unchanged.
    *
    * Scale — per batch, honestly separated into compute and input:
    * edge DERIVATION and the anti-join SHUFFLE cost ∝ the batch (the
    * stored-edge side is pre-pruned by a Bloom filter over the batch's
    * edge keys before the anti-join, so only ~batch-sized survivors
    * shuffle; dropping non-matching build rows cannot change an
    * anti-join result); the anti-join's input SCAN is the stored
    * distinct edge set — ∝ the GRAPH (stored versions are disjoint
    * deltas, so total rows = |E| however many batches ran), not the
    * batch, and that is the floor an exact "never seen before" test
    * pays without a keyed index. The listing/file-count debt of one
    * version per batch forever is retired in-loop:
    * after each commit point the edges root past
    * `spark.graft.stream.edgesFoldBudget` (default 4) versions is
    * folded+compacted ([[graft.sinks.VersionedTable.foldHistory]] —
    * marker ledger carried at family max; safe here because a fold
    * only ever runs AFTER the batch's state marker landed, so
    * per-value recovery lookups never need a folded-away delta). The
    * incremental fold's per-round compute ∝ the delta's blast radius
    * ([[Graph.pageRankIncrement]]); serving is one pruned read of the
    * newest state version. The stream never recomputes history. */
  def qPageRankStream(spark: SparkSession, dir: String): DataFrame = {
    val ranksAll = streamedGraphState(spark, dir, "pagerank_stream_v1")(
      firstEdges => Graph.pageRankStates(firstEdges, iters = 5))(
      (prev, fullEdges, dEff) =>
        Graph.pageRankIncrement(prev, fullEdges, dEff, iters = 5))
    val ranks = ranksAll
      .where(col("round") === 5).select(col("node"), col("pr"))
    val top = ranks.orderBy(col("pr").desc, col("node")).limit(25)
    val w = Window.orderBy(col("pr").desc, col("node"))
    top.withColumn("rnk", row_number().over(w))
      .select(col("rnk").cast("int").as("rnk"), col("node"),
        (col("node") % 2).cast("int").as("is_supplier"), col("pr"))
      .orderBy(col("rnk"))
  }

  /** STREAMED maintenance of the stored BFS distances — the second
    * operator on the SAME streamed-fold harness as [[qPageRankStream]]
    * (one ledger implementation, N operators): per micro-batch, the
    * genuinely new purchase edges land in the edges root, then the
    * monotone-relaxation fold ([[Graph.bfsIncrement]]) lands the
    * patched distances in the state root under the same dual-root
    * `_batch_id` marker protocol (state marker = commit point; a
    * crash between the two commits reuses the landed delta). The
    * final state is bit-identical to from-scratch BFS over the full
    * graph, so the query rides graph_bfs's recursive-CTE oracle
    * VERBATIM — the driver hash proves the whole streamed fold chain
    * lossless. Per-batch costs are the harness's (delta-sized
    * derivation and Bloom-pruned anti-join, fold ∝ the improvement's
    * blast radius, in-loop edges-root fold+compaction past the
    * version budget); serving is one pruned read of the newest state
    * version. */
  def qGraphBfsStream(spark: SparkSession, dir: String): DataFrame = {
    val seeds = bfsSeeds(spark, dir)
    streamedGraphState(spark, dir, "bfs_stream_v1")(
      firstEdges => Graph.bfsDistances(firstEdges, seeds, maxDepth = 6))(
      (prev, fullEdges, dEff) =>
        Graph.bfsIncrement(prev, fullEdges, dEff, maxDepth = 6))
      .select(col("node"), col("dist"),
        (col("node") % 2).cast("int").as("is_supplier"))
      .orderBy(col("node"))
  }

  /** The operator-generic streamed-fold harness behind
    * [[qPageRankStream]] and [[qGraphBfsStream]]: replays the orders
    * table as a real Structured Streaming file stream, derives each
    * micro-batch's effective edge delta, and maintains lake-stored
    * operator state under the dual-root `_batch_id` marker ledger
    * documented on [[qPageRankStream]]. `buildState` builds the state
    * from the FIRST batch's edges; `foldState(prev, fullEdges, dEff)`
    * folds a later batch's delta into the previous state given the
    * full stored edge set. Returns the newest committed state. */
  /** SET-SEMANTICS wrapper over [[streamedFoldState]] — the form
    * PageRank and BFS ride: the edge root stores DISTINCT symmetrized
    * purchase pairs, a batch's landed delta is its genuinely-new edges
    * (Bloom-pruned anti-join against the stored set, so the build side
    * is ~batch-sized), and the fold sees the full edge set as
    * prior ∪ delta (disjoint by construction — identical rows to the
    * old readAll). */
  private def streamedGraphState(spark: SparkSession, dir: String, rootName: String)(
      buildState: DataFrame => DataFrame)(
      foldState: (DataFrame, DataFrame, DataFrame) => DataFrame): DataFrame = {
    def edgesOf(s: SparkSession, orders: DataFrame): DataFrame = {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val raw = li.join(broadcast(orders.select(col("o_orderkey"), col("o_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      raw.select(col("c").as("src"), col("s").as("dst"))
        .unionAll(raw.select(col("s").as("src"), col("c").as("dst")))
        .distinct()
    }
    streamedFoldState(spark, dir, rootName)(
      landDelta = (s, batch, prior) => prior match {
        case None => edgesOf(s, batch)
        case Some(p) =>
          // Pinned: feeds the Bloom build AND the anti-join.
          val batchE = edgesOf(s, batch).pin(false)
          // Pre-prune the stored-edge build side to ~batch size:
          // xxhash64(src, dst) is a sound Bloom key for the
          // (src, dst) pair (equal pairs hash equal — no false
          // negatives; hash/Bloom false positives only ADD
          // build rows, which the exact anti-join then ignores).
          val bloom = graft.operators.Bloom.buildBitset(
            batchE.select(xxhash64(col("src"), col("dst")).as("k")), "k")
          val pruned = p.where(graft.operators.Bloom.mightContain(
            s, xxhash64(col("src"), col("dst")), bloom, 3))
          batchE.join(pruned, Seq("src", "dst"), "left_anti")
      },
      buildState = buildState,
      foldState = (prev, prior, dEff) => foldState(prev, prior.unionAll(dEff), dEff))
  }

  /** The operator-GENERIC streamed-fold harness: one dual-root
    * `_batch_id` ledger implementation serving every stored-state
    * iterative operator (PageRank, BFS, and r11's weighted SSSP). The
    * variation points are three closures; the ledger, crash recovery,
    * retention folding, and serve-time version selection never fork:
    *
    *  - `landDelta(session, batchOrders, priorRowsIfAny)` derives the
    *    rows this batch lands in the fact root (set deltas for the
    *    unweighted graphs; per-batch additive pair counts for SSSP —
    *    what "delta" means is the OPERATOR's business);
    *  - `buildState(firstDelta)` builds the first state version;
    *  - `foldState(prevState, priorRows, landedDelta)` folds one
    *    batch's landed rows into the stored state, seeing the fact
    *    root's history split exactly at this batch (prior strictly
    *    excludes it, on the recovery path too — versions other than
    *    the batch's own are re-read individually).
    *
    * Per-batch cost ∝ the batch at any history length: the commit
    * point is the STATE marker, a crash replay re-reads its
    * already-landed delta version by marker VALUE, and the fact root
    * is history-folded past `spark.graft.stream.edgesFoldBudget`
    * versions ([[VersionedTable.foldHistory]] preserves rows verbatim,
    * so additive count facts survive compaction as soundly as set
    * rows). */
  private def streamedFoldState(spark: SparkSession, dir: String, rootName: String)(
      landDelta: (SparkSession, DataFrame, Option[DataFrame]) => DataFrame,
      buildState: DataFrame => DataFrame,
      foldState: (DataFrame, DataFrame, DataFrame) => DataFrame): DataFrame = {
    import graft.sinks.{LakeRoot, VersionedTable}
    val base = LakeRoot.root(spark, dir, rootName)
    LakeRoot.mkdirs(spark, base)
    // Replayable source fixture: the orders slice as 3 parquet files,
    // staged + renamed (Hadoop FS, scheme-preserving) so a concurrent
    // first run never sees a tear.
    val src = LakeRoot.fixture(spark, LakeRoot.child(base, "src")) { staging =>
      t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .repartition(3).write.mode("overwrite").parquet(staging)
    }
    val edgesRoot = LakeRoot.child(base, "edges")
    val stateRoot = LakeRoot.child(base, "state")
    val foldBudget = spark.conf.getOption("spark.graft.stream.edgesFoldBudget")
      .map(_.toInt).getOrElse(4)
    val stream = spark.readStream.schema(TableLoader.schemaOf(spark, src))
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // Commit point = the STATE marker: skip fully-landed batches.
        if (VersionedTable.maxMarker(s, stateRoot, "batch_id").forall(_ < batchId)) {
          val marker = s"_batch_id_$batchId"
          // The batch's landed delta plus the fact history STRICTLY
          // BEFORE it — on the recovery path (delta version already
          // landed, state marker missing) prior is rebuilt from every
          // OTHER version, so the fold's split point is identical on
          // both paths.
          val (dEff, prior) = VersionedTable
            .versionsWithMarkerValue(s, edgesRoot, "batch_id", batchId)
            .headOption match {
            case Some(v) =>
              val others = VersionedTable.versions(s, edgesRoot).filterNot(_ == v)
              val p = if (others.isEmpty) None
                else Some(others.map(ov => VersionedTable.read(s, edgesRoot, Some(ov)))
                  .reduce(_ unionAll _))
              (VersionedTable.read(s, edgesRoot, Some(v)), p)
            case None =>
              val p = if (VersionedTable.versions(s, edgesRoot).isEmpty) None
                else Some(VersionedTable.readAll(s, edgesRoot))
              val d = landDelta(s, batch, p).pin(false)
              VersionedTable.commit(d, edgesRoot, markers = Seq(marker))
              (d, p)
          }
          val prevState = VersionedTable.versionsWithMarker(s, stateRoot, "batch_id")
            .lastOption.map(v => VersionedTable.read(s, stateRoot, Some(v)))
          val state = (prevState, dEff.isEmpty) match {
            case (None, _) => buildState(dEff)
            case (Some(p), true) => p // nothing new: re-land unchanged
            case (Some(p), false) => foldState(p, prior.get, dEff)
          }
          VersionedTable.commit(state, stateRoot, markers = Seq(marker))
          // Retention, strictly after the commit point: bound the edge
          // root's version listing (and its small-file count — the fold
          // output is born compacted) so per-batch listings and scans
          // stay ∝ the graph however long the stream runs. Ordering
          // invariant: folding before the state marker landed could
          // merge THIS batch's delta away while recovery still needs it.
          if (VersionedTable.versions(s, edgesRoot).size > foldBudget)
            VersionedTable.foldHistory(s, edgesRoot)
          ()
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", LakeRoot.child(base, "ckpt"))
      .start()
    q.awaitTermination()
    val vServe = VersionedTable.versionsWithMarker(spark, stateRoot, "batch_id").last
    VersionedTable.read(spark, stateRoot, Some(vServe))
  }

  /** Triangle counts over the mutual-top-5 co-supplier graph, top 50.
    *
    * Two suppliers are adjacent when either ranks the other among its
    * 5 strongest co-suppliers (most shared orders, supplier id as the
    * tie-break) — the standard kNN sparsification that keeps the graph
    * bounded-degree (<= 10 after symmetrization) at EVERY scale, where
    * a raw co-occurrence graph saturates toward a clique as the lake
    * grows. Triangles — the community-cohesion primitive — are then
    * counted exactly by [[Graph.triangles]]'s degree-ordered
    * orientation. Hash-exact oracle: DuckDB replicates the same
    * ranking, sparsification, orientation, and wedge close.
    *
    * Scale shape: the co-occurrence derivation is one shuffle on the
    * order key (suppliers per order is bounded by order size) plus one
    * on the pair; the partner ranking windows by supplier — high
    * cardinality, never global; the wedge join runs on the oriented
    * bounded-degree edge list. No stage depends on corpus-wide order.
    */
  def qTriangles(spark: SparkSession, dir: String): DataFrame =
    Graph.triangles(coSupplierEdges(spark, dir))
      .orderBy(col("n_triangles").desc, col("node"))
      .limit(50)

  /** Mutual-top-5 co-supplier graph: undirected simple edges (a < b).
    *
    * Per-order supplier sets (collect_set partial-aggregates map-side
    * and is bounded by order size), pairs expanded map-side from each
    * set — one shuffle on the order key and one on the pair, where a
    * distinct + self-join formulation pays a third shuffle and
    * materializes the join. The partner ranking windows by supplier
    * (high cardinality, never global); keeping each supplier's top 5
    * by shared orders is the kNN sparsification that bounds degree
    * (<= 10 after symmetrization) at every scale, where the raw
    * co-occurrence graph saturates toward a clique.
    *
    * Memoized per (session, dir): triangles and label propagation both
    * consume this table, so the second caller reuses the pinned blocks
    * instead of re-running the two shuffles and the window. */
  private def coSupplierEdges(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PlanCache.memo(spark, s"graph:co-supplier-edges:$dir") {
      coSupplierEdgesUncached(spark, dir).pin(false)
    }

  private def coSupplierEdgesUncached(spark: SparkSession, dir: String): DataFrame = {
    val pairs = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_suppkey")).as("sups"))
      .select(explode(expr(
        "flatten(transform(sups, x -> transform(filter(sups, y -> y > x), " +
          "y -> struct(x AS a, y AS b))))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_orders"))
    val adj = pairs.select(col("a").as("s"), col("b").as("p"), col("n_orders"))
      .unionAll(pairs.select(col("b").as("s"), col("a").as("p"), col("n_orders")))
    val w = Window.partitionBy(col("s")).orderBy(col("n_orders").desc, col("p"))
    adj.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .select(least(col("s"), col("p")).as("a"), greatest(col("s"), col("p")).as("b"))
      .distinct()
  }

  /** Synchronous label propagation (community detection) over the
    * mutual-top-5 co-supplier graph, 4 rounds: every node starts as
    * its own label and each round adopts the most frequent label among
    * its neighbors (ties to the smallest label) — the deterministic
    * fixed-round variant of Raghavan et al. 2007's LPA, the cheap
    * community detector that complements PageRank (importance),
    * triangles (cohesion), and connected components (reachability).
    *
    * Per round: one equijoin of the bounded-degree adjacency against
    * the nodes-sized label table, one partial-agg'd count on
    * (node, label), and an argmax by max(struct(count, -label)) — no
    * window over anything larger than a node's neighbor labels. The
    * DuckDB oracle unrolls the identical 4 rounds as chained CTEs, so
    * the check is hash-exact. Output: each node's community and the
    * community's size, ordered by node. */
  def qLabelProp(spark: SparkSession, dir: String): DataFrame = {
    val labels = Graph.labelPropagation(coSupplierEdges(spark, dir), rounds = 4)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "label")
      .select(col("node"), col("label").as("community"), col("community_size"))
      .orderBy(col("node"))
  }

  /** The BFS seed set — nation-0 customers in the purchase-graph node
    * encoding. ONE definition shared by graph_bfs / graph_bfs_inc /
    * graph_bfs_stream (which share one oracle: a drifting copy would
    * fail the other two's hash gates for a non-obvious reason); must
    * stay in lockstep with the seeds CTE in OracleSql.bfsSql. */
  private def bfsSeeds(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .where(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).as("node"))

  /** Hop distance from every purchase-graph node to its nearest
    * nation-0 customer ([[Graph.bfsDistances]], depth <= 6) — the
    * reachability/proximity primitive the graph family still lacked
    * (PageRank answers "how central", BFS answers "how far"): which
    * suppliers are one order away from a market, which customers
    * share no supply chain with it at all (omitted rows). Multi-source
    * from the whole seed set in ONE traversal — 1 query, not
    * |seeds| — and every emitted distance is the exact minimum over
    * all seeds because synchronous frontier level IS distance.
    *
    * Hash-exact oracle: a bounded recursive CTE over the same edge
    * derivation (UNION-deduplicated (node, d) walk, MIN(d) per node —
    * bounded depth makes the recursion finite on a cyclic graph).
    *
    * Scale: edges partition once and stay put; each round moves only
    * the frontier; cost ∝ the frontier's edge boundary, with early
    * exit the round the frontier drains (this bipartite purchase
    * graph saturates at 2 hops at every gate scale, so the loop
    * exits during round 3 of the permitted 6; the depth cap is the
    * contract, the early exit is the cost). */
  def qGraphBfs(spark: SparkSession, dir: String): DataFrame = {
    val seeds = bfsSeeds(spark, dir)
    // (src, dst) projected off the shared degreed table: distinct by
    // construction, HashPartitioning(src) intact under the project.
    Graph.bfsDistancesOnEdges(
        degreedPurchaseEdges(spark, dir).select(col("src"), col("dst")),
        seeds, maxDepth = 6)
      .select(col("node"), col("dist"),
        (col("node") % 2).cast("int").as("is_supplier"))
      .orderBy(col("node"))
  }

  /** INCREMENTALLY-MAINTAINED BFS distances — the reachability member
    * of the stored-state IVM family, same lifecycle as [[qPageRankInc]]:
    * distances over the HISTORICAL purchase graph (orders with
    * o_orderkey % 16 != 0) are committed once through
    * [[graft.sinks.VersionedTable]], and the delta batch's genuinely
    * new edges are folded in by [[Graph.bfsIncrement]] — EXACT
    * monotone relaxation (edge additions only shorten hop distances),
    * cost ∝ the improvement's blast radius, never the graph. The
    * ORACLE is the from-scratch bounded recursive CTE over the FULL
    * graph (graph_bfs's SQL verbatim), so the driver's hash check
    * proves the fold is lossless, and the output shape matches
    * [[qGraphBfs]] row for row. Build-once guards and serve-time
    * version selection key on content markers (the bm25_inc
    * contract — race-safe under renumbering). */
  def qGraphBfsInc(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.VersionedTable
    val root = graft.sinks.LakeRoot.root(spark, dir, "bfs_dist_v1")
    val isDelta = col("o_orderkey") % 16 === 0
    val seeds = bfsSeeds(spark, dir)
    def ensure(part: String, build: => DataFrame): Long =
      VersionedTable.ensurePart(spark, root, part)(build)
    val vHist = ensure("historical",
      Graph.bfsDistances(symPairs(spark, dir, !isDelta), seeds, maxDepth = 6))
    val vFull = ensure("batch", {
      val hist = symPairs(spark, dir, !isDelta)
      // Only edges the old graph does not already have can shorten
      // anything.
      val dEff = symPairs(spark, dir, isDelta)
        .join(hist, Seq("src", "dst"), "left_anti")
      Graph.bfsIncrement(VersionedTable.read(spark, root, Some(vHist)),
        purchaseEdges(spark, dir), dEff, maxDepth = 6)
    })
    VersionedTable.read(spark, root, Some(vFull))
      .select(col("node"), col("dist"),
        (col("node") % 2).cast("int").as("is_supplier"))
      .orderBy(col("node"))
  }

  /** Symmetrized WEIGHTED purchase pairs for a subset of orders — the
    * [[symPairs]] sibling the SSSP family rides. Weight = trade-volume
    * grade of the (customer, supplier) link: pairs trading >= 3
    * lineitems cost 1, exactly 2 cost 2, a single lineitem costs 3 —
    * "heavier-traded links are cheaper routes". Weights are integer,
    * in [1, 3], and MONOTONE NON-INCREASING under order additions
    * (multiplicity only grows), which is exactly the contract
    * [[Graph.ssspIncrement]]'s monotone relaxation needs. One shuffle:
    * the (pair) aggregation that counts multiplicity (orders broadcast
    * onto the lineitem scan), symmetrized afterwards. */
  private def symWeightedPairs(spark: SparkSession, dir: String,
                               ordersFilter: org.apache.spark.sql.Column): DataFrame = {
    val raw = t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      .join(broadcast(t(spark, dir, "orders").where(ordersFilter)
        .select(col("o_orderkey"), col("o_custkey"))),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("c"), col("s"),
        when(col("cnt") >= 3, 1L).when(col("cnt") === 2, 2L).otherwise(3L).as("w"))
    raw.select(col("c").as("src"), col("s").as("dst"), col("w"))
      .unionAll(raw.select(col("s").as("src"), col("c").as("dst"), col("w")))
  }

  /** The full weighted edge list, memoized per (session, dir): both
    * SSSP variants consume this one table. */
  private def weightedPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PlanCache.memo(spark, s"graph:purchase-wedges:$dir") {
      symWeightedPairs(spark, dir, lit(true)).pin(false)
    }

  /** Cheapest weighted route from the nation-0 customer market to
    * every purchase-graph node within a total cost budget of 8
    * ([[Graph.ssspDistances]]) — BFS's weighted sibling, answering
    * "how cheaply" where BFS answers "how far": with trade volume as
    * inverse cost, two well-traded intermediaries can beat one thin
    * direct link, and the emitted distance is the exact minimum over
    * ALL such routes under the budget. Cost-bounded (not hop-bounded)
    * because the budget composes with monotone relaxation AND keeps
    * the oracle's recursive walk space finite: the UNION-deduplicated
    * (node, d) CTE holds at most nodes x (budget + 1) rows no matter
    * how many paths exist, so the same cap that bounds the operator's
    * rounds bounds the oracle's recursion — one contract, hash-exact.
    *
    * Scale: [[Graph.ssspDistances]]'s shape — edges partition once,
    * rounds cost the improvement boundary, early exit on drain. */
  def qGraphSssp(spark: SparkSession, dir: String): DataFrame =
    Graph.ssspDistancesOnEdges(minWeightPurchaseEdges(spark, dir),
        bfsSeeds(spark, dir), maxCost = 8)
      .select(col("node"), col("dist"),
        (col("node") % 2).cast("int").as("is_supplier"))
      .orderBy(col("node"))

  /** The min-weight-collapsed SSSP edge table ([[Graph.minWeightEdges]]
    * over the trade-volume grades), memoized persisted — same
    * partitioning-and-once-per-session contract as
    * [[degreedPurchaseEdges]]. */
  private def minWeightPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PlanCache.memo(spark, s"graph:pe-minw:$dir") {
      Graph.minWeightEdges(weightedPurchaseEdges(spark, dir)).pinPartitioned
    }

  /** INCREMENTALLY-MAINTAINED weighted shortest paths — the SSSP
    * member of the stored-state IVM family, same lifecycle as
    * [[qGraphBfsInc]]: distances over the HISTORICAL weighted graph
    * (orders with o_orderkey % 16 != 0) are committed once through
    * [[graft.sinks.VersionedTable]], and the batch's effective delta —
    * weighted edge rows of the NEW graph absent from the old one,
    * which by the weight grade's count-monotonicity are exactly the
    * NEW pairs plus the CHEAPENED ones — folds in by
    * [[Graph.ssspIncrement]]'s exact monotone relaxation. The ORACLE
    * is graph_sssp's from-scratch bounded recursive CTE over the FULL
    * graph verbatim, so the driver's hash check proves the fold
    * lossless, including across weight decreases (a cheapened edge is
    * indistinguishable from an added parallel cheaper edge to the
    * relaxation). */
  /** STREAMED maintenance of the weighted shortest-path state — the
    * SSSP member of the streamed-fold family, and the harness's first
    * NON-SET operator: the fact root stores per-batch ADDITIVE pair
    * counts (src, dst, cnt), because the thing a batch changes is not
    * "which edges exist" but "how often each pair has traded" — and
    * therefore the weight grade. Per micro-batch the fold re-grades:
    * prior weights from the pre-batch cumulative counts, full weights
    * from prior + batch, and the effective weighted delta is the rows
    * that DIFFER (new pairs + cheapened grades — count-monotonicity
    * guarantees grades only drop, exactly [[Graph.ssspIncrement]]'s
    * contract). Rides graph_sssp's recursive-CTE oracle VERBATIM, so
    * the driver hash proves the whole streamed lifecycle — ledger,
    * count folding, re-grading, monotone relaxation — lossless.
    * Per-batch cost ∝ the batch's pair census + the improvement's
    * blast radius; the count root compacts past the fold budget
    * (additive rows survive compaction verbatim). */
  def qGraphSsspStream(spark: SparkSession, dir: String): DataFrame = {
    val seeds = bfsSeeds(spark, dir)
    def gradeOf(facts: DataFrame): DataFrame =
      facts.groupBy(col("src"), col("dst")).agg(sum(col("cnt")).as("cnt"))
        .select(col("src"), col("dst"),
          when(col("cnt") >= 3, 1L).when(col("cnt") === 2, 2L).otherwise(3L).as("w"))
    def factsOf(s: SparkSession, orders: DataFrame): DataFrame = {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val raw = li.join(broadcast(orders.select(col("o_orderkey"), col("o_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
        .agg(count(lit(1)).as("cnt"))
      raw.select(col("c").as("src"), col("s").as("dst"), col("cnt"))
        .unionAll(raw.select(col("s").as("src"), col("c").as("dst"), col("cnt")))
    }
    streamedFoldState(spark, dir, "sssp_stream_v1")(
      // Counts are additive facts: a batch's rows land as-is (the
      // ledger, not an anti-join, is what makes replays idempotent).
      landDelta = (s, batch, _) => factsOf(s, batch),
      buildState = firstFacts =>
        Graph.ssspDistances(gradeOf(firstFacts), seeds, maxCost = 8),
      foldState = (prev, priorFacts, batchFacts) => {
        val priorW = gradeOf(priorFacts)
        val fullW = gradeOf(priorFacts.unionAll(batchFacts))
        val dW = fullW.join(priorW, Seq("src", "dst", "w"), "left_anti")
        Graph.ssspIncrement(prev, fullW, dW, maxCost = 8)
      })
      .select(col("node"), col("dist"),
        (col("node") % 2).cast("int").as("is_supplier"))
      .orderBy(col("node"))
  }

  def qGraphSsspInc(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.VersionedTable
    val root = graft.sinks.LakeRoot.root(spark, dir, "sssp_dist_v1")
    val isDelta = col("o_orderkey") % 16 === 0
    val seeds = bfsSeeds(spark, dir)
    def ensure(part: String, build: => DataFrame): Long =
      VersionedTable.ensurePart(spark, root, part)(build)
    val vHist = ensure("historical",
      Graph.ssspDistances(symWeightedPairs(spark, dir, !isDelta), seeds, maxCost = 8))
    val vFull = ensure("batch", {
      val histW = symWeightedPairs(spark, dir, !isDelta)
      // Rows of the new weighted list the old graph lacks: new pairs
      // and pairs whose weight the batch cheapened — only these can
      // shorten anything.
      val dEff = weightedPurchaseEdges(spark, dir)
        .join(histW, Seq("src", "dst", "w"), "left_anti")
      Graph.ssspIncrement(VersionedTable.read(spark, root, Some(vHist)),
        weightedPurchaseEdges(spark, dir), dEff, maxCost = 8)
    })
    VersionedTable.read(spark, root, Some(vFull))
      .select(col("node"), col("dist"),
        (col("node") % 2).cast("int").as("is_supplier"))
      .orderBy(col("node"))
  }
}
