package graft

import graft.queries.{RelationalQueries, TextQueries}

/** Plan regression guards: the properties that make these queries scale
  * (broadcast dims, pushed filters, pruned scans, bounded shuffles) are
  * asserted so a refactor can't silently regress the physical plan. */
class PlanAuditSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.count() // materialize AQE final plan
    df.queryExecution.executedPlan.toString
  }

  test("q3: dims broadcast, filters pushed into scans, narrow ReadSchema") {
    val p = plan(RelationalQueries.q3ShippingPriority(spark, Sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)")
      || p.contains("EqualTo(c_mktsegment,BUILDING)"))
    assert(!p.contains("l_partkey")) // column pruning on the fact scan
  }

  test("q5: star join is all-broadcast (no fact-side SMJ except orderkey)") {
    val p = plan(RelationalQueries.q5LocalSupplier(spark, Sf))
    assert(p.split("BroadcastHashJoin").length >= 4)
    assert(!p.contains("CartesianProduct"))
  }

  test("q1: aggregation scan reads only the needed lineitem columns") {
    val p = plan(RelationalQueries.q1PricingSummary(spark, Sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_partkey"),
      s"scan reads too much: $readSchema")
  }

  test("dedup_minhash: candidate generation shuffles ids only (no text columns)") {
    val p = plan(TextQueries.dedupMinhashQ(spark, Sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("ev_interval_join: range predicate stays inside an equijoin (no cross product)") {
    val p = plan(graft.queries.EventQueries.intervalJoin(spark, Sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval join degenerated to a cross product:\n${p.take(800)}")
  }

  test("q19: disjunctive predicate stays an equijoin on l_partkey (no cross product)") {
    val p = plan(RelationalQueries.q19Disjunctive(spark, Sf))
    // Catalyst must extract the common `l_partkey = p_partkey` key and
    // evaluate the OR-of-ANDs as a join condition/filter — never a
    // cartesian or nested-loop expansion of lineitem × part.
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast equijoin:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"disjunctive join degenerated to a cross product:\n${p.take(800)}")
  }

  test("q6: all three predicates reach the lineitem scan, narrow ReadSchema") {
    val p = plan(RelationalQueries.q6RevenueBand(spark, Sf))
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
      pushed.contains("l_quantity"), s"filters not pushed: $pushed")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_tax"),
      s"scan reads too much: $readSchema")
  }

  test("dedup_corpus: the corpus filter is a keyed LeftAnti equijoin, never a cartesian") {
    val p = plan(TextQueries.dedupCorpusQ(spark, Sf))
    // The loser set is data-dependent (billions of ids at 50% dup rate),
    // so the right static plan is a keyed anti equijoin — AQE upgrades
    // it to broadcast at runtime when the loser set turns out small.
    assert(p.contains("LeftAnti"), s"expected anti join:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("ev_retention: integer-week cohort plan is two hash aggregations, no cartesian") {
    val p = plan(graft.queries.EventQueries.retention(spark, Sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.split("HashAggregate").length >= 4, "expected partial+final aggregation phases")
  }

  test("q21: exists/not-exists are hash semi/anti equijoins on orderkey, no cross product") {
    val p = plan(RelationalQueries.q21LateSoloSupplier(spark, Sf))
    // The supplier inequality must ride as a join residual on the
    // orderkey equijoin — a nested-loop expansion of late × pairs would
    // be quadratic in order size at 100 TB.
    assert(p.contains("LeftSemi"), s"expected semi join:\n${p.take(600)}")
    assert(p.contains("LeftAnti"), s"expected anti join:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q2: correlated-min join back is broadcast; fact never self-joined at shuffle width") {
    // The per-part minimum is a window over the broadcast-joined costs:
    // one lazy plan, one lineitem scan, no join back onto the minimum.
    val p = plan(RelationalQueries.q2MinCostSupplier(spark, Sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dimension joins:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("Window"), s"expected a window minimum:\n${p.take(600)}")
    assert("lineitem\\.parquet".r.findAllIn(p).size === 1, s"expected one lineitem scan:\n$p")
  }

  test("q16: exclusion list is a broadcast anti join below the distinct aggregation") {
    val p = plan(RelationalQueries.q16SupplierVariety(spark, Sf))
    assert(p.contains("LeftAnti"), s"expected anti join:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("text_decontaminate: contamination join is a hash equijoin on shingle hashes") {
    val p = plan(TextQueries.decontaminateQ(spark, Sf))
    // train × eval must join on the 8-byte shingle hash — a cross
    // product of corpus × benchmark n-grams would be quadratic.
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"contamination join degenerated:\n${p.take(600)}")
    assert(p.contains("shingle_hashes"), "codegen'd shingle kernel missing")
  }

  test("ev_outliers: both shuffles key on user_id; moment agg has a partial phase") {
    val p = plan(graft.queries.EventQueries.outliers(spark, Sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.split("HashAggregate").length >= 4, "expected partial+final moment phases")
  }

  test("ev_value_histogram: single partial-agg'd exchange, no join") {
    val p = plan(graft.queries.EventQueries.valueHistogram(spark, Sf))
    assert(p.split("HashAggregate").length >= 3, "expected partial+final aggregation")
    assert(!p.contains("Join"), "histogram should not join")
  }

  test("text_pack_contexts: corpus-wide window is part-partitioned; only the tiny part-totals scan is single-partition") {
    val p = plan(TextQueries.packContextsQ(spark, Sf))
    // Two Window operators: the per-part cumsum (parallel) and the
    // part-totals prefix sum (single partition, bounded by part count).
    assert(p.split("Window").length >= 3, "expected two window operators")
    assert(p.split("Exchange SinglePartition").length <= 2,
      s"corpus-wide single-partition exchange crept in:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_skew_agg: salted two-phase shape (partial agg keyed on salt)") {
    val p = plan(RelationalQueries.qSkewAgg(spark, Sf))
    // phase 1 groups on (l_returnflag, _salt): the heavy key is spread
    // over 32 partials before the 3-key final aggregation.
    assert(p.contains("_salt"), "salt column missing from the plan")
    assert(p.split("HashAggregate").length >= 4, // partial+final per phase
      "expected two aggregation phases")
  }

  test("q_skew_join: salted equijoin on (key, salt), never a cartesian") {
    val p = plan(RelationalQueries.qSkewJoin(spark, Sf))
    assert(p.contains("_salt"), "fact-side salt missing from the plan")
    assert(p.contains("_dim_salt"), "dim-side salt explode missing")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_equidepth: fact rows flow through range partitioning, never one partition") {
    // globalRowNumber localCheckpoints the range-partitioned frame (so
    // both the rank and size consumers are pinned to ONE concrete
    // partitioning); the range exchange therefore lives in the
    // checkpointed subplan, and the outer plan reads it back as an
    // ExistingRDD scan.
    val p = plan(RelationalQueries.qEquidepth(spark, Sf))
    assert(p.contains("Scan ExistingRDD"),
      "global rank must read the pinned range-partitioned checkpoint")
    // every Sort over the fact's sort key must be partition-local:
    // a global (`true`-flagged) Sort would funnel the fact through a
    // single-partition ordering.
    val globalSort = """Sort \[[^\]]*cents#[^\]]*\], true""".r
    assert(globalSort.findFirstIn(p).isEmpty,
      s"unexpected global sort of the fact:\n${p.take(1200)}")
    // single-partition exchanges exist only for the bounded offset /
    // total stages (nParts rows and 1 row respectively).
    assert(p.split("Exchange SinglePartition").length <= 3,
      s"fact-carrying single-partition exchange crept in:\n${p.take(1200)}")
  }

  test("q_basket_affinity: one fact shuffle, self-join reuses it, no cartesian on facts") {
    // Exchange REUSE is a runtime (AQE) property, so execute THIS
    // DataFrame and read its final plan (the shared helper's count()
    // builds a separate query execution).
    val df = RelationalQueries.qBasketAffinity(spark, Sf)
    df.collect()
    // The AQE plan string appends the pre-runtime "Initial Plan"
    // section (where reuse hasn't been resolved yet) — audit the
    // final plan only.
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // The single fact-width shuffle (the collect_set aggregation on
    // the order key) lives inside the PINNED sets table, computed
    // once; every consumer — map-side pair expansion, brand totals,
    // the basket count — must read the pinned blocks (ExistingRDD
    // scans) with NO order-key exchange anywhere in the outer plan:
    // pairs come from higher-order functions over each set, not a
    // self-join, so no operator downstream ever needs k clustering.
    val lines = p.linesIterator.toSeq
    assert(!lines.exists(l =>
      "Exchange hashpartitioning\\(k#\\d+L".r.findFirstIn(l).isDefined),
      s"an order-key exchange escaped the pinned sets table:\n${p.take(1500)}")
    assert(lines.count(_.contains("Scan ExistingRDD")) >= 3,
      s"all three basket consumers must read the pinned table:\n${p.take(1500)}")
    assert(p.contains("Generate explode"),
      "pairs must expand map-side from the per-order sets")
    // The scalar basket count and brand totals re-enter as broadcasts;
    // the only nested-loop join allowed is the 1-row scalar attach.
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("text_stratified_split: stratum rank rides the global rank, no per-source window") {
    val p = plan(TextQueries.stratifiedSplitQ(spark, Sf))
    // the per-stratum rank must come from the pinned global two-level
    // rank (ExistingRDD checkpoint scan + broadcast min-rank join), not
    // a Window partitioned by the low-cardinality source column.
    assert(p.contains("Scan ExistingRDD"),
      "expected the globalRowNumber checkpoint scan")
    assert(!p.contains("windowspecdefinition(source#"),
      "per-source window would serialize huge strata into single partitions")
    assert(p.contains("BroadcastHashJoin"), "stratum bounds must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("vec_hard_negatives: label filter rides the broadcast scan before the top-k") {
    val p = plan(graft.queries.VectorQueries.vecHardNegatives(spark, Sf))
    // query side broadcast (corpus never shuffled for scoring) and the
    // label inequality applied as a join/filter condition pre-window.
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"expected broadcast query side:\n${p.take(600)}")
    val windowAt = p.indexOf("Window")
    val labelFilterAt = p.indexOf("NOT (q_label")
    assert(labelFilterAt >= 0 && (windowAt < 0 || labelFilterAt > windowAt),
      "label inequality must be inside the scan subtree, below the top-k window")
  }

  test("q_bloom_semi: bitset filter sits on the fact scan below the semi join") {
    val p = plan(RelationalQueries.qBloomSemi(spark, Sf))
    assert(p.contains("LeftSemi"), "real semi join must remain")
    // The membership test (the native bloom_probe kernel) must be a
    // Filter on the fact side BEFORE the join — i.e. appear after the
    // join node in the plan's top-down text.
    val joinAt = p.indexOf("LeftSemi")
    val filterAt = p.indexOf("bloom_probe")
    assert(filterAt > joinAt, "bloom filter must be below (inside) the join subtree")
    assert(!p.contains("CartesianProduct"))
  }

  test("text_collocations: top-50 is TakeOrdered, count joins broadcast, no cartesian") {
    val p = plan(TextQueries.collocationsQ(spark, Sf))
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not be a global sort:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct"))
    // vocabulary-sized marginal-count joins broadcast at this SF; the
    // 1-row totals side rides a broadcast nested loop
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast count joins:\n${p.take(600)}")
  }

  test("text_bm25: global top-20 is TakeOrdered over the doc scores, never a one-partition sort") {
    val p = plan(TextQueries.bm25Q(spark, Sf))
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not be a global sort:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct"))
    // df + corpus stats are scalar/vocabulary-sized broadcasts
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast stat joins:\n${p.take(600)}")
  }

  test("text_bm25_inc: the query-term probe pushes down to the stored postings scan") {
    val p = plan(TextQueries.bm25IncQ(spark, Sf))
    // the inverted-index probe: term IN (...) reaches the postings
    // parquet scan as a pushed filter, so serving never materializes
    // the full postings table
    assert(p.contains("In(term") || p.contains("EqualTo(term"),
      s"query terms not pushed to the postings scan:\n${p.take(900)}")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not be a global sort:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("pca projection is map-only: literal components, no exchange in the plan") {
    // Same frozen-model contract as IVF assignment / PQ encoding:
    // projecting a batch must cost one scan — components are plan
    // literals, so ANY Exchange means dimensionality-reducing a batch
    // started reshuffling data.
    val all = graft.sources.TableLoader.load(spark, Sf, "embeddings")
    val model = graft.operators.Pca.fit(all, r = 8)
    val p = plan(graft.operators.Pca.project(all, model))
    assert(!p.contains("Exchange"), s"projection must not shuffle:\n${p.take(600)}")
  }

  test("ivf assignment is map-only: literal centroids, no exchange in the plan") {
    // The incremental/streamed index contract rests on this: assigning
    // a batch against the frozen quantizer must cost one scan of the
    // batch — centroids ride as literals, so ANY Exchange here means
    // indexing a new batch started reshuffling data.
    val all = graft.sources.TableLoader.load(spark, Sf, "embeddings")
    val cents = graft.operators.Similarity.kmeansCentroids(all, 16)
    val p = plan(graft.operators.Similarity.assignToCentroids(all, cents))
    assert(!p.contains("Exchange"), s"assignment must not shuffle:\n${p.take(600)}")
  }

  test("text_containment: candidates come from the shingle equijoin, never a cartesian") {
    val p = plan(TextQueries.textContainmentQ(spark, Sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment blocking must stay an equijoin:\n${p.take(600)}")
  }

  test("graph_triangles: equijoin wedges only, top-50 is TakeOrdered") {
    val p = plan(graft.queries.GraphQueries.qTriangles(spark, Sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"wedge enumeration must stay an equijoin:\n${p.take(600)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 must not be a global sort:\n${p.take(600)}")
  }

  test("text_dedup_spans: coverage removal is an equijoin anti-join, never a range join") {
    val p = plan(TextQueries.dedupSpansQ(spark, Sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span coverage must stay an equijoin:\n${p.take(600)}")
  }

  test("text_winnow: the selection windows are partitioned by doc_id") {
    val p = plan(TextQueries.winnowQ(spark, Sf))
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"expected window passes in:\n${p.take(600)}")
    assert(specs.forall(_.contains("doc_id#")),
      s"unpartitioned window spec found: $specs")
  }

  test("ev_cusum: every window pass is partitioned by event_type") {
    val p = plan(graft.queries.EventQueries.cusumQ(spark, Sf))
    // Each windowspecdefinition in the executed plan must carry the
    // event_type partition key — an empty partition spec would funnel
    // the series through one task.
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"expected window passes in:\n${p.take(600)}")
    assert(specs.forall(_.contains("event_type#")),
      s"unpartitioned window spec found: $specs")
  }

  test("q_percentiles_stored: the serve plan reads stored sketch rows, never the fact table") {
    // First call builds the lake state; the RETURNED DataFrame is the
    // serve — its plan must scan only VersionedTable sketch rows (the
    // whole point of stored summaries: corpus growth lands on the
    // build pass, a warm serve is calendar-bounded kilobytes).
    val p = plan(RelationalQueries.qPercentilesStored(spark, Sf))
    assert(!p.contains("orders.parquet"),
      s"serve rescans the fact table:\n${p.take(800)}")
    assert(p.contains("kll_cents_v1"), s"expected stored-sketch scan:\n${p.take(800)}")
    // TypedImperativeAggregate partial+final: only sketch bytes cross
    // the exchange.
    assert(p.contains("ObjectHashAggregate"), s"expected sketch agg:\n${p.take(800)}")
  }

  test("q1_pricing_inc / q_cube_stored: serves read stored partials, never lineitem") {
    // Exact-IVM twin of the stored-sketch audits: after the build pass
    // lands the month partials, BOTH serves (Q1 and the cube) must
    // plan over the VersionedTable partial rows only — a lineitem scan
    // in either plan means corpus growth leaks into the warm serve.
    val p1 = plan(RelationalQueries.q1PricingInc(spark, Sf))
    assert(!p1.contains("lineitem.parquet"),
      s"Q1 serve rescans the fact table:\n${p1.take(800)}")
    assert(p1.contains("lineitem_partials_v1"),
      s"expected stored-partials scan:\n${p1.take(800)}")
    val p2 = plan(RelationalQueries.qCubeStored(spark, Sf))
    assert(!p2.contains("lineitem.parquet"),
      s"cube serve rescans the fact table:\n${p2.take(800)}")
    assert(p2.contains("lineitem_partials_v1"),
      s"expected stored-partials scan:\n${p2.take(800)}")
    // Expand (cube) over partial rows, then one exchange of grouped
    // partials — additive measures keep the aggregation hash-based.
    assert(p2.contains("Expand"), s"expected cube expand:\n${p2.take(800)}")
  }

  test("q_heavy_hitters_stored: CMS merge stays in-plan (no driver-side sketch fold)") {
    val p = plan(RelationalQueries.qHeavyHittersStored(spark, Sf))
    // The month sketches merge through the cms_merge TypedImperative
    // aggregate: partial ObjectHashAggregate map-side, final merge on
    // an executor — the serve plan itself carries the merge, so serve
    // cost per process is flat in the calendar length.
    assert(p.contains("ObjectHashAggregate"),
      s"expected in-plan cms_merge aggregate:\n${p.take(1000)}")
    assert(p.contains("cms_merge"),
      s"expected cms_merge in the aggregate expressions:\n${p.take(1000)}")
    // The merged 1-row sketch attaches by broadcast; top-10 is a
    // TakeOrdered, not a global sort.
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast attach of the merged sketch:\n${p.take(1000)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrdered top-10:\n${p.take(1000)}")
  }

  test("text_fuzzy_pairs: length band sits in the join, below the levenshtein projection") {
    val df = graft.operators.Dedup.fuzzyPrefixPairs(
      graft.sources.TableLoader.load(spark, Sf, "documents"))
    df.count()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // The O(1) prefilters (length band, charbag bound) and the banded
    // lev_within kernel all live in the join condition — and the cheap
    // kills must come FIRST: Spark evaluates conjuncts in order, so
    // the integer tests price out rejectable candidates before the
    // DP band ever runs.
    val joinLine = p.linesIterator.find(_.contains("HashJoin")).getOrElse(
      fail(s"no hash join in fuzzy pairs plan:\n${p.take(1000)}"))
    val bandAt = joinLine.indexOf("abs(")
    val bagAt = joinLine.indexOf("bag_dist_lb")
    val levAt = joinLine.indexOf("lev_within")
    assert(bandAt >= 0,
      s"length-band prefilter missing from the join condition:\n$joinLine")
    assert(bagAt >= 0,
      s"charbag prefilter missing from the join condition:\n$joinLine")
    assert(levAt >= 0,
      s"banded lev_within missing from the join condition:\n$joinLine")
    assert(bandAt < bagAt && bagAt < levAt,
      s"prefilters must be evaluated cheap-first before lev_within:\n$joinLine")
  }

  test("q_distinct_theta_ops: sketch bytes cross the exchange; the 5-row join never SMJs") {
    val p = plan(RelationalQueries.qDistinctThetaOps(spark, Sf))
    // Partial theta aggregation map-side: the raw (priority, custkey)
    // pairs never shuffle — only per-partition sketch bytes do.
    assert(p.contains("ObjectHashAggregate"), s"expected sketch agg:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"priority-keyed 5-row join degenerated:\n${p.take(800)}")
  }
}
