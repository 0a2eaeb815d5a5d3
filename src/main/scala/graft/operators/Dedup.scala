package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Pin.PinOps
import graft.functions.TextFunctions._
import graft.expressions.ShingleHashes.shingleHashesNative

/** Deduplication operators for LLM training-data pipelines, from exact
  * ground truth to the hash-sketch scale paths.
  *
  * Scale design (100 TB): every variant is a shuffle-on-key groupBy or a
  * bucket-equijoin — never an unblocked O(n^2) cross join, and never a
  * per-pair array scan:
  *  - exact Jaccard uses a PREFIX-FILTERED inverted shingle index
  *    (df-ordered, SSJoin/PPJoin-style — lossless for the threshold):
  *    the candidate self-join carries rare-shingle prefix occurrences
  *    instead of every posting ((1−t)² of the quadratic volume before
  *    the df-concentration), verified by id-keyed join-back +
  *    array_intersect; containment stays on the count-in-join inverted
  *    index — its filter is one-sided and measured not to pay (see
  *    containmentPairs);
  *  - MinHash signatures come from 64 min-aggregates over the exploded
  *    shingle index (partial-agg friendly, no 64x array re-scan per row);
  *  - SimHash signatures are one packed long from a single-pass native
  *    kernel; the Hamming verify is codegen'd bit_count(a ^ b);
  *  - candidate pairs shuffle only (id, key) — feature arrays are joined
  *    back by id for the verify step.
  */
object Dedup {

  /** Exact dedup: one survivor (min id) per distinct text. A single
    * hash-partitioned groupBy on two independent rolling hashes (~60-bit
    * combined key: collisions negligible at 1e9+ docs) — at scale this
    * shuffles 16-byte keys, not documents. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.expressions.RollingHash.rollingHashNative
    val spark = docs.sparkSession
    docs
      .withColumn("text_hash", rollingHashNative(spark, col(textCol), 31L, HashMod))
      .withColumn("text_hash2", rollingHashNative(spark, col(textCol), 131L, HashMod2))
      .groupBy(col("text_hash"), col("text_hash2"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("copies"))
  }

  /** (id, sh: distinct shingle hashes, n_sh) prep used by the exact and
    * MinHash paths. */
  private def withShingles(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        shingleHashesNative(docs.sparkSession, col(textCol)).as("sh"))
      .withColumn("n_sh", size(col("sh")).cast("long"))
      .where(col("n_sh") > 0)

  /** (id, n_sh, s in prefix) inverted index over each document's
    * PREFIX under the document-frequency canonical order — the
    * prefix-filtering primitive shared by the exact Jaccard and
    * containment joins (SSJoin/PPJoin family).
    *
    * Losslessness: sort every document's shingle set by one global
    * total order; if |A∩B| ≥ α, the smallest common element sits at
    * position ≤ |A|−α+1 in A (all |A∩B| common elements sit at or
    * after its position), so indexing only the first |A|−α+1 elements
    * of each set still catches every qualifying pair. `prefixLen`
    * supplies that per-document length given the operator's own lower
    * bound α on the required overlap.
    *
    * The order is (df, s) ascending — RAREST shingles first — which is
    * what makes the filter collapse the join at scale: a boilerplate
    * shingle shared by K documents contributes K² candidate pairs to a
    * full inverted index, but lands in a document's prefix only when
    * the document has almost nothing rarer, so Σ prefix_df·df stays
    * near-linear on real corpora while hash-ordered prefixes would
    * still pay ~(1−t)² of the quadratic term. Cost of the ordering is
    * two linear shuffles (df groupBy + per-doc re-collect). */
  private def prefixIndex(sh: DataFrame,
                          prefixLen: Column => Column): DataFrame = {
    val inv = sh.select(col("id"), explode(col("sh")).as("s"))
    val df = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val sorted = inv.join(df.hint("shuffle_hash"), "s")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("ord"))
      .withColumn("n_sh", size(col("ord")).cast("long"))
    sorted.select(col("id"), col("n_sh"),
        explode(slice(transform(col("ord"), x => x.getField("s")),
          lit(1), prefixLen(col("n_sh")).cast("int"))).as("s"))
  }

  /** ceil(tauBp·n/10000) in exact integer arithmetic: the minimum
    * overlap a pair must have with a set of size n to clear `tauBp`. */
  private def minOverlap(tauBp: Long, n: Column): Column =
    // floor over double is exact here: tauBp·n ≤ 1e4·n stays far under
    // 2^53 for any real shingle count, and all operands are positive.
    floor((lit(tauBp) * n + lit(9999L)) / lit(10000L)).cast("long")

  /** Exact word-3-gram Jaccard similar pairs. Candidates come from a
    * prefix-filtered inverted shingle index ([[prefixIndex]]): J≥t
    * implies |A∩B| ≥ ceil(t·|A|) (and symmetrically for B), so only
    * the first |A|−ceil(t·|A|)+1 df-ordered shingles of each document
    * are indexed and self-joined — lossless, with the length filter
    * t·|B| ≤ |A| ≤ |B|/t applied inside the join. Candidate pairs are
    * then verified EXACTLY by joining the two full shingle sets back
    * by id and intersecting (codegen'd array_intersect) — feature
    * arrays are never shuffled through the candidate join itself.
    * This is the plan that survives 100 TB: every stage before the
    * (output-sized) verify is a linear shuffle, and the one
    * quadratic-shaped stage — the prefix self-join — carries only
    * rare-shingle prefix occurrences instead of every posting. */
  def ngramJaccardPairs(docs: DataFrame, tauBp: Long,
                        idCol: String = "doc_id", textCol: String = "text",
                        maxShingleDf: Option[Long] = None): DataFrame = {
    val sh = withShingles(docs, idCol, textCol)
    maxShingleDf match {
      case Some(cap) =>
        // Stop-shingle cap for web-scale corpora: drops shingles with
        // df > cap from the index AND from the common counts, so
        // boilerplate-only pairs are missed and similarity is scored
        // over the capped vocabulary — the documented recall trade.
        // Kept on the plain inverted-index plan (the cap itself bounds
        // the worst join key at cap²).
        val invAll = sh.select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
        val rare = invAll.groupBy(col("s")).agg(count(lit(1)).as("df"))
          .where(col("df") <= cap).select(col("s").as("s_keep"))
        val inv = invAll.join(rare, col("s") === col("s_keep")).drop("s_keep")
        val a = inv.toDF("a_id", "a_n", "s")
        val b = inv.toDF("b_id", "b_n", "s2")
        a.join(b, col("s") === col("s2") && col("a_id") < col("b_id"))
          .groupBy(col("a_id"), col("b_id"), col("a_n"), col("b_n"))
          .agg(count(lit(1)).as("common"))
          .withColumn("jaccard_bp",
            floor(lit(10000.0) * col("common") / (col("a_n") + col("b_n") - col("common"))).cast("long"))
          .where(col("jaccard_bp") >= tauBp)
          .select(col("a_id").as("id1"), col("b_id").as("id2"), col("jaccard_bp"))
      case None =>
        val pre = prefixIndex(sh, n => n - minOverlap(tauBp, n) + lit(1L))
        val a = pre.toDF("a_id", "a_n", "s")
        val b = pre.toDF("b_id", "b_n", "s2")
        val cand = a.join(b, col("s") === col("s2") && col("a_id") < col("b_id") &&
            col("a_n") * lit(10000L) >= lit(tauBp) * col("b_n") &&
            col("b_n") * lit(10000L) >= lit(tauBp) * col("a_n"))
          .select(col("a_id"), col("b_id"), col("a_n"), col("b_n")).distinct()
        cand
          .join(sh.select(col("id").as("a_id"), col("sh").as("sh_a")), "a_id")
          .join(sh.select(col("id").as("b_id"), col("sh").as("sh_b")), "b_id")
          .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
          .withColumn("jaccard_bp",
            floor(lit(10000.0) * col("common") / (col("a_n") + col("b_n") - col("common"))).cast("long"))
          .where(col("jaccard_bp") >= tauBp)
          .select(col("a_id").as("id1"), col("b_id").as("id2"), col("jaccard_bp"))
    }
  }

  /** Exact shingle-set CONTAINMENT pairs — the asymmetric complement
    * of `ngramJaccardPairs`: containment(A in B) = |sh(A) n sh(B)| /
    * |sh(A)| finds documents mostly CONTAINED in another (quotes,
    * copies with additions, boilerplate wrappers) that symmetric
    * Jaccard misses whenever the outer document is much longer.
    * Emits BOTH directions of each candidate pair that clear `tauBp`
    * basis points. Same inverted-shingle-index blocking as the
    * Jaccard path (equijoin on shingle hash; pairs sharing nothing
    * are never materialized), same optional stop-shingle cap. */
  def containmentPairs(docs: DataFrame, tauBp: Long,
                       idCol: String = "doc_id", textCol: String = "text",
                       maxShingleDf: Option[Long] = None): DataFrame = {
    val sh = withShingles(docs, idCol, textCol)
    maxShingleDf match {
      case Some(cap) =>
        // Capped vocabulary: same documented recall trade (and plan) as
        // the capped Jaccard branch.
        val invAll = sh.select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
        val rare = invAll.groupBy(col("s")).agg(count(lit(1)).as("df"))
          .where(col("df") <= cap).select(col("s").as("s_keep"))
        val inv = invAll.join(rare, col("s") === col("s_keep")).drop("s_keep")
        val a = inv.toDF("a_id", "a_n", "s")
        val b = inv.toDF("b_id", "b_n", "s2")
        val common = a.join(b, col("s") === col("s2") && col("a_id") < col("b_id"))
          .groupBy(col("a_id"), col("b_id"), col("a_n"), col("b_n"))
          .agg(count(lit(1)).as("common"))
        val ab = common.select(col("a_id").as("inner_id"), col("b_id").as("outer_id"),
          floor(lit(10000.0) * col("common") / col("a_n")).cast("long").as("containment_bp"))
        val ba = common.select(col("b_id").as("inner_id"), col("a_id").as("outer_id"),
          floor(lit(10000.0) * col("common") / col("b_n")).cast("long").as("containment_bp"))
        ab.unionAll(ba).where(col("containment_bp") >= tauBp)
      case None =>
        // Containment stays on the count-in-join plan DELIBERATELY.
        // Prefix filtering is one-sided here — containment(A in B) ≥ t
        // bounds the smallest common element to A's first
        // |A|−ceil(t·|A|)+1 df-ordered shingles, but says nothing about
        // WHERE in B it falls (a 10-shingle quote sits anywhere inside a
        // 10k-shingle page), so the outer side must keep its full
        // posting list. Measured (sf0.01→sf0.1, local[32]): the
        // prefix(inner)⋈full(outer) variant cut the candidate join only
        // ~0.5→0.4 of the quadratic volume while adding the df sort,
        // candidate distinct, and intersect-verify stages — slower at
        // BOTH scales (1.96→2.86 s at sf0.1) with a worse decade growth
        // (5.4×→6.2×). Without a second prefix to multiply against,
        // the filter can't pay for its verify. The symmetric-Jaccard
        // path above is where the (1−t)² two-sided cut genuinely wins.
        val inv = sh.select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
        val a = inv.toDF("a_id", "a_n", "s")
        val b = inv.toDF("b_id", "b_n", "s2")
        val common = a.join(b, col("s") === col("s2") && col("a_id") < col("b_id"))
          .groupBy(col("a_id"), col("b_id"), col("a_n"), col("b_n"))
          .agg(count(lit(1)).as("common"))
        val ab = common.select(col("a_id").as("inner_id"), col("b_id").as("outer_id"),
          floor(lit(10000.0) * col("common") / col("a_n")).cast("long").as("containment_bp"))
        val ba = common.select(col("b_id").as("inner_id"), col("a_id").as("outer_id"),
          floor(lit(10000.0) * col("common") / col("b_n")).cast("long").as("containment_bp"))
        ab.unionAll(ba).where(col("containment_bp") >= tauBp)
    }
  }

  /** Connected components over near-dup pairs via alternating
    * large-star/small-star rounds (the two-phase min-star formulation
    * from the MapReduce CC literature): converges in O(log n) rounds
    * versus the O(component diameter) of plain min-label propagation,
    * which is what keeps long duplicate chains tractable at 100 TB.
    * Each round is two equijoin+aggregate passes shuffling (node, node)
    * pairs only — no adjacency lists are ever collected. Output:
    * (id, comp) for every node in `pairs`, comp = component minimum;
    * survivors are the rows with id == comp. [[Pin]] truncates the
    * iteration lineage; convergence is a fixpoint of the (edge count,
    * edge fingerprint) pair, one action per round.
    *
    * Memoized in [[PlanCache]] per (session, analyzed pair plan's
    * semantic hash), so a different source/filter relabels. The
    * survivor map, the dedup terminal, and the cluster-size report all
    * label the SAME pair set — one iterative CC run serves all of
    * them. The entry is a lazily pinned label table, small by
    * construction (one row per node in a pair): a cache hit reuses the
    * blocks the first consumer materialized, while a never-again-seen
    * pair plan (e.g. the incremental fold-in over a checkpointed batch)
    * pays no extra materialization job for an entry nothing reads. */
  def connectedComponents(pairs: DataFrame): DataFrame =
    PlanCache.memo(pairs.sparkSession, s"cc:${pairs.queryExecution.analyzed.semanticHash()}") {
      connectedComponentsUncached(pairs).pin(false)
    }

  private def connectedComponentsUncached(pairs: DataFrame): DataFrame = {
    // Materialize the (usually expensive) candidate-pair plan once: the
    // symmetric union and the nodes/edges branches below would otherwise
    // each recompute it.
    val p = pairs.select(col("id1"), col("id2")).pin(true)
    val sym = p.select(col("id1").as("src"), col("id2").as("dst"))
      .unionAll(p.select(col("id2").as("src"), col("id1").as("dst")))
    // Lazy checkpoint: nodes are not needed until the FINAL labeling join,
    // so don't spend a job materializing them up front — the final action
    // computes them once (from the already-checkpointed p) and persists.
    val nodes = sym.select(col("src").as("id")).distinct().pin(false)
    // Invariant throughout: edges oriented large -> small, no self loops.
    var edges = sym.where(col("src") > col("dst")).distinct().pin(true)
    var prev = (-1L, -1L, -1L)
    var rounds = 0
    var done = false
    while (!done && rounds < 25) {
      // Large-star: every neighbor v > u points to m = min(N(u) + {u}).
      val symE = edges.unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      val lsMin = symE.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      // The distinct is load-bearing beyond dedup: it is a shuffle
      // boundary whose output Spark REUSES for ls's two consumers
      // (ssMin's groupBy and the ss join) — removing it recomputes the
      // large-star join twice and measures slower, not faster.
      val ls = symE.join(lsMin, "src").where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
      // Small-star: u and all its smaller neighbors point to their min.
      val ssMin = ls.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val ss = ls.join(ssMin, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst"))
        .unionAll(ssMin.select(col("src"), col("m").as("dst")))
        .distinct()
        // LAZY checkpoint: the convergence-stat action right below is the
        // first (and only) job of the round — it materializes and persists
        // the checkpoint as a side effect, so each round costs ONE job
        // instead of an eager-materialize job plus the stat job. Lineage
        // is still truncated at every round.
        .pin(false)
      // Convergence = fixpoint of (count, two INDEPENDENT order-invariant
      // hash-sums: xxhash64(src,dst) and xxhash64(dst,src)). For a false
      // positive both 64-bit sums must collide between different edge
      // sets simultaneously (~2^-128) — negligible even over 1e9 rounds,
      // so no set-comparison confirmation join is needed (the r3
      // exceptAll confirmation cost ~+25% of the operator's runtime for
      // protection the second fingerprint now provides for free). All
      // three stats ride the ONE per-round aggregate action.
      val stat = ss.agg(count(lit(1)), sum(xxhash64(col("src"), col("dst"))),
        sum(xxhash64(col("dst"), col("src")))).collect()(0)
      def h(i: Int): Long = if (stat.isNullAt(i)) 0L else stat.getLong(i)
      val cur = (stat.getLong(0), h(1), h(2))
      done = cur == prev
      prev = cur
      edges = ss
      rounds += 1
    }
    if (!done)
      // Star-contraction converges in O(log n) rounds; 25 rounds covers
      // any real graph (2^25 contraction levels). Hitting the cap means
      // the iteration is not contracting — returning the partial edge
      // set would silently mislabel components, so fail loudly instead.
      throw new IllegalStateException(
        s"connectedComponents did not converge within $rounds rounds")
    val lab = edges.groupBy(col("src")).agg(min(col("dst")).as("comp"))
    nodes.join(lab, nodes("id") === lab("src"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** End-to-end dedup terminal: the deduplicated corpus itself. Keeps
    * every document that is its component's canonical (min id) — or in
    * no near-dup component at all. One LEFT ANTI equijoin against the
    * non-survivor id set, keyed on the 8-byte id: the loser-set size is
    * data-dependent (billions of ids at a 50% dup rate), so the static
    * plan is the keyed shuffle join and AQE upgrades it to a broadcast
    * at runtime when the set turns out small. This is the operator a
    * training-data pipeline actually writes back to the lake. */
  /** Fuzzy (edit-distance) near-match pairs with prefix blocking — the
    * entity-resolution primitive: only documents sharing an exact
    * `blockLen`-char prefix are compared (an equijoin on the block key,
    * never all-pairs), and survivors are ranked by the Levenshtein
    * distance of their `prefixLen`-char prefixes. Levenshtein is a
    * builtin codegen'd expression in Spark and a builtin in DuckDB
    * with the identical classic definition, so the driver oracle is
    * hash-exact. At 100 TB the block key bounds the join like the
    * shingle hash does for Jaccard; the distance runs only on blocked
    * candidates, and it runs THRESHOLDED through the specialized
    * [[graft.expressions.LevWithin]] kernel — contract-identical to
    * Spark's 3-arg `levenshtein(l, r, maxDist)` (value when <= k, -1
    * over; LevWithinSpec pins randomized equality) but ~4x faster on
    * this join's shape: it trims the common prefix (>= blockLen chars
    * by construction of the blocking) and suffix first, runs a
    * byte-level banded DP on the ASCII fast path, and bails at the
    * first row whose minimum exceeds maxDist — pricing the dense
    * block's non-matching majority at O(maxDist^2) instead of
    * O(prefixLen * maxDist), so the join is priced by its OUTPUT, not
    * its candidate count. For rows that pass, the thresholded value
    * equals the plain distance (spec'd in DedupSpec), so the emitted
    * pair set and `dist` column are bit-identical to the unthresholded
    * form and the DuckDB oracle is unchanged.
    *
    * Before any distance runs at all, a LENGTH-BAND prefilter sits in
    * the join condition itself: edit distance is lower-bounded by the
    * length difference (every unit of length gap costs one insert or
    * delete), so `abs(len1 - len2) > maxDist` candidates can NEVER
    * match — plus a CHARACTER-BAG bound for the corpora where blocked
    * prefixes share one length and the band alone discriminates
    * nothing: each side projects a packed 16-lane character-class
    * histogram ([[graft.expressions.CharBag64]], 8 bytes/row through
    * the exchange) and `bag_dist_lb` reads a per-candidate lower bound
    * on the edit distance from 16 integer lane diffs (every edit moves
    * at most one character occurrence, so distance ≥ the one-sided bag
    * difference; class-coarsening and count-clamping only shrink the
    * bound, keeping it conservative). On the sf1 census the bag bound
    * kills ~52% of the 20M blocked candidates for ~3% of a band
    * evaluation's cost. Every predicate lives IN the join condition,
    * in cheap-first order — id order (1 op, kills half), length band,
    * bag bound, banded levenshtein — because Spark evaluates conjuncts
    * in order and does not cost-reorder them; leaving the distance
    * filter to a `.where` lets PushDownPredicates prepend it to the
    * condition, pricing levenshtein FIRST (the audited plan pins the
    * order). The projection recomputes the distance only for emitted
    * pairs — the rare survivors — where the thresholded value equals
    * the plain distance. Rows the prefilters remove are exactly rows
    * the distance filter would have dropped, so the output is
    * bit-identical. */
  def fuzzyPrefixPairs(docs: DataFrame, blockLen: Int = 8, prefixLen: Int = 32,
                       maxDist: Int = 8,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val base = docs.select(col(idCol),
      substring(col(textCol), 1, blockLen).as("blk"),
      substring(col(textCol), 1, prefixLen).as("pfx"))
      .withColumn("len", length(col("pfx")))
      .withColumn("bag", graft.expressions.CharBag64.bagCol(spark, col("pfx")))
    val a = base.select(col(idCol).as("id1"), col("blk"),
      col("pfx").as("pfx1"), col("len").as("len1"), col("bag").as("bag1"))
    val b = base.select(col(idCol).as("id2"), col("blk").as("blk2"),
      col("pfx").as("pfx2"), col("len").as("len2"), col("bag").as("bag2"))
    // lev_within(_, _, k) = dist when dist <= k, -1 otherwise: the
    // >= 0 conjunct is therefore EXACTLY the old dist <= maxDist.
    import graft.expressions.LevWithin
    a.join(b, col("blk") === col("blk2") &&
        col("id1") < col("id2") &&
        abs(col("len1") - col("len2")) <= maxDist &&
        graft.expressions.CharBag64.lbCol(spark, col("bag1"), col("bag2")) <= maxDist &&
        LevWithin.levCol(spark, col("pfx1"), col("pfx2"), maxDist) >= 0)
      .select(col("id1"), col("id2"),
        LevWithin.levCol(spark, col("pfx1"), col("pfx2"), maxDist)
          .cast("long").as("dist"))
  }

  /** Incremental connected components — fold a BATCH of new edges into
    * stored (id, comp) labels without recomputing the historical graph.
    * Prior labels enter as depth-1 star edges (member → component min):
    * the already-contracted form of the old graph, so the iteration
    * contracts in O(log batch) rounds regardless of history size and
    * the old graph's full edge list is never re-read — at 100 TB a
    * daily dedup folds each ingest batch's candidate pairs into the
    * stored survivor map at cost ∝ batch, like the stored-signature
    * MinHash path feeding it. Labels stay canonical (component = min
    * id) because component minima are real node ids, so the result is
    * EXACTLY the full recompute over (old ∪ new) edges (spec'd; the
    * driver query's oracle is the full-graph recursive CTE). */
  def incrementalComponents(priorLabels: DataFrame, newEdges: DataFrame): DataFrame = {
    val star = priorLabels.where(col("id") =!= col("comp"))
      .select(col("id").as("id1"), col("comp").as("id2"))
    val merged = connectedComponents(
      star.unionAll(newEdges.select(col("id1"), col("id2"))))
    // True singletons (size-1 components) have no star edge; carry the
    // ones the new batch didn't touch.
    val untouched = priorLabels.where(col("id") === col("comp"))
      .join(merged, Seq("id"), "left_anti")
    merged.unionAll(untouched)
  }

  def dedupedCorpus(docsDf: DataFrame, pairs: DataFrame,
                    idCol: String = "doc_id"): DataFrame = {
    val losers = connectedComponents(pairs)
      .where(col("id") =!= col("comp"))
      .select(col("id").as("_loser_id"))
    docsDf.join(losers, docsDf(idCol) === col("_loser_id"), "left_anti")
  }

  // ---- MinHash ----

  /** Deterministic affine hash family over shingle hashes:
    * h_i(t) = (a_i * t + b_i) mod P. Constants from a splitmix-style
    * stream so every run/executor derives the same family. */
  val MinHashP = 2147483647L
  val NumPerms = 64
  val Bands = 16
  val RowsPerBand: Int = NumPerms / Bands
  val perms: IndexedSeq[(Long, Long)] = {
    var s = 42L
    def next(): Long = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 33) % MinHashP
    }
    IndexedSeq.fill(NumPerms)((next() | 1L, next()))
  }

  /** MinHash signatures as 64 min-aggregates over the exploded shingle
    * index: one narrow pass, partial aggregation does the min map-side. */
  private def signatures(sh: DataFrame): DataFrame = {
    val inv = sh.select(col("id"), explode(col("sh")).as("t"))
    val minAggs = perms.zipWithIndex.map { case ((a, b), i) =>
      min((col("t") * a + b) % MinHashP).as(s"m$i")
    }
    inv.groupBy(col("id")).agg(minAggs.head, minAggs.tail: _*)
  }

  /** (id, band, band_sig) LSH banding of the MinHash signatures. */
  private def bandsOf(sh: DataFrame): DataFrame = {
    val sigCols = (0 until NumPerms).map(i => col(s"m$i"))
    signatures(sh).select(col("id"),
      posexplode(array((0 until Bands).map { bd =>
        concat_ws(",", sigCols.slice(bd * RowsPerBand, (bd + 1) * RowsPerBand).map(_.cast("string")): _*)
      }: _*)).as(Seq("band", "band_sig")))
  }

  /** Storable band signatures for MinHash dedup: (id, band, band_sig).
    * Persist alongside the corpus so every new ingest batch can be
    * deduplicated INCREMENTALLY against the whole history without
    * re-hashing a single old document — see `incrementalMinhashPairs`.
    * The hash family is a fixed deterministic constant, so signatures
    * written by any run band-join correctly with any other. */
  def minhashBandSignatures(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame =
    bandsOf(withShingles(docs, idCol, textCol))

  /** MinHash + LSH banding near-dup pairs, exact-Jaccard verified.
    * Candidates shuffle on (band index, band signature) carrying only
    * ids; shingle sets join back by id for the verify — the 100 TB
    * path. `tauBp` filters the verified pairs. */
  def minhashPairs(docs: DataFrame, tauBp: Long,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = withShingles(docs, idCol, textCol)
    val bands = bandsOf(sh)
    val cand = bands.toDF("a_id", "band", "band_sig")
      .join(bands.toDF("b_id", "band2", "band_sig2"),
        col("band") === col("band2") && col("band_sig") === col("band_sig2") &&
          col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    cand
      .join(sh.select(col("id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sh.select(col("id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("jaccard_bp", jaccardBp(col("a_sh"), col("b_sh")))
      .where(col("jaccard_bp") >= tauBp)
      .select(col("a_id").as("id1"), col("b_id").as("id2"), col("jaccard_bp"))
  }

  /** Incremental MinHash dedup: the near-dup pairs TOUCHING a new batch
    * — new×corpus candidates come from the STORED corpus band
    * signatures (no old text is re-shingled for candidate generation),
    * plus new×new candidates; both verified by exact Jaccard. Shingle
    * features for the verify are computed for the new batch and ONLY
    * the candidate old documents (left-semi pruned). Maintains the full
    * pair set incrementally:
    *   pairs(old ∪ new) == pairs(old) ∪ incremental(new, old, oldBands)
    * (spec-asserted). Precondition: batch ids are disjoint from corpus
    * ids (ingest assigns fresh ids). */
  def incrementalMinhashPairs(newDocs: DataFrame, corpusDocs: DataFrame,
                              corpusBands: DataFrame, tauBp: Long,
                              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val newSh = withShingles(newDocs, idCol, textCol)
    val newBands = bandsOf(newSh)
    val a = newBands.toDF("a_id", "band", "band_sig")
    val b = corpusBands.select(col("id"), col("band"), col("band_sig"))
      .unionByName(newBands).toDF("b_id", "band2", "band_sig2")
    val cand = a.join(b,
        col("band") === col("band2") && col("band_sig") === col("band_sig2") &&
          col("a_id") =!= col("b_id"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .distinct()
    // Semi-join prune BEFORE shingling: the filter must sit below the
    // shingle projection, or the whole corpus gets re-hashed just to be
    // discarded by the join.
    val candIds = cand.select(col("a_id").as(idCol))
      .unionAll(cand.select(col("b_id").as(idCol))).distinct()
    val oldSh = withShingles(
      corpusDocs.join(candIds, Seq(idCol), "left_semi"), idCol, textCol)
    val allSh = newSh.unionByName(oldSh)
    cand
      .join(allSh.select(col("id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(allSh.select(col("id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("jaccard_bp", jaccardBp(col("a_sh"), col("b_sh")))
      .where(col("jaccard_bp") >= tauBp)
      .select(col("a_id").as("id1"), col("b_id").as("id2"), col("jaccard_bp"))
  }

  // ---- SimHash ----

  /** Packed 64-bit SimHash per document via the native single-pass
    * kernel (distinct word-3-gram shingles -> xxhash64 -> +-1 votes per
    * bit, packed to one long). 8-byte signatures are what the shuffle
    * carries — not a 64-element array. */
  private def simhashSigs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.expressions.SimHashPacked.simhash64Native(
        docs.sparkSession, col(textCol)).as("sig"))

  /** Corpus size past which [[simhashPairs]] switches from 4x16-bit
    * exact-segment blocking to 2x32-bit radius-1 probed blocking.
    * Crossover arithmetic for uniform segments: the narrow scheme's
    * expected random-collision candidates are ~n²/2¹⁵ pairs (4 bands
    * over 2¹⁶ buckets), the wide scheme's fixed cost is ~66n probe
    * rows with ~n²·33/2³¹ collisions — equal near n ≈ 2×10⁶, and real
    * corpora skew hot segments so the narrow path degrades earlier.
    * Below the threshold the narrow path is strictly cheaper (no 33x
    * probe expansion); above it the candidate census stays ~linear
    * where the 16-bit bands re-quadratified (measured 8.8x per 10x
    * data at sf1→sf10 in round 13's scale artifact). */
  private[graft] val WideSegThreshold = 2000000L

  /** SimHash near-dup pairs at Hamming distance <= maxDist (<= 3; both
    * blockings below are lossless for it by pigeonhole). Candidates
    * shuffle only (id, packed segment key); signatures join back by id
    * and the Hamming verify is `bit_count(a ^ b)` — every step
    * whole-stage codegen'd (the former array formulation paid an
    * interpreted zip_with/aggregate fold per candidate pair).
    *
    * The BLOCKING adapts to the corpus (memoized count, same contract
    * as the LSH plane grid and the IVF list count): small corpora use
    * 4 exact 16-bit segments (3 errors leave >= 1 segment exact);
    * past [[WideSegThreshold]] docs the segments widen to 2x32 bits
    * with a Hamming<=1 probe ball per segment (3 errors leave some
    * segment with <= floor(3/2) = 1 error, and a 1-bit-off pair always
    * collides via the differing bit's flip probe) — per-bucket
    * occupancy drops by 2^16 for a fixed 66-key-per-doc probe cost.
    * Both paths feed the SAME exact verify, so the emitted pairs are
    * identical (DedupSpec pins wide == narrow); which path ran is
    * invisible in the result. */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val n = graft.operators.PlanCache.countMemo(docs)
    simhashPairsBlocked(docs, maxDist, idCol, textCol,
      wide = n >= WideSegThreshold)
  }

  /** [[simhashPairs]] with the blocking choice forced — the spec's
    * entry point for proving wide == narrow without a 2M-doc corpus. */
  private[graft] def simhashPairsBlocked(docs: DataFrame, maxDist: Int,
      idCol: String, textCol: String, wide: Boolean): DataFrame = {
    require(maxDist <= 3,
      "segment blocking (4 exact / 2 radius-1) covers Hamming distance <= 3")
    val sigs = simhashSigs(docs, idCol, textCol)
    val cand =
      if (!wide) {
        val seg = sigs.select(col("id"), posexplode(array((0 until 4).map { s =>
          shiftrightunsigned(col("sig"), s * 16).bitwiseAND(lit(0xffffL))
        }: _*)).as(Seq("seg_idx", "seg")))
        seg.toDF("a_id", "seg_idx", "seg")
          .join(seg.toDF("b_id", "seg_idx2", "seg2"),
            col("seg_idx") === col("seg_idx2") && col("seg") === col("seg2") &&
              col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id")).distinct()
      } else {
        // Segment s's keys are tagged with s in bits 32+: the two
        // segments' key spaces stay disjoint in ONE long join key.
        val segs = Seq(
          col("sig").bitwiseAND(lit(0xffffffffL)),
          shiftrightunsigned(col("sig"), 32))
        val exact = sigs.select(col("id"), explode(array(segs.zipWithIndex.map {
          case (s, i) => lit(i.toLong << 32).bitwiseOR(s)
        }: _*)).as("key"))
        // Probe ball: the exact key + all 32 single-bit flips per
        // segment. A pair differing by <= 1 bit in segment s collides
        // (0 bits: exact-exact via mask 0; 1 bit: the differing bit's
        // flip on either side meets the other's exact key), and the
        // a != b join plus least/greatest-distinct normalizes the
        // double discovery.
        val masks = 0L +: (0 until 32).map(1L << _).toSeq
        val probeKeys = segs.zipWithIndex.flatMap { case (s, i) =>
          masks.map(m => lit(i.toLong << 32).bitwiseOR(s.bitwiseXOR(lit(m))))
        }
        sigs.select(col("id").as("a_id"), explode(array(probeKeys: _*)).as("key"))
          .join(exact.toDF("b_id", "key2"),
            col("key") === col("key2") && col("a_id") =!= col("b_id"))
          .select(least(col("a_id"), col("b_id")).as("a"),
            greatest(col("a_id"), col("b_id")).as("b"))
          .toDF("a_id", "b_id")
          .distinct()
      }
    cand
      .join(sigs.select(col("id").as("a_id"), col("sig").as("a_sig")), "a_id")
      .join(sigs.select(col("id").as("b_id"), col("sig").as("b_sig")), "b_id")
      .withColumn("hamming",
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).cast("long"))
      .where(col("hamming") <= maxDist)
      .select(col("a_id").as("id1"), col("b_id").as("id2"), col("hamming"))
  }
}
