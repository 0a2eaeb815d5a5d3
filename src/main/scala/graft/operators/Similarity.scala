package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Pin.PinOps
import graft.functions.VectorFunctions._
import graft.expressions.FloatVecDot.vecDot

/** Similarity search over embedding columns (`array<float>`).
  *
  * `bruteForceTopK` is the exact baseline: broadcast the (small) query
  * set against the corpus — a map-side join, no shuffle of the corpus —
  * then a per-query top-k window. `lshTopK` is the 100 TB path: bucket
  * both sides with random-hyperplane LSH and join on bucket, turning the
  * cross join into an equijoin whose shuffle is keyed on buckets.
  *
  * L2 norms are computed once per vector before the join (one fold per
  * row instead of two extra folds per pair); the cosine denominator is
  * still sqrt(na)*sqrt(nb), bit-identical to computing it pairwise.
  */
object Similarity {

  /** floor(1e6 * cosine) from precomputed squared norms — the ONE place
    * the bit-exactness contract (floor at 1e6, sqrt(n1)*sqrt(n2)
    * denominator order) lives; exact, bucketed, and dedup paths all
    * share it so they can never drift apart. */
  def cosMicro(spark: org.apache.spark.sql.SparkSession,
               v1: Column, n1: Column, v2: Column, n2: Column): Column =
    floor(lit(1e6) * (vecDot(spark, v1, v2) / (sqrt(n1) * sqrt(n2)))).cast("long")

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors by cosine (integer micro-cosine for deterministic ties). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val spark = queries.sparkSession
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .withColumn("q_n", vecDot(spark, col("q_vec"), col("q_vec")))
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"),
      col("label").as("n_label"))
      .withColumn("n_n", vecDot(spark, col("n_vec"), col("n_vec")))
    val scored = broadcast(q).crossJoin(c)
      .where(col("q_id") =!= col("n_id"))
      .withColumn("cos_micro",
        cosMicro(spark, col("q_vec"), col("q_n"), col("n_vec"), col("n_n")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_micro").desc, col("n_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), col("n_label"), col("cos_micro"))
  }

  /** LSH-bucketed approximate top-k: candidates only within matching
    * hyperplane-sign buckets, then exact rescoring per candidate.
    *
    * `nPlanes = 0` (the default) ADAPTS the grid to the corpus:
    * ceil(log2(n / 16)) planes from one cheap MEMOIZED corpus count
    * (an EAGER action on first touch — batch corpora only; pass an
    * explicit `nPlanes` for anything the count can't serve), floor 8 —
    * expected bucket occupancy stays ~16 as the corpus grows, so
    * per-query candidate work is O(probes * 16) instead of the
    * O(n / 256) a fixed 8-plane grid degrades to (measured 6-10x
    * per data decade before this adapted). Multi-probe widens with the
    * grid: Hamming<=1 neighbor buckets at <=8 planes (the small-corpus
    * operating point, unchanged), Hamming<=2 at 9..13 planes, and
    * Hamming<=3 past that — the probe radius must GROW with p because
    * per-bit flip probability is fixed by the pair's angle while the
    * bit budget grows: at flip prob ~0.14 (cos ~0.9), P[<=1 flip of 8]
    * ~0.68 and P[<=2 of 11] ~0.63, but P[<=2 of 24] collapses to ~0.31
    * while P[<=3 of 24] holds ~0.55. The probe count 1 + p + p(p-1)/2
    * (+ p-choose-3 past 13 planes) grows only polynomially in log(n)
    * — ~3k probes at the 10^9-vector operating point p=26. Probe
    * buckets are single XORs on the packed-long key; the probe set is
    * pairwise-distinct by construction so a candidate matches at most
    * one probe and no distinct is needed. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, nPlanes: Int = 0): DataFrame = {
    val spark = queries.sparkSession
    val p = if (nPlanes > 0) nPlanes
            else graft.functions.VectorFunctions.adaptivePlanes(
              graft.operators.PlanCache.countMemo(corpus), targetOcc = 16)
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"),
      col("label").as("n_label"))
      .withColumn("n_n", vecDot(spark, col("n_vec"), col("n_vec")))
      .withColumn("bucket", lshBucket(spark, col("n_vec"), p))
    // multi-probe: own bucket + all 1-bit flips (+ 2-bit flips once the
    // grid is finer than the legacy 8 planes, + 3-bit flips past 13 —
    // the radius schedule that holds recall as the grid sharpens).
    val masks: Seq[Long] =
      Seq(0L) ++ (0 until p).map(1L << _) ++
        (if (p >= 9) for { i <- 0 until p; j <- (i + 1) until p }
           yield (1L << i) | (1L << j)
         else Seq.empty) ++
        (if (p >= 14) for { i <- 0 until p; j <- (i + 1) until p; l <- (j + 1) until p }
           yield (1L << i) | (1L << j) | (1L << l)
         else Seq.empty)
    val qBase = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .withColumn("q_n", vecDot(spark, col("q_vec"), col("q_vec")))
    // The broadcast probe relation is SLIM — (q_id, probe) keys only.
    // Exploding the probe ball onto rows that carry the embedding would
    // multiply the broadcast by the probe count (~3k at the 10^9-vector
    // operating point p=26 with the radius-3 schedule), which is exactly
    // the kind of driver-side blowup a 100 TB corpus cannot afford; the
    // query VECTORS join back by q_id afterwards from a second
    // broadcast that stays O(queries).
    val qProbes = qBase
      .withColumn("bucket0", lshBucket(spark, col("q_vec"), p))
      .select(col("q_id"), explode(array(masks.map(m =>
        col("bucket0").bitwiseXOR(lit(m))): _*)).as("probe"))
    // No distinct: the probe set (distinct XOR masks on one bucket key)
    // is pairwise-distinct by construction and each corpus vector has
    // exactly one bucket, so a (q_id, n_id) candidate matches at most
    // one probe — a dedup would cost a full exchange of every scored
    // candidate before WindowGroupLimit can prune to k per partition.
    val scored = broadcast(qProbes).join(c, col("probe") === col("bucket"))
      .join(broadcast(qBase), "q_id")
      .where(col("q_id") =!= col("n_id"))
      .withColumn("cos_micro",
        cosMicro(spark, col("q_vec"), col("q_n"), col("n_vec"), col("n_n")))
      .select(col("q_id"), col("n_id"), col("n_label"), col("cos_micro"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_micro").desc, col("n_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  /** Hard-negative mining for contrastive training: per query vector,
    * the k MOST similar corpus vectors with a DIFFERENT label — the
    * negatives that actually move an embedding model, versus random
    * negatives the model already separates. Exact anchor (broadcast
    * query set, map-side scan, per-query top-k): at 100 TB the same
    * label-inequality residual drops into any of the bucketed scans
    * (LSH/IVF/SQ8/PQ) exactly as it does here — candidate generation
    * is label-agnostic, the filter rides the scored scan before the
    * top-k, so mining cost equals the plain ANN cost. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val spark = queries.sparkSession
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
      col("label").as("q_label"))
      .withColumn("q_n", vecDot(spark, col("q_vec"), col("q_vec")))
    val c = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"),
      col("label").as("n_label"))
      .withColumn("n_n", vecDot(spark, col("n_vec"), col("n_vec")))
    val scored = broadcast(q).crossJoin(c)
      .where(col("q_id") =!= col("n_id") && col("q_label") =!= col("n_label"))
      .withColumn("cos_micro",
        cosMicro(spark, col("q_vec"), col("q_n"), col("n_vec"), col("n_n")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_micro").desc, col("n_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("q_id"), col("q_label"), col("rnk"), col("n_id"), col("n_label"),
        col("cos_micro"))
  }

  /** Lloyd-refined k-means centroids over the corpus embedding column.
    *
    * Seeded deterministically from the `nCentroids` lowest vec_ids, then
    * `iters` assignment/mean rounds. Each round is scale-shaped: the
    * assignment is MAP-ONLY (centroids are literal arrays compiled into
    * the plan — `array_position(projs, array_max(projs))` argmax, no
    * window, no shuffle of the corpus), and the mean is one
    * posexplode + hash aggregation on (cid, pos) with map-side partial
    * combine, so the shuffle carries k*dim partial sums per task, not
    * rows. Centroids themselves are tiny by definition and are collected
    * per round, which also truncates the iteration lineage.
    *
    * Memoized through [[PlanCache.valueMemo]] — "train once, probe
    * many": the IVF-family queries (topK, SQ8-composed, classify) share
    * one training per corpus plan and parameters. A hit returns exactly
    * what retraining would, because the centroids are BIT-stable
    * (deterministic sample + order-independent fixed-point mean). */
  def kmeansCentroids(corpus: DataFrame, nCentroids: Int, iters: Int = 3,
                      maxTrainRows: Long = 100000L): Array[Array[Float]] =
    PlanCache.valueMemo(corpus, s"kmeans:$nCentroids:$iters:$maxTrainRows")(
      trainKmeansCentroids(corpus, nCentroids, iters, maxTrainRows))

  /** Corpus-adaptive centroid count: k = ceil(sqrt(n)) from the
    * memoized corpus count, floor 16 — the FAISS-shaped nlist ~ sqrt(n)
    * operating point, where cluster count and expected list size BOTH
    * grow as sqrt(n), so a probe scans O(nProbe * sqrt(n)) candidates
    * instead of the nProbe * n / k_fixed a pinned k degrades to (the
    * same disease the hyperplane grid and SemDeDup's cluster count had
    * before they adapted). No upper cap: past
    * [[graft.expressions.CentroidOps.TwoLevelThreshold]] centroids,
    * assignment rides the two-level coarse-quantized kernel, so the
    * map-only cost per row is O(2*sqrt(k)*dim) at any k. */
  def adaptiveCentroids(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(math.max(1L, n).toDouble)).toInt)

  /** Recall-holding probe width for a k-list quantizer:
    * nProbe = ceil(sqrt(k)) — at the legacy k=16 this is exactly the
    * nProbe=4 the recall specs graded, and as k grows with the corpus
    * the probed candidate count n/sqrt(k) stays sublinear while the
    * probed FRACTION sqrt(k)/k shrinks. Derived from the quantizer's
    * own k (= its committed row count), so stored/streamed serves get
    * the same operating point as the trainer without extra state. */
  def adaptiveProbe(k: Int): Int =
    math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)

  /** Training-sample cap scaled to the centroid count: >= 20 training
    * rows per centroid once k outgrows the legacy 100k cap (k-means on
    * fewer degenerates to seed-echo), still a bounded driver-side
    * sample. */
  def trainRowsFor(k: Int): Long = math.max(100000L, 20L * k)

  private def trainKmeansCentroids(corpus: DataFrame, nCentroids: Int, iters: Int,
                                   maxTrainRows: Long): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // Centroid TRAINING runs on a deterministic hash sample bounded by
    // maxTrainRows — at 100 TB you train k-means on a sample and assign
    // the full corpus once, you never iterate Lloyd over 10^11 vectors.
    // The sample is hash-stable (no rand()) AND the Lloyd mean below is
    // an order-independent fixed-point integer sum, so centroids are
    // BIT-stable run-to-run regardless of partitioning (a floating
    // avg() would depend on partition-wise summation order).
    val train = corpus.where(
      pmod(xxhash64(col("vec_id")), lit(TrainSampleMod(corpus, maxTrainRows))) === 0)
      .pin(true)
    var cents: Array[Array[Float]] = train.orderBy(col("vec_id")).limit(nCentroids)
      .select(col("embedding")).as[Seq[Float]].collect().map(_.toArray)
    for (_ <- 0 until iters) {
      val means = train
        .withColumn("cid", nearestCentroidId(spark, col("embedding"), cents))
        .select(col("cid"), posexplode(col("embedding")))
        // Fixed-point mean: per-element round(x * 2^24) longs sum
        // order-independently (double addition does not), so the result
        // cannot drift with partition count. Quantization error 2^-24
        // per element is far below float precision of the centroids.
        .groupBy(col("cid"), col("pos")).agg(
          sum(round(col("col").cast("double") * FixedPointScale).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .select(col("cid"), col("pos"),
          (col("s").cast("double") / FixedPointScale / col("n")).as("m"))
        .as[(Int, Int, Double)].collect()
        .groupBy(_._1).map { case (cid, xs) =>
          cid -> xs.sortBy(_._2).map(_._3.toFloat)
        }
      // A cluster that lost every point keeps its previous centroid.
      cents = cents.indices.map(i => means.getOrElse(i, cents(i))).toArray
    }
    cents
  }

  /** Fixed-point scale (2^24) for the order-independent Lloyd mean:
    * float32 inputs are exact in double, and |x| * 2^24 over any
    * realistic sample count stays far under Long overflow. */
  private val FixedPointScale = (1L << 24).toDouble

  /** Sampling modulus keeping the expected training rows under the cap:
    * keep vec_ids with hash % mod == 0. Rides the memoized corpus
    * count, so adaptive-k derivation and sample sizing share one scan. */
  private def TrainSampleMod(corpus: DataFrame, maxTrainRows: Long): Long = {
    val n = graft.operators.PlanCache.countMemo(corpus)
    math.max(1L, n / math.max(1L, maxTrainRows))
  }

  /** Map-only nearest-centroid assignment via the native single-pass
    * [[graft.expressions.NearestCentroid]] kernel (argmax by
    * first-position-of-max, deterministic lowest-id ties — bit-identical
    * to the k-literal-dot Column formulation it replaces, which fell out
    * of whole-stage codegen at the adaptive sqrt-of-corpus k). */
  private def nearestCentroidId(spark: org.apache.spark.sql.SparkSession,
                                vec: Column, cents: Array[Array[Float]]): Column =
    graft.expressions.NearestCentroid.nearestCol(spark, vec, cents)

  /** IVF-style approximate top-k: corpus vectors are assigned to their
    * nearest of `nCentroids` k-means centroids (Lloyd-refined from a
    * deterministic seed), queries probe the `nProbe` nearest centroid
    * lists and rescore exactly. Versus hyperplane LSH this is the
    * data-adaptive bucketing: buckets follow the corpus distribution,
    * and nProbe trades recall for candidates scanned.
    *
    * `nCentroids = 0` / `nProbe = 0` (the defaults) ADAPT the quantizer
    * to the corpus: k = ceil(sqrt(n)) lists from the memoized corpus
    * count (an eager action on first touch — batch corpora only) and
    * nProbe = ceil(sqrt(k)), so a query scans O(n / sqrt(k)) candidates
    * instead of the fixed-k nProbe * n / 16 that stops pruning the
    * moment the corpus outgrows the gate scales. At 100 TB the corpus
    * assignment is map-only (centroids ride the plan; past
    * [[graft.expressions.CentroidOps.TwoLevelThreshold]] lists it runs
    * the two-level coarse-quantized kernel at O(2*sqrt(k)*dim) per row)
    * and search shuffles only the probed buckets. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCentroids: Int = 0, nProbe: Int = 0, kmeansIters: Int = 3): DataFrame = {
    val kc = if (nCentroids > 0) nCentroids
             else adaptiveCentroids(graft.operators.PlanCache.countMemo(corpus))
    val cents = kmeansCentroids(corpus, kc, kmeansIters, trainRowsFor(kc))
    // Materialized like ivfPqTopK's cq: the assigned corpus IS the
    // stored index (ann_ivf_stored reads it from the lake); deriving
    // it inline fuses the literal-centroid assignment into the probe
    // join's codegen stage. Measured 1.8 -> 0.8 s warm at sf1.
    ivfTopKStored(queries, assignToCentroids(corpus, cents).pin(false),
      cents, k, nProbe)
  }

  /** IVF search against a FROZEN quantizer over PRE-ASSIGNED inverted
    * lists — the read half of the incremental-index contract: the
    * quantizer was trained once (possibly on an earlier batch) and
    * committed to the lake, every arriving batch was assigned map-only
    * ([[assignToCentroids]]), and search probes the accumulated lists
    * without ever retraining or reshuffling history. `assigned` is the
    * corpus with its `cid` bucket column (vec_id, embedding, label,
    * cid). Plain [[ivfTopK]] is exactly this search over a
    * train-on-the-spot assignment. `nProbe = 0` (the default) derives
    * the probe width from the quantizer's OWN k ([[adaptiveProbe]]) —
    * the committed centroid rows version the operating point, so a
    * stored serve probes exactly what the trainer's serve did. */
  def ivfTopKStored(queries: DataFrame, assigned: DataFrame,
                    cents: Array[Array[Float]], k: Int, nProbe: Int = 0): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val np = if (nProbe > 0) nProbe else adaptiveProbe(cents.length)
    val c = assigned.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"),
      col("label").as("n_label"), col("cid").as("cent_id"))
      .withColumn("n_n", vecDot(spark, col("n_vec"), col("n_vec")))
    // Query probing: per-query top-nProbe centroids. The query side is
    // small by assumption, so a window over |q| * nCentroids rows is fine.
    val centsDf = broadcast(
      cents.zipWithIndex.map { case (cv, i) => (i, cv.toSeq) }.toSeq
        .toDF("cent_id", "cent_vec")
        .withColumn("cent_n", vecDot(spark, col("cent_vec"), col("cent_vec"))))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .withColumn("q_n", vecDot(spark, col("q_vec"), col("q_vec")))
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("cent_cos").desc, col("cent_id"))
    val probed = q.crossJoin(centsDf)
      .withColumn("cent_cos", vecDot(spark, col("q_vec"), col("cent_vec")) / sqrt(col("cent_n")))
      .withColumn("cent_rnk", row_number().over(wProbe)).where(col("cent_rnk") <= np)
      .drop("cent_vec", "cent_n", "cent_cos", "cent_rnk")
    // No distinct: each corpus vector lives in exactly ONE inverted
    // list (assignToCentroids emits one row per vector; the streaming
    // path's replay ledger prevents a batch landing twice), so (q_id,
    // n_id) candidates are already unique and a dedup would cost a
    // full exchange of every scored candidate BEFORE WindowGroupLimit
    // can prune to k per partition.
    val scored = broadcast(probed).join(c, "cent_id")
      .where(col("q_id") =!= col("n_id"))
      .withColumn("cos_micro",
        cosMicro(spark, col("q_vec"), col("q_n"), col("n_vec"), col("n_n")))
      .select(col("q_id"), col("n_id"), col("n_label"), col("cos_micro"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_micro").desc, col("n_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), col("n_label"), col("cos_micro"))
  }

  /** Exact float rescore of a (q_id, n_id) shortlist — the shared tail
    * of every quantized scan (SQ8, IVF+SQ8, PQ, IVF+PQ): only the
    * shortlist rows touch the original float embeddings, and the final
    * ordering (and every emitted cosine) is exact, so approximation
    * affects WHICH candidates are ranked, never their scores. */
  private def exactRescore(queries: DataFrame, corpus: DataFrame,
                           shortlist: DataFrame, k: Int): DataFrame = {
    val spark = queries.sparkSession
    val cf = corpus.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"),
      col("label").as("n_label"))
      .withColumn("n_n", vecDot(spark, col("n_vec"), col("n_vec")))
    val qf = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .withColumn("q_n", vecDot(spark, col("q_vec"), col("q_vec")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_micro").desc, col("n_id"))
    broadcast(shortlist).join(cf, "n_id").join(broadcast(qf), "q_id")
      .withColumn("cos_micro",
        cosMicro(spark, col("q_vec"), col("q_n"), col("n_vec"), col("n_n")))
      .withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), col("n_label"), col("cos_micro"))
  }

  /** Scalar-quantized (int8) approximate top-k — the memory-bandwidth
    * scale path: the candidate scan runs entirely over per-vector
    * symmetrically quantized int8 codes (4x smaller than float32 — at
    * 100 TB the quantized corpus is the column you keep hot; cosine
    * ranking over codes is scale-invariant because the per-vector
    * scales cancel in dot/(|a|*|b|)), then only the
    * `overFetch * k`-row shortlist is rescored exactly on the original
    * floats. Both the quantizer and the integer dot are native
    * codegen'd expressions (`vec_q8`, `vec_dot_i8`), so the hot scan
    * stays in whole-stage codegen. Recall vs the exact ranking is
    * spec'd; ties and the final ordering come from the EXACT rescore,
    * so agreement at high overFetch approaches 1. */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, k: Int, overFetch: Int = 4): DataFrame = {
    import graft.expressions.Int8Vec.{vecDotI8, vecQ8}
    val spark = queries.sparkSession
    // Quantized candidate scan: int8 codes + integer norms only.
    val cq = corpus.select(col("vec_id").as("n_id"),
        vecQ8(spark, col("embedding")).as("n_q"))
      .withColumn("n_qn", vecDotI8(spark, col("n_q"), col("n_q")))
    val qq = queries.select(col("vec_id").as("q_id"),
        vecQ8(spark, col("embedding")).as("q_q"))
      .withColumn("q_qn", vecDotI8(spark, col("q_q"), col("q_q")))
    // Shortlist selection through the NATIVE top-k operator: partial
    // per-partition heaps keep at most overFetch*k candidates per
    // (query, partition) before the exchange — the Window formulation
    // would shuffle EVERY scored candidate to rank it.
    val scoredQ = broadcast(qq).crossJoin(cq)
      .where(col("q_id") =!= col("n_id"))
      .withColumn("cos_q_micro",
        floor(lit(1e6) * (vecDotI8(spark, col("q_q"), col("n_q")).cast("double") /
          (sqrt(col("q_qn").cast("double")) * sqrt(col("n_qn").cast("double"))))).cast("long"))
      .select(col("q_id"), col("n_id"), col("cos_q_micro"))
    val shortlist = graft.operators.Windows.topKPerGroupNative(scoredQ, overFetch * k,
        Seq(col("q_id")), Seq(col("cos_q_micro").desc, col("n_id")))
      .select(col("q_id"), col("n_id"))
    exactRescore(queries, corpus, shortlist, k)
  }

  /** IVF + SQ8 composed — the standard large-scale ANN architecture
    * (inverted lists over scalar-quantized codes): centroid bucketing
    * prunes the corpus to the `nProbe` probed lists, the candidate scan
    * INSIDE those lists runs over int8 codes, and only the
    * `overFetch * k` shortlist is rescored on the original floats. The
    * two reductions multiply: at 100 TB the hot scan touches
    * ~(nProbe/nCentroids) of the corpus at 1/4 the bytes per vector —
    * with default parameters a 16x cut in scanned bytes versus the
    * exact float scan, before any recall loss beyond IVF's probe miss
    * (SQ8 ranking is scale-invariant, see `sq8TopK`). Assignment is
    * map-only (literal centroids), the probe join is an equijoin on
    * cent_id, and every kernel (vec_q8, vec_dot_i8, vec_dot) is a
    * native codegen'd expression. */
  def ivfSq8TopK(queries: DataFrame, corpus: DataFrame, k: Int,
                 nCentroids: Int = 0, nProbe: Int = 0, overFetch: Int = 4,
                 kmeansIters: Int = 3): DataFrame = {
    import graft.expressions.Int8Vec.{vecDotI8, vecQ8}
    val spark = queries.sparkSession
    import spark.implicits._
    val kc = if (nCentroids > 0) nCentroids
             else adaptiveCentroids(graft.operators.PlanCache.countMemo(corpus))
    val np = if (nProbe > 0) nProbe else adaptiveProbe(kc)
    val cents = kmeansCentroids(corpus, kc, kmeansIters, trainRowsFor(kc))
    // Stored/hot corpus representation: (centroid list id, int8 codes).
    val cq = corpus.select(col("vec_id").as("n_id"),
        vecQ8(spark, col("embedding")).as("n_q"),
        nearestCentroidId(spark, col("embedding"), cents).as("cent_id"))
      .withColumn("n_qn", vecDotI8(spark, col("n_q"), col("n_q")))
    val centsDf = broadcast(
      cents.zipWithIndex.map { case (cv, i) => (i, cv.toSeq) }.toSeq
        .toDF("cent_id", "cent_vec")
        .withColumn("cent_n", vecDot(spark, col("cent_vec"), col("cent_vec"))))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .withColumn("q_q", vecQ8(spark, col("q_vec")))
      .withColumn("q_qn", vecDotI8(spark, col("q_q"), col("q_q")))
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("cent_cos").desc, col("cent_id"))
    val probed = q.crossJoin(centsDf)
      .withColumn("cent_cos", vecDot(spark, col("q_vec"), col("cent_vec")) / sqrt(col("cent_n")))
      .withColumn("cent_rnk", row_number().over(wProbe)).where(col("cent_rnk") <= np)
      .select(col("q_id"), col("q_q"), col("q_qn"), col("cent_id"))
    // Quantized candidate scan, restricted to the probed lists.
    val wQ = Window.partitionBy(col("q_id")).orderBy(col("cos_q_micro").desc, col("n_id"))
    val shortlist = broadcast(probed).join(cq, "cent_id")
      .where(col("q_id") =!= col("n_id"))
      .withColumn("cos_q_micro",
        floor(lit(1e6) * (vecDotI8(spark, col("q_q"), col("n_q")).cast("double") /
          (sqrt(col("q_qn").cast("double")) * sqrt(col("n_qn").cast("double"))))).cast("long"))
      // No dedup needed: each corpus vector lives in exactly ONE
      // centroid list and probed lists are distinct per query, so a
      // (q_id, n_id) candidate occurs at most once.
      .select(col("q_id"), col("n_id"), col("cos_q_micro"))
      .withColumn("q_rnk", row_number().over(wQ)).where(col("q_rnk") <= overFetch * k)
      .select(col("q_id"), col("n_id"))
    exactRescore(queries, corpus, shortlist, k)
  }

  /** Product-quantization codebooks: `nSub` subspaces, each with its own
    * `nCodes`-centroid k-means codebook trained by Lloyd iterations on a
    * deterministic hash-bounded sample. Training is DRIVER-side over the
    * bounded sample (the documented train-on-sample design: at 100 TB
    * you never iterate Lloyd distributedly over 10^11 vectors; the
    * sample collect is <= maxTrainRows rows once, and driver arithmetic
    * is trivially bit-stable). Encoding and search stay distributed.
    * Memoized like [[kmeansCentroids]]. */
  def pqCodebooks(corpus: DataFrame, nSub: Int, nCodes: Int,
                  kmeansIters: Int = 4, maxTrainRows: Long = 20000L): Array[Array[Array[Float]]] =
    PlanCache.valueMemo(corpus, s"pq:$nSub:$nCodes:$kmeansIters:$maxTrainRows")(
      trainPqCodebooks(corpus, nSub, nCodes, kmeansIters, maxTrainRows))

  private def trainPqCodebooks(corpus: DataFrame, nSub: Int, nCodes: Int,
                               kmeansIters: Int, maxTrainRows: Long): Array[Array[Array[Float]]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = corpus.where(
        pmod(xxhash64(col("vec_id")), lit(TrainSampleMod(corpus, maxTrainRows))) === 0)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().sortBy(_._1).map(_._2.toArray)
    require(sample.nonEmpty, "pq training sample is empty")
    val dim = sample.head.length
    require(dim % nSub == 0, s"dim=$dim not divisible by nSub=$nSub")
    val subDim = dim / nSub
    Array.tabulate(nSub) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      // Seed from the first nCodes sample sub-vectors (sample is sorted
      // by vec_id, so seeding is deterministic), then Lloyd with L2
      // assignment; an emptied cluster keeps its previous centroid.
      var cents = Array.tabulate(nCodes)(i => sub(i % sub.length).clone())
      for (_ <- 0 until kmeansIters) {
        val sums = Array.fill(nCodes, subDim)(0.0)
        val counts = new Array[Long](nCodes)
        sub.foreach { v =>
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < nCodes) {
            var d = 0.0; var i = 0
            while (i < subDim) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < subDim) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
        }
        cents = Array.tabulate(nCodes) { c =>
          if (counts(c) == 0) cents(c)
          else Array.tabulate(subDim)(i => (sums(c)(i) / counts(c)).toFloat)
        }
      }
      cents
    }
  }

  /** Map-only PQ encoding: per subspace, the L2-nearest codebook entry.
    * Codebooks are plan literals; dist^2 = |v|^2 - 2 v·c + |c|^2 ranks
    * by (v·c - |c|^2/2), so the argmax runs on one fold per code. The
    * code array is `nSub` small ints (stored as TINYINT at rest —
    * `nSub` bytes per vector, a dim*4/nSub-fold compression of the
    * scanned column: 32x at dim=64, nSub=8). */
  private def pqEncode(spark: org.apache.spark.sql.SparkSession,
                       vec: Column, books: Array[Array[Array[Float]]]): Column = {
    val nSub = books.length
    val subDim = books(0)(0).length
    array(books.zipWithIndex.toSeq.map { case (book, s) =>
      val sub = slice(vec, s * subDim + 1, subDim)
      val scores = array(book.toSeq.map { cv =>
        val halfNorm = cv.map(x => x.toDouble * x.toDouble).sum / 2.0
        vecDot(spark, sub, typedLit(cv.toSeq)) - lit(halfNorm)
      }: _*)
      (array_position(scores, array_max(scores)) - 1).cast("int")
    }: _*)
  }

  /** Product-quantization approximate top-k via asymmetric distance
    * computation (ADC) — the memory-bandwidth scale path beyond SQ8:
    * the corpus at scan time is `nSub` one-byte codes + one stored
    * float norm per vector (~16 bytes/vector at nSub=8 vs 256 for the
    * float32 embedding). Per query a lookup table
    * LUT[s][c] = q_sub_s · codebook[s][c] is computed ONCE (map-only,
    * literal codebooks), and each candidate's approximate dot is just
    * `nSub` table lookups + adds (`zip_with` + `aggregate` over the
    * code array) — O(nSub) per pair instead of O(dim). The
    * `overFetch*k` shortlist is rescored exactly on the floats, so the
    * final ordering is exact-cosine. Recall vs brute force is spec'd. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             nSub: Int = 8, nCodes: Int = 32, overFetch: Int = 8,
             kmeansIters: Int = 4): DataFrame = {
    val books = pqCodebooks(corpus, nSub, nCodes, kmeansIters)
    // Materialized for the same reason as ivfPqTopK's cq: fusing the
    // 256-literal-dot encode into the ADC scan stage pushes the
    // generated match loop past the JIT budget (interpreted hot loop).
    pqTopKStored(queries, pqEncodeTable(corpus, books).pin(false),
      books, corpus, k, overFetch)
  }

  /** Map-only PQ encoding of a corpus (batch) into its stored index
    * representation: (n_id, nSub one-byte codes, exact float norm) —
    * what the lake persists per vector. Codebooks ride as plan
    * literals, so encoding a new batch costs one scan of the batch and
    * never reshuffles (the same frozen-quantizer contract as IVF
    * assignment). */
  def pqEncodeTable(corpus: DataFrame, books: Array[Array[Array[Float]]]): DataFrame = {
    val spark = corpus.sparkSession
    corpus.select(col("vec_id").as("n_id"),
      pqEncode(spark, col("embedding"), books).as("n_codes"),
      vecDot(spark, col("embedding"), col("embedding")).as("n_n"))
  }

  /** PQ/ADC top-k over a STORED code table (see [[pqTopK]], which is
    * this over a freshly encoded corpus): the candidate scan reads
    * only the ~16-byte code rows; `corpus` supplies the original
    * floats for the shortlist rescore (an id-keyed fetch of
    * `overFetch*k` rows per query — at scale, the point lookup a
    * serving layer does against primary storage). */
  def pqTopKStored(queries: DataFrame, codes: DataFrame,
                   books: Array[Array[Array[Float]]], corpus: DataFrame,
                   k: Int, overFetch: Int = 8): DataFrame = {
    val spark = queries.sparkSession
    val nSub = books.length
    val cq = codes
    // Per-query LUT: nSub x nCodes approximate-dot entries.
    val lut = array(books.zipWithIndex.toSeq.map { case (book, s) =>
      val subDim = book(0).length
      val sub = slice(col("q_vec"), s * subDim + 1, subDim)
      array(book.toSeq.map(cv => vecDot(spark, sub, typedLit(cv.toSeq))): _*)
    }: _*)
    val qq = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .withColumn("q_n", vecDot(spark, col("q_vec"), col("q_vec")))
      .withColumn("lut", lut)
    // ADC candidate scan: approx_dot = sum_s LUT[s][code_s]. Unrolled
    // over the (small, compile-time) nSub as plain element_at sums —
    // higher-order array functions (zip_with/aggregate) run their
    // lambdas interpreted per pair, which dominated the scan; the
    // unrolled form stays in whole-stage codegen.
    val approxDot = (0 until nSub).map { s =>
      element_at(element_at(col("lut"), s + 1),
        element_at(col("n_codes"), s + 1) + 1)
    }.reduce(_ + _)
    // Native top-k shortlist (see sq8TopK): per-partition partial heaps
    // instead of shuffling every ADC-scored candidate through a Window.
    val scoredQ = broadcast(qq.select(col("q_id"), col("q_n"), col("lut"))).crossJoin(cq)
      .where(col("q_id") =!= col("n_id"))
      .withColumn("cos_pq_micro",
        floor(lit(1e6) * approxDot / (sqrt(col("q_n")) * sqrt(col("n_n")))).cast("long"))
      .select(col("q_id"), col("n_id"), col("cos_pq_micro"))
    val shortlist = graft.operators.Windows.topKPerGroupNative(scoredQ, overFetch * k,
        Seq(col("q_id")), Seq(col("cos_pq_micro").desc, col("n_id")))
      .select(col("q_id"), col("n_id"))
    exactRescore(queries, corpus, shortlist, k)
  }

  /** IVF + PQ composed (IVF-PQ) — the standard billion-vector
    * architecture (public form: Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", and the FAISS IVFPQ index):
    * inverted centroid lists prune the corpus to the `nProbe` probed
    * lists, the scan INSIDE those lists is the PQ/ADC form — `nSub`
    * one-byte codes per vector against a per-query lookup table,
    * O(nSub) per pair — and only the `overFetch * k` shortlist is
    * rescored on the original floats. The reductions multiply: at
    * 100 TB the hot scan touches ~(nProbe/nCentroids) of the corpus
    * at ~16 bytes per vector (vs 256 for float32), a 64x cut in
    * scanned bytes with default parameters — the step beyond
    * `ivfSq8TopK` (16x) and flat `pqTopK` (which still touches every
    * vector's codes). Assignment and encoding are map-only (literal
    * centroids/codebooks), the probe join is an equijoin on cent_id,
    * the ADC sum is unrolled into codegen-friendly element_at chains,
    * and the shortlist rides the native bounded-memory top-k. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nCentroids: Int = 0, nProbe: Int = 0,
                nSub: Int = 8, nCodes: Int = 32, overFetch: Int = 8,
                kmeansIters: Int = 3): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val kc = if (nCentroids > 0) nCentroids
             else adaptiveCentroids(graft.operators.PlanCache.countMemo(corpus))
    val np = if (nProbe > 0) nProbe else adaptiveProbe(kc)
    val cents = kmeansCentroids(corpus, kc, kmeansIters, trainRowsFor(kc))
    val books = pqCodebooks(corpus, nSub, nCodes)
    // Stored/hot corpus representation: (centroid list id, PQ codes,
    // stored float norm) — what the lake would persist for this index.
    // MATERIALIZED before the probe join (a serving layer reads these
    // rows from the lake; only this in-process test path derives them
    // inline): without the stage boundary, whole-stage codegen fuses
    // the 256-literal-dot encode + 16-dot assignment into the join
    // stage's match loop, whose generated method then exceeds the JIT
    // bytecode budget and the ENTIRE hot loop (including the per-pair
    // ADC sum) runs interpreted — measured 42 s vs 2.4 s at sf1 for
    // the identical candidate set.
    val cq = corpus.select(col("vec_id").as("n_id"),
      pqEncode(spark, col("embedding"), books).as("n_codes"),
      vecDot(spark, col("embedding"), col("embedding")).as("n_n"),
      nearestCentroidId(spark, col("embedding"), cents).as("cent_id"))
      .pin(false)
    val centsDf = broadcast(
      cents.zipWithIndex.map { case (cv, i) => (i, cv.toSeq) }.toSeq
        .toDF("cent_id", "cent_vec")
        .withColumn("cent_n", vecDot(spark, col("cent_vec"), col("cent_vec"))))
    // Per-query ADC lookup table (see pqTopK) + probed centroid ids.
    val lut = array(books.zipWithIndex.toSeq.map { case (book, s) =>
      val subDim = book(0).length
      val sub = slice(col("q_vec"), s * subDim + 1, subDim)
      array(book.toSeq.map(cv => vecDot(spark, sub, typedLit(cv.toSeq))): _*)
    }: _*)
    // PINNED before the probe crossJoin: the LUT is 256 small literal-
    // codebook folds whose expression tree runs interpreted (the same
    // fell-out-of-codegen shape LshBands replaced) — left lazy it
    // re-evaluates once per (query x centroid) probe row, scaling the
    // probe stage with k (measured 2.0 -> 5.6 s at sf1 going k=16 ->
    // 142). Materialized it runs once per QUERY (|q| rows, ~2 KB each).
    val qq = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .withColumn("q_n", vecDot(spark, col("q_vec"), col("q_vec")))
      .withColumn("lut", lut)
      .pin(false)
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("cent_cos").desc, col("cent_id"))
    val probed = qq.crossJoin(centsDf)
      .withColumn("cent_cos", vecDot(spark, col("q_vec"), col("cent_vec")) / sqrt(col("cent_n")))
      .withColumn("cent_rnk", row_number().over(wProbe)).where(col("cent_rnk") <= np)
      .select(col("q_id"), col("q_n"), col("lut"), col("cent_id"))
    // ADC scan restricted to the probed lists (each corpus vector lives
    // in exactly ONE list, so no candidate dedup is needed).
    val approxDot = (0 until nSub).map { s =>
      element_at(element_at(col("lut"), s + 1),
        element_at(col("n_codes"), s + 1) + 1)
    }.reduce(_ + _)
    val scoredQ = broadcast(probed).join(cq, "cent_id")
      .where(col("q_id") =!= col("n_id"))
      .withColumn("cos_pq_micro",
        floor(lit(1e6) * approxDot / (sqrt(col("q_n")) * sqrt(col("n_n")))).cast("long"))
      .select(col("q_id"), col("n_id"), col("cos_pq_micro"))
    val shortlist = graft.operators.Windows.topKPerGroupNative(scoredQ, overFetch * k,
        Seq(col("q_id")), Seq(col("cos_pq_micro").desc, col("n_id")))
      .select(col("q_id"), col("n_id"))
    exactRescore(queries, corpus, shortlist, k)
  }

  /** LSH-banded embedding near-dup pairs — the scale path for the
    * exact all-pairs embedding dedup, with the SAME pigeonhole blocking
    * the SimHash path uses: each vector gets `nBands` independent
    * hyperplane-sign band keys of `bandBits` bits each (band s drawn
    * from the disjoint plane family [s*bandBits, (s+1)*bandBits)), and
    * only pairs agreeing EXACTLY on some band are scored. Lossless by
    * pigeonhole for any pair whose full (nBands*bandBits)-bit signature
    * differs in < nBands bits; a cos-0.995 pair flips ~1 bit of 36 in
    * expectation, so P[caught] > 0.98 — strictly better than the
    * retired single-table grid at the same candidate budget.
    *
    * `bandBits = 0` (the default) ADAPTS to the corpus:
    * ceil(log2(n / 4)) bits per band from one cheap count, floor 8 —
    * per-band expected occupancy stays ~4 as the corpus grows, so
    * candidates are O(nBands * occ * n) = LINEAR in n instead of the
    * O(n^2 / 2^fixedPlanes) the fixed grid degraded to (measured 11.2x
    * per data decade). 100 TB shape: the band join shuffles only
    * (8-byte id, 4-byte band key); embeddings join back BY ID for the
    * exact rescore, and a pair that agrees on several bands is
    * collapsed by a distinct on bare id pairs before any vector math. */
  def lshNearDupPairs(corpus: DataFrame, bandBits: Int = 0, nBands: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    val bb = if (bandBits > 0) bandBits
             else graft.functions.VectorFunctions.adaptivePlanes(
               graft.operators.PlanCache.countMemo(corpus), targetOcc = 4)
    val c = corpus.select(col("vec_id"), col("embedding"))
      .withColumn("n", vecDot(spark, col("embedding"), col("embedding")))
    val bands = c.select(col("vec_id").as("id"),
      posexplode(graft.expressions.LshBands.lshBands(spark, col("embedding"), nBands, bb))
        .as(Seq("band_idx", "band_key")))
    val cand = bands.toDF("id1", "band_idx", "band_key")
      .join(bands.toDF("id2", "band_idx2", "band_key2"),
        col("band_idx") === col("band_idx2") && col("band_key") === col("band_key2") &&
          col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
    cand
      .join(c.select(col("vec_id").as("id1"), col("embedding").as("v1"),
        col("n").as("n1")), "id1")
      .join(c.select(col("vec_id").as("id2"), col("embedding").as("v2"),
        col("n").as("n2")), "id2")
      .withColumn("cos_micro",
        cosMicro(spark, col("v1"), col("n1"), col("v2"), col("n2")))
      .select(col("id1"), col("id2"), col("cos_micro"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    * 1998): from each query's exact top-`kCand` cosine shortlist,
    * greedily select `kSel` results that trade relevance against
    * redundancy — pick_i = argmax over unselected candidates of
    * lambda*rel - (1-lambda)*max_sim_to_selected, with lambda=0.7.
    * The diversification a RAG retrieval layer runs so the context
    * window isn't five copies of the same passage.
    *
    * All scoring stays in integer micro-cosines and the score is the
    * UNDIVIDED 10x form `7*rel - 3*maxsim` (division-free: trunc-vs-
    * floor on negative cosines can't diverge between engines), so the
    * DuckDB oracle — the same greedy unrolled round by round — is
    * hash-exact. Every round is a join + partial-agg max + per-group
    * argmax over (queries x kCand)-bounded frames partitioned by q_id;
    * nothing scales with the corpus beyond the shortlist step. */
  def mmrTopK(queries: DataFrame, corpus: DataFrame,
              kCand: Int = 20, kSel: Int = 5): DataFrame = {
    val spark = queries.sparkSession
    val cand = bruteForceTopK(queries, corpus, kCand)
      .select(col("q_id"), col("n_id"), col("cos_micro").as("rel"))
      .pin(false)
    // Pairwise sims WITHIN each query's candidate set: (q, kCand^2)
    // rows, an equijoin on q_id — never corpus x corpus.
    val ce = cand.join(
        corpus.select(col("vec_id"), col("embedding")), col("n_id") === col("vec_id"))
      .withColumn("n", vecDot(spark, col("embedding"), col("embedding")))
      .select(col("q_id"), col("n_id"), col("rel"), col("embedding"), col("n"))
    val a = ce.select(col("q_id"), col("n_id").as("aid"), col("embedding").as("va"), col("n").as("na"))
    val b = ce.select(col("q_id").as("q2"), col("n_id").as("bid"), col("embedding").as("vb"), col("n").as("nb"))
    val ps = a.join(b, col("q_id") === col("q2") && col("aid") =!= col("bid"))
      .withColumn("sim", cosMicro(spark, col("va"), col("na"), col("vb"), col("nb")))
      .select(col("q_id"), col("aid"), col("bid"), col("sim"))
      .pin(false)
    val wPick = Window.partitionBy(col("q_id")).orderBy(col("score_x10").desc, col("n_id"))
    var picks = cand
      .withColumn("score_x10", col("rel") * 7L)
      .withColumn("rn", row_number().over(wPick)).where(col("rn") === 1)
      .select(col("q_id"), lit(1).as("mmr_rank"), col("n_id"), col("score_x10"))
    for (i <- 2 to kSel) {
      val selSet = picks.select(col("q_id").as("sq"), col("n_id").as("s_id"))
      val ms = ps.join(selSet, col("q_id") === col("sq") && col("bid") === col("s_id"))
        .groupBy(col("q_id").as("mq"), col("aid"))
        .agg(max(col("sim")).as("maxsim"))
      val rem = cand.join(selSet,
          col("q_id") === col("sq") && col("n_id") === col("s_id"), "left_anti")
      val scored = rem.join(ms, col("q_id") === col("mq") && col("n_id") === col("aid"))
        .withColumn("score_x10", col("rel") * 7L - col("maxsim") * 3L)
      val pick = scored.withColumn("rn", row_number().over(wPick)).where(col("rn") === 1)
        .select(col("q_id"), lit(i).as("mmr_rank"), col("n_id"), col("score_x10"))
      picks = picks.unionAll(pick).pin(false)
    }
    picks
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    * arXiv:2303.09540) — the data-adaptive scale path for embedding
    * dedup, complementing the hyperplane-LSH one above: k-means
    * cluster the corpus (bounded-sample Lloyd, bit-stable centroids —
    * the same trainer the IVF index uses), then score pairs only
    * WITHIN a cluster. Versus fixed hyperplanes the buckets follow the
    * corpus distribution, so duplicate-dense regions get finer
    * partitions. The candidate join is an equijoin on the centroid id;
    * nothing O(n^2) unblocked. Recall vs the exact all-pairs dedup is
    * spec'd in SimilaritySpec.
    *
    * `nCentroids = 0` (the default) ADAPTS the cluster count to the
    * corpus: k = ceil(sqrt(n)) from the memoized corpus count, floor 8
    * and NO ceiling — expected cluster size and cluster count BOTH grow
    * as sqrt(n), so within-cluster candidate pairs are O(n^1.5) instead
    * of the O(n^2 / k_fixed) a pinned k degrades to (the same disease
    * the hyperplane grid had; measured 5.5x per data decade before this
    * adapted). The old 4096 ceiling re-introduced n^2/4096 pair growth
    * past ~1.7e7 vectors; it existed because assignment cost O(k*dim)
    * per row — lifted now that the argmax rides the
    * [[graft.expressions.NearestCentroid]] kernel's two-level
    * coarse-quantized scan (O(2*sqrt(k)*dim) per row past 64 clusters),
    * with the training sample scaled to >= 20 rows per cluster. */
  def adaptiveClusterCount(n: Long): Int =
    math.max(8, math.ceil(math.sqrt(math.max(1L, n).toDouble)).toInt)

  def semanticNearDupPairs(corpus: DataFrame, nCentroids: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    val k0 = if (nCentroids > 0) nCentroids
             else adaptiveClusterCount(graft.operators.PlanCache.countMemo(corpus))
    val cents = kmeansCentroids(corpus, k0, iters = 3, maxTrainRows = trainRowsFor(k0))
    val c = corpus.select(col("vec_id"), col("embedding"))
      .withColumn("n", vecDot(spark, col("embedding"), col("embedding")))
      .withColumn("cid", nearestCentroidId(spark, col("embedding"), cents))
    val a = c.select(col("vec_id").as("id1"), col("embedding").as("v1"),
      col("n").as("n1"), col("cid"))
    val b = c.select(col("vec_id").as("id2"), col("embedding").as("v2"),
      col("n").as("n2"), col("cid").as("cid2"))
    a.join(b, col("cid") === col("cid2") && col("id1") < col("id2"))
      .withColumn("cos_micro",
        cosMicro(spark, col("v1"), col("n1"), col("v2"), col("n2")))
      .select(col("cid"), col("id1"), col("id2"), col("cos_micro"))
  }

  /** Majority vote over a (q_id, n_label) neighbor set: most frequent
    * label wins, smaller label on ties. */
  private def majorityVote(nn: DataFrame): DataFrame = {
    val votes = nn.groupBy(col("q_id"), col("n_label")).agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("votes").desc, col("n_label"))
    votes.withColumn("r", row_number().over(w)).where(col("r") === 1)
      .select(col("q_id"), col("n_label").as("predicted_label"), col("votes"))
  }

  /** kNN majority-vote classification of query vectors (k nearest by
    * cosine, most frequent label wins, smaller label on ties). Exact:
    * the oracle anchor; `knnClassifyLsh` is the bucketed scale path. */
  def knnClassify(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    majorityVote(bruteForceTopK(queries, corpus, k))

  /** Bucketed kNN classification — the 100 TB path: vote over LSH
    * candidate neighbors instead of the full-corpus cross join. The
    * candidate generation is the bucket equijoin from `lshTopK`;
    * agreement with the exact classifier is recall-spec'd. */
  def knnClassifyLsh(queries: DataFrame, corpus: DataFrame, k: Int,
                     nPlanes: Int = 0): DataFrame =
    majorityVote(lshTopK(queries, corpus, k, nPlanes))

  /** IVF-bucketed kNN classification (data-adaptive buckets; the
    * defaults adapt the quantizer to the corpus like [[ivfTopK]]). */
  def knnClassifyIvf(queries: DataFrame, corpus: DataFrame, k: Int,
                     nCentroids: Int = 0, nProbe: Int = 0): DataFrame =
    majorityVote(ivfTopK(queries, corpus, k, nCentroids, nProbe))

  /** Persist a trained quantizer to the lake: one row per (cid,
    * embedding). The index-maintenance contract a daily embedding drop
    * needs — the quantizer is trained ONCE, frozen, and every later
    * batch is assigned against the stored centroids (map-only), so
    * posting lists grow incrementally and historical assignments stay
    * valid. Float32 round-trips parquet exactly, so the reloaded
    * quantizer is bit-identical to the trained one (spec-asserted). */
  def saveCentroids(spark: org.apache.spark.sql.SparkSession,
                    cents: Array[Array[Float]], path: String): Unit =
    centroidsDf(spark, cents).coalesce(1).write.mode("overwrite").parquet(path)

  /** Reload a stored quantizer (small by definition: nCentroids rows). */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                    path: String): Array[Array[Float]] = {
    import spark.implicits._
    centroidsFromDf(spark.read.parquet(path))
  }

  /** A quantizer as a lake table, one row per centroid — the codec a
    * frozen quantizer ([[graft.sinks.VersionedTable.frozen]]) is
    * stored and reloaded through. */
  def centroidsDf(spark: org.apache.spark.sql.SparkSession,
                  cents: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "embedding")
  }

  def centroidsFromDf(df: DataFrame): Array[Array[Float]] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.orderBy(col("cid"))
      .select(col("embedding")).as[Seq[Float]].collect().map(_.toArray)
  }

  /** PQ codebooks as a lake table: one row per (sub, code, vector).
    * Float32 round-trips parquet exactly, so a reloaded codebook is
    * bit-identical to the trained one (spec-asserted, same contract as
    * the IVF quantizer). */
  def codebooksDf(spark: org.apache.spark.sql.SparkSession,
                  books: Array[Array[Array[Float]]]): DataFrame = {
    import spark.implicits._
    (for { (book, s) <- books.zipWithIndex; (cv, c) <- book.zipWithIndex }
      yield (s, c, cv.toSeq)).toSeq.toDF("sub", "code", "vec")
  }

  def codebooksFromDf(df: DataFrame): Array[Array[Array[Float]]] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("sub"), col("code"), col("vec"))
      .as[(Int, Int, Seq[Float])].collect()
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3.toArray))
  }

  /** Map-only assignment of a vector batch to a (stored) quantizer:
    * centroids ride the plan as literals — no shuffle, no training.
    * Because assignment is row-independent, incrementally indexing
    * batch after batch against the frozen quantizer lands every vector
    * in exactly the bucket a full rebuild would (spec-asserted). */
  def assignToCentroids(vectors: DataFrame, cents: Array[Array[Float]]): DataFrame =
    vectors.withColumn("cid",
      nearestCentroidId(vectors.sparkSession, col("embedding"), cents))

  /** Per-cluster statistics of the deterministic k-means partition —
    * the corpus-survey step SemDeDup-style pruning and data-mixing
    * decisions run before touching documents: cluster sizes, label
    * purity (dominant label + its share), and cohesion (integer
    * micro-cosine of each member to its own centroid, summed order-
    * independently). Assignment is map-only against literal centroids
    * (no shuffle of the corpus); the only shuffle is the final
    * nCentroids-group aggregation, so the whole query is one pass at
    * any scale. Deterministic because the centroids are bit-stable
    * (hash-sampled training + fixed-point Lloyd means) and every
    * emitted stat is integer arithmetic. */
  def clusterStats(corpus: DataFrame, nCentroids: Int = 16): DataFrame = {
    val spark = corpus.sparkSession
    val cents = kmeansCentroids(corpus, nCentroids)
    val cd = broadcast(centroidsDf(spark, cents)
      .select(col("cid").as("cid2"), col("embedding").as("cvec"))
      .withColumn("cn", vecDot(spark, col("cvec"), col("cvec"))))
    val member = assignToCentroids(corpus, cents)
      .withColumn("n", vecDot(spark, col("embedding"), col("embedding")))
      .join(cd, col("cid") === col("cid2"))
      .withColumn("cos_c",
        cosMicro(spark, col("embedding"), col("n"), col("cvec"), col("cn")))
    // ONE corpus pass: the (cid, label) partial aggregation carries
    // everything — sizes, label counts, cohesion sums — so the scan +
    // map-only assignment run once and the reaggregation to nCentroids
    // groups is label-count-sized.
    // The lazy checkpoint pins the (nCentroids x nLabels)-row result,
    // so the corpus scan + assignment genuinely run once even though
    // two consumers (sizes, dominant label) branch from here — Spark
    // does not CSE shared DataFrame subtrees on its own.
    val perLabel = member.groupBy(col("cid"), col("label")).agg(
      count(lit(1)).as("lc"),
      sum(col("cos_c")).as("sc"),
      min(col("cos_c")).as("mc"))
      .pin(false)
    val sizes = perLabel.groupBy(col("cid")).agg(
      sum(col("lc")).as("n_vecs"),
      count(lit(1)).as("n_labels"),
      sum(col("sc")).as("sum_cos"),
      min(col("mc")).as("min_cos_micro"))
    val wDom = Window.partitionBy(col("cid")).orderBy(col("lc").desc, col("label"))
    val dom = perLabel
      .withColumn("r", row_number().over(wDom)).where(col("r") === 1)
      .select(col("cid").as("cid3"), col("label").as("dom_label"), col("lc"))
    sizes.join(dom, col("cid") === col("cid3"))
      .select(col("cid"), col("n_vecs"), col("n_labels"),
        col("dom_label").cast("int").as("dom_label"),
        expr("(lc * 10000L) div n_vecs").as("dom_share_bp"),
        expr("sum_cos div n_vecs").as("mean_cos_micro"),
        col("min_cos_micro"))
  }
}
