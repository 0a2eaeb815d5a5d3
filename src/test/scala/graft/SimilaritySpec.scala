package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.functions.VectorFunctions

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$Sf/embeddings.parquet")

  test("cosine of identical vectors is 1.0 (1e6 micro-units)") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    assert(df.select(VectorFunctions.cosineMicro(col("a"), col("b"))).head.getLong(0) === 1000000L)
  }

  test("cosine of orthogonal vectors is 0") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))).toDF("a", "b")
    assert(df.select(VectorFunctions.cosineMicro(col("a"), col("b"))).head.getLong(0) === 0L)
  }

  test("bruteForceTopK returns k ordered neighbors per query") {
    val q = emb.where(col("vec_id") === 0)
    val out = Similarity.bruteForceTopK(q, emb, k = 5).collect()
    assert(out.length === 5)
    val cos = out.map(_.getAs[Long]("cos_micro")).toSeq
    assert(cos === cos.sorted.reverse)
    assert(out.forall(_.getAs[Long]("n_id") != 0L))
  }

  test("LSH buckets are near-uniformly occupied across 2^nPlanes keys") {
    // Regression guard for the hyperplane hash: a parity-preserving mix
    // collapses 256 buckets to 2 (every plane a ± checkerboard copy).
    // With full avalanche, 500 near-uniform vectors spread over most of
    // the 256 keys with small maximum occupancy.
    val occ = emb.withColumn("b",
        VectorFunctions.lshBucket(spark, col("embedding"), 8))
      .groupBy("b").count().select("count").as[Long].collect()
    assert(occ.length >= 128, s"distinct buckets=${occ.length}")
    assert(occ.max <= 20, s"max bucket=${occ.max}")
  }

  test("LSH top-k recall@10 beats the scanned-fraction baseline on uniform embeddings") {
    val q = emb.where(col("vec_id") % 100 === 0)
    val bf = Similarity.bruteForceTopK(q, emb, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(q, emb, k = 10, nPlanes = 6)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (bf intersect lsh).size.toDouble / bf.size
    // The synthetic embeddings are near-uniform (little cluster
    // structure), so absolute recall is bounded by candidates scanned:
    // 6 planes + 1-bit multi-probe scans ~7/64 = 11% of the corpus. The
    // hyperplane buckets must still concentrate true neighbors clearly
    // above that random-scan baseline (measured ~0.24).
    assert(recall >= 0.15, s"recall=$recall")
  }

  test("IVF top-k recall@10 beats random-bucket baseline on real embeddings") {
    val q = emb.where(col("vec_id") % 100 === 0)
    val bf = Similarity.bruteForceTopK(q, emb, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(q, emb, k = 10, nCentroids = 16, nProbe = 4)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (bf intersect ivf).size.toDouble / bf.size
    // probing 4/16 Lloyd-refined buckets on near-uniform vectors: must
    // clearly beat the ~0.25 random-scan baseline (measured ~0.6 with
    // k-means centroids vs ~0.45 with arbitrary seed centroids).
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("int8 scalar-quantized top-k recall@10 is high on the real embeddings") {
    val q = emb.where(col("vec_id") % 100 === 0)
    val bf = Similarity.bruteForceTopK(q, emb, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val sq = Similarity.sq8TopK(q, emb, k = 10, overFetch = 4)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    // Unlike bucketing, SQ8 scans EVERY vector (just at int8 precision),
    // so recall is limited only by quantization error in the shortlist —
    // it must be near-exact, not merely above a scanned-fraction
    // baseline.
    val recall = (bf intersect sq).size.toDouble / bf.size
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("IVF+SQ8 composed top-k tracks plain IVF (quantization adds almost no loss)") {
    val q = emb.where(col("vec_id") % 100 === 0)
    val ivf = Similarity.ivfTopK(q, emb, k = 10, nCentroids = 16, nProbe = 4)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val composed = Similarity.ivfSq8TopK(q, emb, k = 10, nCentroids = 16, nProbe = 4)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    // Same centroids, same probed lists — the only difference is the int8
    // candidate scan + overFetch*k exact rescore, so the composed result
    // must agree with plain IVF almost everywhere (quantization can only
    // reorder candidates near the top-k boundary).
    val agree = (ivf intersect composed).size.toDouble / ivf.size
    assert(agree >= 0.9, s"agreement=$agree")
  }

  test("IVF+PQ composed top-k tracks plain IVF (ADC inside probed lists)") {
    val q = emb.where(col("vec_id") % 100 === 0)
    val ivf = Similarity.ivfTopK(q, emb, k = 10, nCentroids = 16, nProbe = 4)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val composed = Similarity.ivfPqTopK(q, emb, k = 10, nCentroids = 16, nProbe = 4)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    // Same centroids, same probed lists — the only difference is the
    // PQ/ADC candidate scan + overFetch*k exact rescore, so the
    // composed result must agree with plain IVF almost everywhere.
    val agree = (ivf intersect composed).size.toDouble / ivf.size
    assert(agree >= 0.9, s"agreement=$agree")
  }

  test("vec_q8 codes are within half-step of the real quantizer; dot matches") {
    import graft.expressions.Int8Vec.{vecDotI8, vecQ8}
    val df = Seq((Seq(0.5f, -1.0f, 0.25f, 0.0f), Seq(1.0f, 1.0f, -1.0f, 0.5f)))
      .toDF("a", "b")
    val r = df.select(
      vecQ8(spark, col("a")).as("qa"), vecQ8(spark, col("b")).as("qb"),
      vecDotI8(spark, vecQ8(spark, col("a")), vecQ8(spark, col("b"))).as("dq")).head
    // a scaled by 127/1.0: [64, -127, 32, 0] (round-half-up on .75*127=95.25? no: 0.5*127=63.5 -> 64)
    assert(r.getSeq[Byte](0) === Seq[Byte](64, -127, 32, 0))
    assert(r.getSeq[Byte](1) === Seq[Byte](127, 127, -127, 64))
    assert(r.getLong(2) === (64L * 127 + (-127L) * 127 + 32L * (-127) + 0L * 64))
  }

  test("PQ top-k recall@10 is well above the random-shortlist baseline") {
    val q = emb.where(col("vec_id") % 100 === 0)
    val bf = Similarity.bruteForceTopK(q, emb, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(q, emb, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (bf intersect pq).size.toDouble / bf.size
    // PQ scans every vector but ranks on nSub=8 one-byte codes; a RANDOM
    // overFetch*k=80-row shortlist from the ~2000-vector corpus would
    // recall ~4% of the true top-10. The ADC ranking must concentrate
    // true neighbors far above that (measured ~0.7 on the near-uniform
    // synthetic embeddings; real clustered corpora rank higher).
    assert(recall >= 0.4, s"recall=$recall")
  }

  test("PQ codebooks are bit-stable across input partitionings") {
    // Training reads a hash-stable sample sorted by vec_id on the
    // driver, so neither partition count nor row order may change a bit.
    val b1 = Similarity.pqCodebooks(emb.repartition(1), nSub = 8, nCodes = 16)
    val b13 = Similarity.pqCodebooks(
      emb.repartition(13, col("vec_id")), nSub = 8, nCodes = 16)
    assert(b1.map(_.map(_.toSeq).toSeq).toSeq === b13.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("k-means centroids are bit-stable across input partitionings") {
    // The Lloyd mean is a fixed-point integer sum, so neither partition
    // count nor row order may change a single centroid bit.
    val c1 = Similarity.kmeansCentroids(emb.repartition(1), nCentroids = 8, iters = 2)
    val c13 = Similarity.kmeansCentroids(
      emb.repartition(13, col("vec_id")), nCentroids = 8, iters = 2)
    assert(c1.map(_.toSeq).toSeq === c13.map(_.toSeq).toSeq)
  }

  test("knnClassify produces one deterministic label per query") {
    val q = emb.where(col("vec_id") % 50 === 0)
    val out = Similarity.knnClassify(q, emb, k = 5).collect()
    assert(out.length === q.count())
    assert(out.map(_.getAs[Long]("q_id")).distinct.length === out.length)
  }

  // -- clustered synthetic data: the regime LSH/IVF bucketing exists for.
  // 10 tight clusters in 64-dim, coordinates hash-derived (no RNG state).
  private def mix(z0: Long): Double = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble - 0.5
  }
  private lazy val clustered = (0 until 550).map { i =>
    val c = i % 10
    val base = Array.tabulate(64)(j => mix(c.toLong * 64 + j))
    val noise = Array.tabulate(64)(j => 0.05 * mix(1000000L + i.toLong * 64 + j))
    (i.toLong, base.zip(noise).map { case (b, e) => (b + e).toFloat }.toSeq, c.toLong)
  }.toDF("vec_id", "embedding", "label")

  test("on clustered data LSH recall@10 is near-exact") {
    val q = clustered.where(col("vec_id") >= 500)
    val corp = clustered.where(col("vec_id") < 500)
    val bf = Similarity.bruteForceTopK(q, corp, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(q, corp, k = 10, nPlanes = 8)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (bf intersect lsh).size.toDouble / bf.size
    assert(recall >= 0.9, s"recall=$recall") // measured 0.998
  }

  test("LSH near-dup pairs recover high-cosine pairs on clustered data") {
    import graft.expressions.FloatVecDot.vecDot
    val corp = clustered.where(col("vec_id") < 500)
    val c = corp.select(col("vec_id"), col("embedding"))
      .withColumn("n", vecDot(spark, col("embedding"), col("embedding")))
    val a = c.select(col("vec_id").as("id1"), col("embedding").as("v1"), col("n").as("n1"))
    val b = c.select(col("vec_id").as("id2"), col("embedding").as("v2"), col("n").as("n2"))
    val tau = 990000L
    val exact = a.join(b, col("id1") < col("id2"))
      .withColumn("cos_micro",
        floor(lit(1e6) * (vecDot(spark, col("v1"), col("v2")) /
          (sqrt(col("n1")) * sqrt(col("n2"))))).cast("long"))
      .where(col("cos_micro") >= tau)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshNearDupPairs(corp)
      .where(col("cos_micro") >= tau)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "clustered data must contain high-cosine pairs")
    assert(approx.subsetOf(exact), "LSH pairs must be a subset of exact pairs (same scoring)")
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall over ${exact.size} exact pairs")
  }

  test("SemDeDup pairs recover high-cosine pairs on clustered data") {
    import graft.expressions.FloatVecDot.vecDot
    val corp = clustered.where(col("vec_id") < 500)
    val c = corp.select(col("vec_id"), col("embedding"))
      .withColumn("n", vecDot(spark, col("embedding"), col("embedding")))
    val a = c.select(col("vec_id").as("id1"), col("embedding").as("v1"), col("n").as("n1"))
    val b = c.select(col("vec_id").as("id2"), col("embedding").as("v2"), col("n").as("n2"))
    val tau = 990000L
    val exact = a.join(b, col("id1") < col("id2"))
      .withColumn("cos_micro",
        floor(lit(1e6) * (vecDot(spark, col("v1"), col("v2")) /
          (sqrt(col("n1")) * sqrt(col("n2"))))).cast("long"))
      .where(col("cos_micro") >= tau)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val approx = Similarity.semanticNearDupPairs(corp, nCentroids = 10)
      .where(col("cos_micro") >= tau)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "clustered data must contain high-cosine pairs")
    assert(approx.subsetOf(exact), "SemDeDup pairs must be a subset of exact pairs")
    // Near-identical vectors share a nearest centroid almost surely on
    // cluster-structured data — k-means buckets follow the clusters.
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall over ${exact.size} exact pairs")
  }

  test("MMR suppresses a near-duplicate of an already-picked result") {
    // Relevance must be SHARED across two directions for MMR to bite:
    // if the first pick equals the query direction, sim(c, picked) ==
    // rel(c) and the lambda=0.7 score 7*rel - 3*sim preserves the
    // plain ranking (that degenerate case originally sat here and
    // correctly failed). Query = e0 + e2; A(e0) and B(e2) are equally
    // relevant but mutually orthogonal, A' duplicates A, and C spreads
    // relevance onto a third axis. Plain top-3 is {A, A', B}; MMR must
    // pick A, then B (diverse), then C — suppressing A'.
    def v(parts: (Int, Double)*): Seq[Float] = {
      val arr = Array.fill(64)(0.001f)
      parts.foreach { case (i, x) => arr(i) = x.toFloat }
      arr.toSeq
    }
    val corpus = Seq(
      (1L, v(0 -> 1.0), 0L),                            // A
      (2L, v(0 -> 1.0, 1 -> 0.02), 0L),                 // A' ~ A
      (3L, v(2 -> 1.0), 0L),                            // B, orthogonal to A
      (4L, v(0 -> 0.4, 2 -> 0.4, 4 -> 0.8), 0L),        // C, spread
      (5L, v(5 -> 1.0), 0L)                             // irrelevant
    ).toDF("vec_id", "embedding", "label")
    val q = Seq((100L, v(0 -> 1.0, 2 -> 1.0), 0L)).toDF("vec_id", "embedding", "label")
    val top3 = Similarity.bruteForceTopK(q, corpus, k = 3)
      .select("n_id").as[Long].collect().toSet
    assert(top3 === Set(1L, 2L, 3L), s"fixture broke: plain top-3 was $top3")
    val mmr = Similarity.mmrTopK(q, corpus, kCand = 5, kSel = 3)
      .orderBy(col("mmr_rank"))
      .select("n_id").as[Long].collect().toSeq
    assert(mmr === Seq(1L, 3L, 4L),
      s"expected A, then diverse B, then C (A' suppressed), got $mmr")
  }

  test("bucketed kNN classifiers agree with the exact classifier on clustered data") {
    val q = clustered.where(col("vec_id") >= 500)
    val corp = clustered.where(col("vec_id") < 500)
    val exact = Similarity.knnClassify(q, corp, k = 5)
      .select("q_id", "predicted_label").as[(Long, Long)].collect().toMap
    val lsh = Similarity.knnClassifyLsh(q, corp, k = 5)
      .select("q_id", "predicted_label").as[(Long, Long)].collect().toMap
    val ivf = Similarity.knnClassifyIvf(q, corp, k = 5, nCentroids = 16, nProbe = 2)
      .select("q_id", "predicted_label").as[(Long, Long)].collect().toMap
    assert(lsh.size === exact.size, "LSH classifier dropped queries")
    assert(ivf.size === exact.size, "IVF classifier dropped queries")
    val aLsh = exact.keys.count(k => lsh.get(k).contains(exact(k))).toDouble / exact.size
    val aIvf = exact.keys.count(k => ivf.get(k).contains(exact(k))).toDouble / exact.size
    assert(aLsh >= 0.9, s"LSH agreement=$aLsh") // measured 1.0
    assert(aIvf >= 0.9, s"IVF agreement=$aIvf") // measured 1.0
  }

  test("adaptive IVF defaults hold recall on clustered data") {
    // The defaults (k = ceil(sqrt(n)), nProbe = ceil(sqrt(k))) must
    // hold the recall the old pinned 16/2 operating point was graded
    // at — this is the operating point every ann_ivf* driver query now
    // runs, so it gets its own gate.
    val q = clustered.where(col("vec_id") >= 500)
    val corp = clustered.where(col("vec_id") < 500)
    val bf = Similarity.bruteForceTopK(q, corp, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(q, corp, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (bf intersect ivf).size.toDouble / bf.size
    assert(recall >= 0.9, s"adaptive-default recall=$recall")
  }

  test("adaptive grids keep sizing beyond the retired caps (formulas, not timings)") {
    // SemDeDup's cluster count: the old min(4096, .) ceiling re-entered
    // n^2/4096 pair growth past ~1.7e7 vectors; now sqrt carries on.
    assert(Similarity.adaptiveClusterCount(1000000000L) === 31623)
    // IVF centroid count tracks the same sqrt law, floor 16.
    assert(Similarity.adaptiveCentroids(100L) === 16)
    assert(Similarity.adaptiveCentroids(1000000000L) === 31623)
    // Probe width: sqrt(k), reproducing nProbe=4 at the legacy k=16.
    assert(Similarity.adaptiveProbe(16) === 4)
    assert(Similarity.adaptiveProbe(31623) === 178)
    // Hyperplane planes: the packed-INT cap was 24 (occupancy linear
    // again past ~2.7e8 vectors at targetOcc=16); LONG keys carry the
    // log2 law through — 2^40 vectors wants 36 planes and GETS them.
    assert(VectorFunctions.adaptivePlanes(1L << 40, targetOcc = 16) === 36)
    assert(VectorFunctions.adaptivePlanes(1L << 40, targetOcc = 4) === 38)
    // The long-key width (62) only binds past targetOcc * 2^62 — not
    // representable as a corpus count: even Long.MaxValue vectors stay
    // under the cap, so the log2 law is effectively uncapped.
    assert(VectorFunctions.adaptivePlanes(Long.MaxValue, targetOcc = 16) === 60)
  }

  test("two-level assignment engages past the threshold and recovers each centroid exactly") {
    import graft.expressions.{CentroidOps, NearestCentroid}
    val k = 100 // > TwoLevelThreshold (64): the coarse-then-fine path
    assert(k > CentroidOps.TwoLevelThreshold)
    val cents = Array.tabulate(k)(i =>
      Array.tabulate(64)(j => mix(i.toLong * 64 + j).toFloat))
    // A vector EQUAL to fine centroid i must be assigned to i: the
    // query-time coarse pick uses the SAME rule that grouped centroid
    // i into its cell, and within the cell cos(c_i, c_i) = 1 dominates.
    val vecs = cents.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }
      .toSeq.toDF("vec_id", "embedding")
    val assigned = vecs.select(col("vec_id"),
        NearestCentroid.nearestCol(spark, col("embedding"), cents).as("cid"))
      .as[(Long, Int)].collect().toMap
    (0 until k).foreach { i =>
      assert(assigned(i.toLong) === i, s"centroid $i landed in cell ${assigned(i.toLong)}")
    }
    // Totality on arbitrary vectors: every assignment lands in [0, k).
    val cids = clustered.limit(200).select(
        NearestCentroid.nearestCol(spark, col("embedding"), cents).as("cid"))
      .as[Int].collect()
    assert(cids.forall(c => c >= 0 && c < k))
  }

  test("LSH top-k holds recall at a large-plane operating point (radius-3 probing)") {
    // The probe radius must scale with the grid: at p=16 a Hamming<=2
    // ball loses moderate-cosine neighbors (P[<=2 of 16] << P[<=1 of 8]
    // at flip prob ~0.14), which is exactly the large-corpus operating
    // point adaptivePlanes drives to. The r=3 schedule holds recall.
    val q = clustered.where(col("vec_id") >= 500)
    val corp = clustered.where(col("vec_id") < 500)
    val bf = Similarity.bruteForceTopK(q, corp, k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(q, corp, k = 10, nPlanes = 16)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (bf intersect lsh).size.toDouble / bf.size
    assert(recall >= 0.85, s"recall=$recall at nPlanes=16")
  }

  test("stored quantizer: save/load is bit-exact and incremental indexing equals a rebuild") {
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_store").toString + "/quantizer"
    val trained = Similarity.kmeansCentroids(emb, nCentroids = 16)
    Similarity.saveCentroids(spark, trained, root)
    val loaded = Similarity.loadCentroids(spark, root)
    // float32 round-trips parquet exactly: the reloaded quantizer IS
    // the trained one, so frozen-quantizer assignment can never drift
    assert(loaded.length === trained.length)
    assert(loaded.zip(trained).forall { case (a, b) => a.sameElements(b) })
    // index maintenance: assigning yesterday's corpus and today's batch
    // separately against the stored centroids lands every vector in
    // exactly the bucket one full rebuild over the union would
    val isOld = pmod(xxhash64(col("vec_id")), lit(2L)) === 0
    def asgn(df: org.apache.spark.sql.DataFrame) =
      Similarity.assignToCentroids(df, loaded)
        .select("vec_id", "cid").as[(Long, Int)].collect().toMap
    val incremental = asgn(emb.where(isOld)) ++ asgn(emb.where(!isOld))
    val rebuild = asgn(emb)
    assert(incremental === rebuild)
    // every centroid list is populated on this corpus (sane quantizer)
    assert(rebuild.values.toSet.size === 16)
  }

  test("stored-quantizer search over incrementally-built lists equals plain IVF") {
    // The driver query's shape (ann_ivf_stored): quantizer trained
    // once, round-tripped through the lake, both arrival batches
    // assigned map-only against the frozen centroids, search over the
    // accumulated lists. Because save/load is bit-exact and k-means is
    // deterministic, this must return EXACTLY what plain IVF (which
    // trains on the spot) returns — agreement 1.0, not merely >= 0.9.
    // (Two DIFFERENTLY-trained quantizers genuinely probe different
    // lists — measured ~0.5 overlap on this corpus — which is why the
    // operational contract freezes ONE quantizer rather than
    // retraining per batch.)
    val q = emb.where(col("vec_id") % 100 === 0)
    val ivf = Similarity.ivfTopK(q, emb, k = 10)
      .select("q_id", "rnk", "n_id").as[(Long, Int, Long)].collect().toSet
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_sq").toString + "/q"
    // Train at the SAME adaptive operating point plain ivfTopK derives
    // (k = ceil(sqrt(n))); the stored serve then re-derives its probe
    // width from the reloaded quantizer's own row count.
    val kc = Similarity.adaptiveCentroids(
      graft.operators.PlanCache.countMemo(emb))
    Similarity.saveCentroids(spark,
      Similarity.kmeansCentroids(emb, kc, 3, Similarity.trainRowsFor(kc)), root)
    val cents = Similarity.loadCentroids(spark, root)
    val lists = Similarity.assignToCentroids(emb.where(col("vec_id") % 2 === 0), cents)
      .unionAll(Similarity.assignToCentroids(emb.where(col("vec_id") % 2 =!= 0), cents))
    val stored = Similarity.ivfTopKStored(q, lists, cents, k = 10)
      .select("q_id", "rnk", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(stored === ivf)
  }

  test("stored PQ codebooks: bit-exact reload, stored-path search equals plain PQ, different training does not") {
    // The driver query's shape (ann_pq_stored): codebooks trained once,
    // committed through VersionedTable, each arrival batch ENCODED
    // map-only against the reloaded frozen codebooks, ADC search over
    // the accumulated code table. Deterministic training + bit-exact
    // float32 round-trip + row-independent encoding => the stored path
    // returns EXACTLY plain PQ's rows.
    val root = java.nio.file.Files.createTempDirectory("graft_pq_store").toString + "/books"
    val trained = Similarity.pqCodebooks(emb, nSub = 8, nCodes = 32)
    val loaded = Similarity.codebooksFromDf(graft.sinks.VersionedTable.frozen(spark, root)(
      Similarity.codebooksDf(spark, trained)))
    assert(loaded.length === trained.length)
    assert(loaded.zip(trained).forall { case (bs, bt) =>
      bs.zip(bt).forall { case (a, b) => a.sameElements(b) } })

    val q = emb.where(col("vec_id") % 100 === 0)
    val plain = Similarity.pqTopK(q, emb, k = 10)
      .select("q_id", "rnk", "n_id").as[(Long, Int, Long)].collect().toSet
    val codes = Similarity.pqEncodeTable(emb.where(col("vec_id") % 2 === 0), loaded)
      .unionAll(Similarity.pqEncodeTable(emb.where(col("vec_id") % 2 =!= 0), loaded))
    val stored = Similarity.pqTopKStored(q, codes, loaded, emb, k = 10)
      .select("q_id", "rnk", "n_id").as[(Long, Int, Long)].collect().toSet
    assert(plain.nonEmpty && stored === plain)

    // A codebook trained on a DIFFERENT sample is a different quantizer
    // — which is exactly why the operational contract freezes one
    // instead of retraining per batch.
    val other = Similarity.pqCodebooks(emb, nSub = 8, nCodes = 32,
      maxTrainRows = 64L)
    assert(!other.zip(loaded).forall { case (bs, bt) =>
      bs.zip(bt).forall { case (a, b) => a.sameElements(b) } },
      "differently-sampled training must produce different codebooks")
  }

  test("clusterStats partitions the corpus and clusters cohere above the corpus-wide pairwise mean") {
    val stats = Similarity.clusterStats(emb, nCentroids = 16).collect()
    val total = emb.count()
    assert(stats.map(_.getAs[Long]("n_vecs")).sum === total, "every vector in exactly one cluster")
    assert(stats.forall { r => val c = r.getAs[Int]("cid"); c >= 0 && c < 16 })
    assert(stats.forall { r =>
      r.getAs[Long]("dom_share_bp") >= 10000L / r.getAs[Long]("n_labels") })
    // SemDeDup's premise: members sit closer to their own centroid than
    // random corpus pairs sit to each other. Weighted mean of the
    // per-cluster mean cosines must beat the corpus-wide pairwise mean.
    val within = stats.map(r =>
      r.getAs[Long]("mean_cos_micro") * r.getAs[Long]("n_vecs")).sum.toDouble / total
    val a = emb.select(col("vec_id").as("i1"), col("embedding").as("v1"))
    val b = emb.select(col("vec_id").as("i2"), col("embedding").as("v2"))
    val pairMean = a.join(b, col("i1") < col("i2"))
      .select(VectorFunctions.cosineMicro(col("v1"), col("v2")).as("c"))
      .agg(avg(col("c"))).head.getDouble(0)
    assert(within > pairMean,
      s"within-cluster cohesion $within must beat corpus pairwise mean $pairMean")
  }

  test("per-query RRF: each query document selects its OWN lexical terms") {
    // The point of retrieval_rrf_perq over retrieval_rrf: the lexical
    // side is query-DEPENDENT. Every query doc gets exactly 3 terms
    // (integer tf-idf, term-ascending ties) and the selected sets
    // genuinely differ across queries on this corpus.
    val (_, _, _, _, qTerms) =
      graft.queries.VectorQueries.perQueryLexStages(spark, Sf)
    val byQ = qTerms.collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[String]("term")).toSet }
    assert(byQ.size === 5, s"query docs: ${byQ.keySet}")
    assert(byQ.values.forall(_.size === 3))
    assert(byQ.values.toSet.size >= 2,
      s"lexical term sets must differ across queries: $byQ")
  }

  test("per-query RRF fuses to 10 ranked hits per query and differs from the fixed-term fusion") {
    val perq = graft.queries.VectorQueries.retrievalRrfPerQ(spark, Sf)
      .select("q_id", "rnk", "doc_id").as[(Long, Int, Long)].collect()
    val byQ = perq.groupBy(_._1)
    assert(byQ.size === 5)
    assert(byQ.values.forall(_.map(_._2).toSeq.sorted == (1 to 10)))
    // Query-dependence must flow through to the fused result: the
    // per-query top-10 cannot all coincide with the fixed-term fanout's.
    val fixed = graft.queries.VectorQueries.retrievalRrfQ(spark, Sf)
      .select("q_id", "rnk", "doc_id").as[(Long, Int, Long)].collect().toSet
    assert(perq.toSet != fixed)
  }
}
