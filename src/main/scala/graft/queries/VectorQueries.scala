package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Pin.PinOps
import graft.functions.VectorFunctions._
import graft.expressions.FloatVecDot.vecDot
import graft.operators.Similarity
import graft.multimodal.Multimodal
import graft.sources.TableLoader

/** Embedding similarity-search and multimodal queries. The brute-force
  * variants are the exact small-scale baselines (broadcast query set →
  * map-side join); `ann_lsh` is the bucketed 100 TB path. Cosines are
  * emitted as integer micro-units from an in-order double fold so every
  * engine derives identical values.
  */
object VectorQueries {
  private def emb(spark: SparkSession, dir: String): DataFrame =
    TableLoader.load(spark, dir, "embeddings")

  /** The frozen IVF quantizer (v0 = first-ever commit) — shared by the
    * batch-incremental ([[annIvfStored]]) and streaming
    * ([[annIvfStream]]) index maintainers, which is the point of the
    * freeze: every consumer assigns against the SAME centroids. The k
    * the index was CREATED at adapts to the corpus as of index creation
    * (sqrt(n) lists) and is versioned BY the commit itself: the
    * quantizer table's row count IS k, so every later serve derives
    * the same probe width from the reloaded centroids alone. */
  private def frozenCentroids(spark: SparkSession, dir: String,
                              all: DataFrame): Array[Array[Float]] =
    Similarity.centroidsFromDf(graft.sinks.VersionedTable.frozen(
        spark, graft.sinks.LakeRoot.root(spark, dir, "ivf_cent_v3"))(
      Similarity.centroidsDf(spark, Similarity.kmeansCentroids(all,
        Similarity.adaptiveCentroids(graft.operators.PlanCache.countMemo(all)))).coalesce(1)))

  /** Exact top-10 neighbors for query vectors (vec_id % 100 == 0). */
  def annBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    Similarity.bruteForceTopK(all.where(col("vec_id") % 100 === 0), all, k = 10)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** LSH-bucketed approximate top-10 (same query set; recall vs
    * brute-force measured in the test suite). The grid adapts to the
    * corpus count (see [[Similarity.lshTopK]]), so candidate work per
    * query stays bounded as the lake grows. */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    Similarity.lshTopK(all.where(col("vec_id") % 100 === 0), all, k = 10)
      .select(col("q_id"), col("rnk"), col("n_id"), col("n_label"), col("cos_micro"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** IVF-bucketed approximate top-10 (same query set as ann_bruteforce;
    * recall measured in the test suite). */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    Similarity.ivfTopK(all.where(col("vec_id") % 100 === 0), all, k = 10)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Scalar-quantized (int8) approximate top-10 (same query set as
    * ann_bruteforce): the candidate scan runs over 4x-smaller int8
    * codes via native codegen'd quantize/dot expressions, and only the
    * 4k-row shortlist is rescored exactly. Recall vs brute force is
    * spec'd in SimilaritySpec. */
  def annSq8(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    Similarity.sq8TopK(all.where(col("vec_id") % 100 === 0), all, k = 10)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** IVF + SQ8 composed approximate top-10 (same query set as
    * ann_bruteforce) — inverted centroid lists over int8 codes, the
    * standard large-scale ANN architecture: the hot scan touches
    * ~nProbe/nCentroids of the corpus at 1/4 the bytes per vector.
    * Recall vs brute force is spec'd in SimilaritySpec. */
  def annIvfSq8(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    Similarity.ivfSq8TopK(all.where(col("vec_id") % 100 === 0), all, k = 10)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** IVF + PQ composed approximate top-10 (same query set as
    * ann_bruteforce) — inverted centroid lists over PQ codes, the
    * standard billion-vector architecture (FAISS IVFPQ shape): the hot
    * scan touches ~nProbe/nCentroids of the corpus at ~16 bytes per
    * vector, a 64x cut in scanned bytes vs the exact float scan.
    * Agreement vs plain IVF is spec'd in SimilaritySpec. */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    Similarity.ivfPqTopK(all.where(col("vec_id") % 100 === 0), all, k = 10)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Product-quantized (PQ/ADC) approximate top-10 (same query set as
    * ann_bruteforce): the candidate scan runs over nSub one-byte codes
    * per vector via per-query lookup tables — O(nSub) per pair instead
    * of O(dim), ~16 bytes scanned per corpus vector vs 256 — and only
    * the shortlist is rescored exactly. Recall vs brute force is spec'd
    * in SimilaritySpec. */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    Similarity.pqTopK(all.where(col("vec_id") % 100 === 0), all, k = 10)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Hybrid retrieval fusion — reciprocal-rank fusion (RRF, the
    * standard score-free hybrid of lexical and vector retrieval) of
    * the integer BM25 top-20 ([[TextQueries.bm25Q]]'s list) and the
    * exact cosine top-20 per query vector, in exact integer
    * arithmetic: each list contributes floor(1e6 / (60 + rank)) —
    * division-safe cross-engine because ranks are positive (Spark
    * `div` truncates, DuckDB `//` floors; they agree on positives).
    * Documents and embeddings share the id space (doc_id == vec_id),
    * so the fusion is a union + groupBy over (query x 20)-row lists —
    * list-sized work regardless of corpus size. Output: per-query
    * fused top-10 with the number of source lists each hit came from.
    * Hash-exact against the composed two-list oracle. */
  /** Exact cosine top-20 per query vector, memoized per (session, dir):
    * retrieval_rrf and retrieval_rrf_perq fuse against exactly this
    * list, so the second consumer reuses the scored blocks instead of
    * re-running the broadcast scan (the same sharing contract as the
    * graph-family edge derivations). */
  private def vecTop20(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PlanCache.memo(spark, s"vec:bf-top20:$dir") {
      val all = emb(spark, dir)
      Similarity.bruteForceTopK(all.where(col("vec_id") % 100 === 0), all, k = 20)
        .select(col("q_id"), col("n_id").as("doc_id"), col("rnk").cast("long").as("vec_rnk"))
        .pin(false)
    }

  def retrievalRrfQ(spark: SparkSession, dir: String): DataFrame = {
    val lex = TextQueries.bm25Q(spark, dir)
      .select(col("doc_id"), col("rnk").cast("long").as("lex_rnk"))
    val vec = vecTop20(spark, dir)
    // The lexical list is query-independent here (one fixed term set),
    // fanned out to each vector query: 5 x 20 rows, broadcast-sized.
    val qs = vec.select(col("q_id")).distinct()
    val pts = vec.select(col("q_id"), col("doc_id"),
        expr("1000000L div (60L + vec_rnk)").as("pts"))
      .unionAll(qs.crossJoin(broadcast(lex)).select(col("q_id"), col("doc_id"),
        expr("1000000L div (60L + lex_rnk)").as("pts")))
    val fused = pts.groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("pts")).as("rrf_micro"), count(lit(1)).as("n_lists"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("rrf_micro").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(w).cast("int"))
      .where(col("rnk") <= 10)
      .select(col("q_id"), col("rnk"), col("doc_id"), col("n_lists"), col("rrf_micro"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Per-query hybrid retrieval fusion — the query-DEPENDENT upgrade of
    * [[retrievalRrfQ]] (whose lexical list is one fixed term set fanned
    * out to every query): here each query document (doc_id % 100 == 0,
    * the same id space as the vector query set) contributes its OWN
    * lexical query — its top-3 tf-idf-distinctive terms against the
    * corpus — so the lexical top-20 genuinely differs per query, the
    * "more like this" shape real hybrid retrieval has. The pipeline:
    * (1) per-query-doc term selection by the exact integer tf-idf score
    * `(tf * 1e6 * n_docs) div df` (corpus-wide df, restricted to the
    * broadcastable query-doc vocabulary), ties broken term-ascending;
    * (2) per-(query, doc) integer BM25 over the postings of the
    * selected terms only — the terms table joins a BROADCAST of the
    * (query, term) pairs, so the inverted-index lookup never shuffles
    * the corpus; the query doc itself is excluded (as the vector side
    * excludes q_id == n_id); (3) RRF fusion with the exact cosine
    * top-20, identical integer arithmetic to retrieval_rrf. Everything
    * is integer, so this composes to a hash-exact DuckDB oracle. At
    * 100 TB: term selection is one aggregation over the query docs,
    * df one aggregation over the terms table semi-joined to the query
    * vocabulary, and the scoring join is posting-list-sized. */
  /** Stages (1)+(df) of [[retrievalRrfPerQ]], exposed for the spec that
    * pins query-DEPENDENCE: (query-doc terms+tf, corpus df over the
    * query vocabulary, per-query top-3 tf-idf term selection). Returns
    * (terms, dl, stats, dfT, qTerms). */
  private[graft] def perQueryLexStages(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val terms = TextQueries.termsTable(spark, dir)
    val dl = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    // Per-query-doc term frequencies and the (small) query vocabulary.
    val qTf = terms.where(col("doc_id") % 100 === 0)
      .groupBy(col("doc_id").as("q_id"), col("term")).agg(count(lit(1)).as("qtf"))
    val qVocab = qTf.select(col("term")).distinct()
    // Corpus document frequency, computed only for the query vocabulary
    // (broadcast semi-join — the full-term df table is never built).
    val dfT = terms.join(broadcast(qVocab), "term")
      .select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    // (1) top-3 distinctive terms per query doc, exact integer tf-idf.
    val wSel = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("tscore").desc, col("term"))
    val qTerms = qTf.join(broadcast(dfT), "term").crossJoin(broadcast(stats))
      .withColumn("tscore", expr("(qtf * 1000000L * n_docs) div df"))
      .withColumn("trnk", row_number().over(wSel)).where(col("trnk") <= 3)
      .select(col("q_id"), col("term"))
    (terms, dl, stats, dfT, qTerms)
  }

  def retrievalRrfPerQ(spark: SparkSession, dir: String): DataFrame = {
    val (terms, dl, stats, dfT, qTerms) = perQueryLexStages(spark, dir)
    // (2) per-(query, doc) BM25 over the selected terms' postings.
    val tf = terms.join(broadcast(qTerms), "term")
      .groupBy(col("q_id"), col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val scored = tf.join(broadcast(dfT), "term").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", expr("total_tokens div n_docs"))
      .withColumn("normq", expr("(7500L * dl) div avgdl"))
      .withColumn("denom", expr("tf * 10000L + (12L * (2500L + normq)) div 10L"))
      .withColumn("tfpart", expr("(tf * 22000L * 1000000L) div denom"))
      .withColumn("idf",
        expr("((2L * (n_docs - df) + 1L) * 1000000L) div (2L * df + 1L)"))
      .withColumn("score", expr("(idf * tfpart) div 1000000L"))
    val wLex = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("bm25").desc, col("doc_id"))
    val lex = scored.where(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("doc_id")).agg(sum(col("score")).as("bm25"))
      .withColumn("lex_rnk", row_number().over(wLex).cast("long"))
      .where(col("lex_rnk") <= 20)
      .select(col("q_id"), col("doc_id"), col("lex_rnk"))
    // (3) RRF fusion with the exact cosine top-20 (same id space,
    // memoized — shared with retrieval_rrf).
    val vec = vecTop20(spark, dir)
    val pts = vec.select(col("q_id"), col("doc_id"),
        expr("1000000L div (60L + vec_rnk)").as("pts"))
      .unionAll(lex.select(col("q_id"), col("doc_id"),
        expr("1000000L div (60L + lex_rnk)").as("pts")))
    val fused = pts.groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("pts")).as("rrf_micro"), count(lit(1)).as("n_lists"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("rrf_micro").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(w).cast("int"))
      .where(col("rnk") <= 10)
      .select(col("q_id"), col("rnk"), col("doc_id"), col("n_lists"), col("rrf_micro"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Incremental IVF over a STORED quantizer — the operational shape a
    * daily embedding drop needs, driven end to end: the quantizer is
    * trained ONCE (on the corpus as of index creation) and COMMITTED
    * to the lake ([[graft.sinks.VersionedTable.frozen]] — a
    * VersionedTable commit, staging + atomic rename);
    * every arriving batch — here the two vec_id parity halves — is
    * assigned map-only against the RELOADED frozen centroids (no
    * retraining, no shuffle of history), and search probes the
    * accumulated inverted lists ([[Similarity.ivfTopKStored]]).
    * Approximate (IVF) hence rows-only at the driver; SimilaritySpec
    * proves the sharp end: save/load is bit-exact and deterministic
    * k-means makes the frozen quantizer equal the on-the-spot one, so
    * this whole path — store, reload, per-batch assignment, stored
    * search — returns EXACTLY plain IVF's result set (agreement 1.0,
    * stronger than the 0.9 bar), while batch==rebuild assignment
    * equality was already spec'd for the underlying operators. */
  def annIvfStored(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    // Lake-committed quantizer: landed through VersionedTable's
    // staging+atomic-rename discipline (Hadoop FS, nesting-race-safe),
    // NOT a bare File.renameTo — this is the one query whose point is
    // committed index state, so it uses the hardened commit path. The
    // frozen quantizer is pinned to version 0 (first-ever commit);
    // deterministic k-means makes any racing first-time trainer's
    // content identical anyway.
    val cents = frozenCentroids(spark, dir, all)
    // Two arrival batches assigned independently map-only — the union
    // IS the incrementally-built index (spec'd equal to a full rebuild).
    val lists = Similarity.assignToCentroids(all.where(col("vec_id") % 2 === 0), cents)
      .unionAll(Similarity.assignToCentroids(all.where(col("vec_id") % 2 =!= 0), cents))
    Similarity.ivfTopKStored(all.where(col("vec_id") % 100 === 0), lists, cents, k = 10)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Incremental PQ over STORED codebooks — the third index family
    * closing the same build-once/commit/reload/encode-map-only/serve
    * lifecycle as the stored IVF quantizer ([[annIvfStored]]) and the
    * stored lexical index (`text_bm25_inc`): PQ codebooks are trained
    * ONCE and committed to the lake ([[graft.sinks.VersionedTable
    * .frozen]] — a VersionedTable commit, staging + atomic rename);
    * each arriving batch (the two vec_id parity halves) is ENCODED
    * map-only against the RELOADED frozen codebooks
    * (literal plan constants — no retraining, no shuffle, ~16 bytes
    * per vector landed); search runs ADC over the accumulated code
    * table with only the shortlist rescored on floats
    * ([[Similarity.pqTopKStored]] — at scale the rescore is an
    * id-keyed point lookup against primary storage). Approximate (PQ)
    * hence rows-only at the driver; SimilaritySpec proves the sharp
    * end: reload is bit-exact and the whole stored path returns
    * EXACTLY plain PQ's rows (deterministic codebooks + row-
    * independent encoding), while codebooks trained on a different
    * sample measurably do not. */
  def annPqStored(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    val root = graft.sinks.LakeRoot.root(spark, dir, "pq_books_v1")
    val books = Similarity.codebooksFromDf(graft.sinks.VersionedTable.frozen(spark, root)(
      Similarity.codebooksDf(spark, Similarity.pqCodebooks(all, nSub = 8, nCodes = 32))
        .coalesce(1)))
    // Materialized like ivfPqTopK's cq: fusing the literal-codebook
    // encode into the ADC scan stage pushes the generated hot loop
    // past the JIT bytecode budget (interpreted scan). A serving
    // layer reads these rows from the lake anyway.
    val codes = Similarity.pqEncodeTable(all.where(col("vec_id") % 2 === 0), books)
      .unionAll(Similarity.pqEncodeTable(all.where(col("vec_id") % 2 =!= 0), books))
      .pin(false)
    Similarity.pqTopKStored(all.where(col("vec_id") % 100 === 0), codes, books, all, k = 10)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** STREAMED maintenance of the stored IVF index, driven end to end —
    * the vector twin of `text_bm25_inc`'s streaming lexical loop, so
    * both index families now close the same lifecycle: the embeddings
    * table replayed as a file stream, each micro-batch assigned
    * MAP-ONLY against the SAME frozen lake-committed quantizer the
    * batch-incremental query ([[annIvfStored]]) reloads, and landed as
    * the next [[graft.sinks.VersionedTable]] version by
    * [[graft.streaming.IndexStream]] (one atomic commit + `_batch_id`
    * replay-ledger marker per micro-batch); search probes the
    * accumulated versions through one partition-discovered `readAll`
    * scan. Repeat calls replay the source over the SAME checkpoint and
    * ledger, land nothing twice, and serve the converged index — the
    * production restart shape. Rows-only at the driver (IVF is
    * approximate and Lloyd's k-means is not SQL-expressible);
    * IndexStreamSpec proves the sharp end: stream → serve equals plain
    * batch IVF row for row, a full replay lands nothing, and
    * `foldHistory` retention leaves the served result unchanged. */
  def annIvfStream(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    val base = graft.sinks.LakeRoot.root(spark, dir, "ivf_stream_v2")
    graft.sinks.LakeRoot.mkdirs(spark, base)
    val src = graft.sinks.LakeRoot.fixture(spark,
      graft.sinks.LakeRoot.child(base, "src")) { staging =>
      all.repartition(4).write.mode("overwrite").parquet(staging)
    }
    // One frozen quantizer, two consumers: the SAME v0 centroid commit
    // annIvfStored serves from (deterministic k-means makes any racing
    // first-time trainer's content identical).
    val cents = frozenCentroids(spark, dir, all)
    val root = graft.sinks.LakeRoot.child(base, "lists")
    val stream = spark.readStream.schema(TableLoader.schemaOf(spark, src))
      .option("maxFilesPerTrigger", "2").parquet(src)
    val q = graft.streaming.IndexStream.runVersionedSink(
      stream, root, b => Similarity.assignToCentroids(b, cents),
      Some(graft.sinks.LakeRoot.child(base, "ckpt")))
    q.awaitTermination()
    val lists = graft.sinks.VersionedTable.readAll(spark, root)
    Similarity.ivfTopKStored(all.where(col("vec_id") % 100 === 0), lists, cents, k = 10)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** PCA dimensionality reduction of the embedding corpus (64 -> 8):
    * ONE distributed moment pass (per-partition fixed-point
    * accumulators reduced to a 64x64 covariance — bit-stable under any
    * partitioning), a DRIVER-side Jacobi eigensolve over that tiny
    * matrix (the train-small/apply-distributed regime of the k-means
    * and PQ trainers), and a MAP-ONLY projection with the float32
    * components as plan literals — the whitening/compression step an
    * embedding pipeline runs before indexing, at the only cost shape
    * that survives 100 TB (two corpus scans, zero shuffles beyond the
    * tiny moment reduce). Fit-once-freeze-forever: the model is
    * committed through [[graft.sinks.VersionedTable]] on first touch
    * and serving always projects against the RELOADED version-0 model —
    * the same lifecycle as the IVF quantizer and PQ codebooks, so
    * re-runs (and racing first runs) never re-base stored projections.
    * Rows-only at the driver (an eigensolve is not SQL-expressible);
    * PcaSpec proves the sharp ends against an in-memory reference:
    * orthonormality, the eigen equation itself, spectrum-dominance
    * over the mean, partitioning-invariance of the fitted model,
    * float32/double parquet round-trip bit-equality of the stored
    * model, stored-projection == fresh-projection, and that the
    * DISTRIBUTED projections' variance per component equals the
    * driver-side eigenvalue. */
  def vecPcaQ(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    // The frozen model (v0 = first-ever commit).
    val root = graft.sinks.LakeRoot.root(spark, dir, "pca_model_v1")
    val model = graft.operators.Pca.modelFromDf(graft.sinks.VersionedTable.frozen(spark, root)(
      graft.operators.Pca.modelDf(spark, graft.operators.Pca.fit(all, r = 8)).coalesce(1)))
    graft.operators.Pca.project(all, model)
      .orderBy(col("vec_id"), col("comp"))
  }

  /** Embedding-cluster survey — per-cluster sizes, label purity, and
    * cohesion over the deterministic 16-way k-means partition
    * ([[Similarity.clusterStats]]): the corpus map SemDeDup pruning
    * and mixture decisions read before touching any document. Map-only
    * assignment against literal centroids + one 16-group aggregation.
    * Rows-only at the driver (Lloyd k-means is not SQL-expressible —
    * same footing as dedup_semantic, which shares these clusters);
    * SimilaritySpec pins partition totality and that within-cluster
    * cohesion beats the corpus-wide pairwise mean. */
  def vecClusterStats(spark: SparkSession, dir: String): DataFrame =
    Similarity.clusterStats(emb(spark, dir), nCentroids = 16)
      .orderBy(col("cid"))

  /** Hard-negative mining (k=5) for contrastive training: per query
    * vector, the 5 most-similar corpus vectors with a DIFFERENT label
    * — the negatives that actually move an embedding model. Exact
    * anchor, hash-exact oracle; at scale the label-inequality residual
    * drops into any bucketed scan before its top-k, so mining costs
    * the same as the plain ANN query. */
  def vecHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    Similarity.hardNegatives(all.where(col("vec_id") % 100 === 0), all, k = 5)
      .orderBy(col("q_id"), col("rnk"))
  }

  /** IVF-bucketed kNN (k=5) classification — the data-adaptive-bucket
    * twin of knn_classify_lsh (votes over probed centroid lists).
    * Agreement with the exact classifier is spec'd in SimilaritySpec. */
  def knnClassifyIvf(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    Similarity.knnClassifyIvf(all.where(col("vec_id") % 50 === 0), all, k = 5)
      .orderBy(col("q_id"))
  }

  /** kNN (k=5) majority-label classification of vec_id % 50 == 0. */
  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    Similarity.knnClassify(all.where(col("vec_id") % 50 === 0), all, k = 5)
      .orderBy(col("q_id"))
  }

  /** Bucketed kNN (k=5) classification — the 100 TB scale path for
    * knn_classify: votes over LSH-bucket candidates instead of the
    * full-corpus cross join. Agreement with the exact classifier is
    * spec'd in SimilaritySpec. */
  def knnClassifyLsh(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    Similarity.knnClassifyLsh(all.where(col("vec_id") % 50 === 0), all, k = 5)
      .orderBy(col("q_id"))
  }

  /** Per-label dense centroid (class prototypes / cluster stats): one
    * posexplode + hash aggregation on (label, pos) with map-side
    * partial combine, so the shuffle carries n_labels*dim partial sums
    * per task, never rows. Sums ride order-independent fixed-point
    * longs (round(x * 2^24)) — the same mechanism that makes the
    * k-means Lloyd mean bit-stable — so the result is exact and
    * engine-agnostic; the mean is emitted as floor micro-units. */
  def labelCentroid(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir)
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(round(col("col").cast("double") * lit(16777216.0)).cast("long")).as("sum_fp"),
        count(lit(1)).as("n"))
      .select(col("label").cast("int").as("label"), col("pos").cast("int").as("pos"),
        col("sum_fp"), col("n"),
        floor(col("sum_fp").cast("double") / lit(16777216.0) / col("n") * lit(1000000.0))
          .cast("long").as("mean_micro"))
      .orderBy(col("label"), col("pos"))

  /** Top-20 most cosine-similar embedding pairs over the BOUNDED
    * anchor domain vec_id < 2000 (embedding near-dup detection; exact
    * all-pairs — the LSH-banded and SemDeDup variants cover scale).
    * The cap is the anchor's contract, not a shortcut: this query's
    * role is the statistical ground truth the approximate paths'
    * recall is graded against, and an all-pairs scan whose cost grows
    * quadratically with the lake would eventually be unrunnable
    * exactly when the anchor is most needed. vec_id < 2000 is the
    * ENTIRE corpus at the driver's gate SFs (hash gates unchanged) and
    * a fixed-size deterministic slice of any larger lake, so anchor
    * cost is flat in corpus size. */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val dom = emb(spark, dir).where(col("vec_id") < 2000L)
    val a = dom.select(col("vec_id").as("id1"), col("embedding").as("v1"))
      .withColumn("n1", vecDot(spark, col("v1"), col("v1")))
    val b = dom.select(col("vec_id").as("id2"), col("embedding").as("v2"))
      .withColumn("n2", vecDot(spark, col("v2"), col("v2")))
    a.join(b, col("id1") < col("id2"))
      .withColumn("cos_micro",
        Similarity.cosMicro(spark, col("v1"), col("n1"), col("v2"), col("n2")))
      .select(col("id1"), col("id2"), col("cos_micro"))
      .orderBy(col("cos_micro").desc, col("id1"), col("id2"))
      .limit(20)
  }

  /** LSH-banded embedding near-dup pairs (scale path for
    * dedup_embedding): top-20 pigeonhole-blocked pairs by cosine, band
    * width adapted to the corpus count (see
    * [[Similarity.lshNearDupPairs]]). */
  def dedupEmbeddingLsh(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshNearDupPairs(emb(spark, dir))
      .orderBy(col("cos_micro").desc, col("id1"), col("id2"))
      .limit(20)

  /** SemDeDup semantic near-dup pairs (k-means-clustered scale path
    * for dedup_embedding; data-adaptive where the LSH path is fixed-
    * hyperplane): top-20 within-cluster pairs by cosine. No SQL oracle
    * (Lloyd k-means is not SQL-expressible); anchored by the exact
    * all-pairs dedup_embedding and the recall spec in SimilaritySpec. */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticNearDupPairs(emb(spark, dir))
      .orderBy(col("cos_micro").desc, col("id1"), col("id2"))
      .limit(20)

  /** MMR-diversified retrieval: greedy maximal-marginal-relevance
    * re-rank of each query's exact top-20 shortlist down to 5 results
    * (lambda=0.7, division-free integer scoring). The DuckDB oracle
    * unrolls the identical greedy rounds, so this is hash-exact. */
  def vecMmr(spark: SparkSession, dir: String): DataFrame = {
    val all = emb(spark, dir)
    Similarity.mmrTopK(all.where(col("vec_id") % 100 === 0), all, kCand = 20, kSel = 5)
      .orderBy(col("q_id"), col("mmr_rank"))
  }

  /** Multimodal feature extraction over synthetic binary payloads —
    * real binary-column plumbing, documented stub decode. */
  def mmFeatures(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.syntheticMedia(spark, TableLoader.load(spark, dir, "documents"))
    Multimodal.extractFeatures(media).toDF().orderBy(col("media_id"))
  }

  /** Real ISO-BMFF container round trip, oracle-checked (the MP4 twin
    * of mm_image_meta): synthetic ftyp+moov/mvhd containers whose
    * timescale/duration are arithmetic on doc_id are parsed back by
    * walking actual box structure. */
  def mmVideoMeta(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.syntheticMp4s(spark, TableLoader.load(spark, dir, "documents"))
    graft.multimodal.MediaOps.videoMeta(media).toDF().orderBy(col("media_id"))
  }

  /** Real audio-codec round trip, oracle-checked (the WAV twin of
    * mm_image_meta): synthetic 8-bit PCM square waves whose frame count
    * and amplitude are arithmetic on doc_id are written as real
    * RIFF/WAVE containers and decoded back through javax.sound. */
  def mmAudioMeta(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.syntheticWavs(spark, TableLoader.load(spark, dir, "documents"))
    graft.multimodal.MediaOps.audioMeta(media).toDF().orderBy(col("media_id"))
  }

  /** REAL video FRAME decode, oracle-checked: synthetic Motion-PNG AVIs
    * (frame count / dimensions / per-frame fill color arithmetic on
    * doc_id; every frame a real PNG encode) are parsed back by walking
    * the actual RIFF/AVI chunk structure and decoding every frame's
    * pixels through javax.imageio. The hash match against the purely
    * arithmetic DuckDB oracle proves real frame bytes flowed through
    * the real decode path — the frame half of the video pipeline, done
    * without ffmpeg. */
  /** Per-frame metadata from REAL RIFF/AVI walks + per-frame image
    * decodes, memoized per (session, dir): the decode is the expensive
    * stage and both mm_video_frames and mm_keyframes consume exactly
    * this table (narrow meta rows, not pixels), so the second consumer
    * reuses the pinned blocks. */
  private def videoFramesTable(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PlanCache.memo(spark, s"mm:video-frames:$dir") {
      val media = Multimodal.syntheticAvis(spark, TableLoader.load(spark, dir, "documents"))
      graft.multimodal.MediaOps.videoFrames(media).toDF().pin(false)
    }

  def mmVideoFrames(spark: SparkSession, dir: String): DataFrame =
    videoFramesTable(spark, dir)
      .orderBy(col("media_id"), col("frame_idx"))

  /** KEYFRAME selection over REAL decoded frames (the
    * shot-boundary-detection step of a video training pipeline): a
    * frame is a keyframe when its mean luma moves more than 5000 bp
    * from the previous frame (the first frame always is). The luma
    * values come from actual RIFF/AVI walks + per-frame PNG decodes
    * (`MediaOps.videoFrames`), and the window partitions by media_id
    * (high cardinality at scale — never corpus-wide). Because the
    * synthetic fills are arithmetic on (doc_id, frame_idx), the DuckDB
    * oracle re-derives the same keyframe set purely arithmetically —
    * the hash match proves real pixels drove the selection. */
  def mmKeyframes(spark: SparkSession, dir: String): DataFrame = {
    val frames = videoFramesTable(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("media_id")).orderBy(col("frame_idx"))
    frames
      .withColumn("_prev", lag(col("mean_luma_bp"), 1).over(w))
      .withColumn("luma_delta_bp",
        when(col("_prev").isNull, col("mean_luma_bp"))
          .otherwise(abs(col("mean_luma_bp") - col("_prev"))))
      .where(col("_prev").isNull || col("luma_delta_bp") > 5000)
      .select(col("media_id"), col("frame_idx"), col("mean_luma_bp"), col("luma_delta_bp"))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** REAL resize round trip, oracle-checked: synthetic solid-color
    * PNGs are decoded, bilinear-downscaled to maxSide=12 (never
    * upscaled), re-encoded, and decoded AGAIN for metadata. Because
    * the fill is constant, the resized dimensions AND the mean luma
    * are pure arithmetic on doc_id — a hash match proves real pixels
    * flowed through decode → AWT scale → encode → decode. */
  /** Synthetic PNG media table, memoized per (session, dir): the PNG
    * ENCODE pass is shared by mm_image_meta and mm_resize (each then
    * runs its own real decode work); payload blocks are small
    * (doc-count solid-color PNGs), so pinning them is cheap. */
  private def imageMediaTable(spark: SparkSession, dir: String) = {
    import spark.implicits._
    graft.operators.PlanCache.memo(spark, s"mm:png-media:$dir") {
      Multimodal.syntheticImages(spark, TableLoader.load(spark, dir, "documents")).toDF().pin(false)
    }.as[Multimodal.MediaRow]
  }

  def mmResize(spark: SparkSession, dir: String): DataFrame = {
    val media = imageMediaTable(spark, dir)
    graft.multimodal.MediaOps.imageMeta(
        graft.multimodal.MediaOps.resizeImage(media, maxSide = 12)).toDF()
      .orderBy(col("media_id"))
  }

  /** Real-codec round trip, oracle-checked: synthetic PNGs whose
    * dimensions/color are arithmetic on doc_id are ENCODED and then
    * DECODED (javax.imageio) on the executors; the DuckDB oracle
    * re-derives the same metadata purely arithmetically. A hash match
    * proves actual pixels flowed through the real decode path. */
  def mmImageMeta(spark: SparkSession, dir: String): DataFrame = {
    val media = imageMediaTable(spark, dir)
    graft.multimodal.MediaOps.imageMeta(media).toDF().orderBy(col("media_id"))
  }

  /** Image-level near-dup dedup via 64-bit dHash over REAL decoded
    * pixels: patterned PNGs (same `doc_id % 40` group = same sinusoid,
    * differing by brightness shift + two damaged pixels) are decoded,
    * difference-hashed on an integer 9x8 luma grid, and paired through
    * the 8-segment pigeonhole blocking — the image twin of the SimHash
    * text path. No SQL oracle (a real PNG decode has no DuckDB
    * equivalent); MultimodalSpec pins brightness invariance, same-
    * group recovery, and cross-group separation. */
  /** dHash near-dup pairs, memoized per (session, dir): the pair table
    * feeds both the pair-anchor query (mm_phash_dedup) and the
    * survivor terminal (mm_phash_survivors), and upstream of it sits
    * the real PNG decode of the whole media corpus — decode once. */
  private def phashPairsTable(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PlanCache.memo(spark, s"mm:phash-pairs:$dir") {
      val media = Multimodal.syntheticPatternImages(
        spark, TableLoader.load(spark, dir, "documents"))
      val hashes = graft.multimodal.MediaOps.imageDHash(media).toDF()
      graft.multimodal.MediaOps.phashPairs(hashes, maxDist = 6).pin(false)
    }

  def mmPhashDedup(spark: SparkSession, dir: String): DataFrame =
    phashPairsTable(spark, dir)
      .orderBy(col("hamming"), col("id1"), col("id2"))
      .limit(20)

  /** Image near-dup SURVIVOR assignment — the dedup terminal whose
    * OUTPUT stays linear in the corpus where the pair list grows ∝
    * dups² (the sf1 decade measured the pair query at 31× for 10×
    * data because true duplicate pairs densify ~100×; a near-dup
    * terminal must emit per-media rows, not per-pair rows, to survive
    * duplicate-dense media at scale). Connected components over the
    * pigeonhole-blocked dHash pairs (the same large-star/small-star
    * contraction `dedup_corpus` uses for text), one row per media in a
    * near-dup component: its canonical survivor (component min id) and
    * the component size. No SQL oracle (real PNG decode);
    * MultimodalSpec pins survivor sets == brute-force union-find
    * components over the same pairs. */
  def mmPhashSurvivors(spark: SparkSession, dir: String): DataFrame =
    survivorsOf(phashPairsTable(spark, dir))

  private def survivorsOf(pairs: DataFrame): DataFrame = {
    val cc = graft.operators.Dedup.connectedComponents(pairs)
    val sizes = cc.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "comp")
      .select(col("id").as("media_id"), col("comp").as("survivor_id"),
        col("cluster_size"))
      .orderBy(col("media_id"))
  }

  /** Audio-level near-dup dedup via the 63-bit energy-contour
    * fingerprint over REAL decoded PCM: patterned WAVs (same
    * `doc_id % 40` group = same amplitude envelope, differing by
    * uniform gain + one boosted window) decode through javax.sound and
    * pair through the same pigeonhole blocking as images and text —
    * dedup now covers all three modalities. No SQL oracle (real WAV
    * decode); MultimodalSpec pins gain invariance, damage tolerance,
    * separation, and blocked == brute parity. */
  /** Audio-fingerprint near-dup pairs, memoized per (session, dir) —
    * same decode-once rationale as [[phashPairsTable]]. */
  private def audioFpPairsTable(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PlanCache.memo(spark, s"mm:audiofp-pairs:$dir") {
      val media = Multimodal.syntheticPatternWavs(
        spark, TableLoader.load(spark, dir, "documents"))
      val hashes = graft.multimodal.MediaOps.audioFingerprint(media).toDF()
      graft.multimodal.MediaOps.phashPairs(hashes, maxDist = 6).pin(false)
    }

  def mmAudioFpDedup(spark: SparkSession, dir: String): DataFrame =
    audioFpPairsTable(spark, dir)
      .orderBy(col("hamming"), col("id1"), col("id2"))
      .limit(20)

  /** Audio near-dup SURVIVOR assignment — see [[mmPhashSurvivors]];
    * the same per-media (not per-pair) output contract over the
    * energy-contour fingerprint pairs. */
  def mmAudioFpSurvivors(spark: SparkSession, dir: String): DataFrame =
    survivorsOf(audioFpPairsTable(spark, dir))
}
