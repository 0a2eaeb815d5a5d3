package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.queries.TextQueries
import graft.sinks.VersionedTable
import graft.sources.TableLoader
import graft.streaming.IndexStream

/** Pins the streaming index-maintenance loop: a document stream landed
  * one postings version per micro-batch serves BM25 identical to the
  * from-scratch corpus ranking, and a full replay of the source lands
  * nothing new (the version ledger is the idempotence guard).
  */
class IndexStreamSpec extends SparkSpec {

  test("streamed postings maintenance serves BM25 equal to from-scratch; replay lands nothing") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_idxstream").toString
    val src = s"$tmp/docs"
    val root = s"$tmp/postings"
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    docs.repartition(3).write.parquet(src)
    def stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)

    val q = IndexStream.runVersionedSink(
      stream, root, TextQueries.postingsOf _, Some(s"$tmp/ckpt"))
    q.awaitTermination(120000)
    val nv = VersionedTable.versions(spark, root).size
    assert(nv >= 2, s"expected one version per micro-batch, got $nv")

    val postings = VersionedTable.readAll(spark, root)
    val dl = postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val served = TextQueries.bm25FromIndex(postings, dl)
      .collect().map(_.toSeq).toSeq
    val scratch = TextQueries.bm25Q(spark, Sf).collect().map(_.toSeq).toSeq
    assert(served.nonEmpty && served === scratch)

    // Replay the whole source with a fresh checkpoint: every batch id
    // is already covered by the ledger, so nothing new lands and the
    // served ranking is unchanged.
    val q2 = IndexStream.runVersionedSink(
      stream, root, TextQueries.postingsOf _, Some(s"$tmp/ckpt2"))
    q2.awaitTermination(120000)
    assert(VersionedTable.versions(spark, root).size === nv)

    // Retention: fold the per-micro-batch ledger into one version and
    // the served ranking is unchanged — and compact-on-fold means the
    // surviving version holds ONE file (the whole stream's postings are
    // far below targetBytes), not one per micro-batch commit, so the
    // serve scan stops paying per-micro-batch file opens.
    def parquetFiles(dir: java.io.File): Int =
      dir.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))
    val filesBeforeFold = VersionedTable.versions(spark, root)
      .map(v => parquetFiles(new java.io.File(s"$root/v=$v"))).sum
    VersionedTable.foldHistory(spark, root)
    assert(VersionedTable.versions(spark, root).size === 1)
    val foldedV = VersionedTable.versions(spark, root).head
    assert(filesBeforeFold > 1)
    assert(parquetFiles(new java.io.File(s"$root/v=$foldedV")) === 1)
    val pf = VersionedTable.readAll(spark, root)
    val dlf = pf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    assert(TextQueries.bm25FromIndex(pf, dlf)
      .collect().map(_.toSeq).toSeq === scratch)

    // Ingestion continues across retention: new documents land with the
    // ORIGINAL checkpoint. The batch-id ledger survived the fold as a
    // carried marker, so the new batch commits (it is NOT mistaken for
    // a replay) and the served ranking matches from-scratch over the
    // grown corpus.
    docs.limit(5).withColumn("doc_id", col("doc_id") + 10000000L)
      .coalesce(1).write.mode("append").parquet(src)
    val q3 = IndexStream.runVersionedSink(
      stream, root, TextQueries.postingsOf _, Some(s"$tmp/ckpt"))
    q3.awaitTermination(120000)
    assert(VersionedTable.versions(spark, root).size === 2,
      "the post-fold batch must land as a new delta")
    val pAll = VersionedTable.readAll(spark, root)
    val dlAll = pAll.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val servedAll = TextQueries.bm25FromIndex(pAll, dlAll)
      .collect().map(_.toSeq).toSeq
    val pScr = TextQueries.postingsOf(spark.read.parquet(src))
    val dlScr = pScr.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    assert(servedAll === TextQueries.bm25FromIndex(pScr, dlScr)
      .collect().map(_.toSeq).toSeq)
  }

  test("streamed IVF assignment serves search equal to plain IVF; replay and fold invariant") {
    // The vector twin of the postings test: micro-batches of vectors
    // assigned MAP-ONLY against a frozen lake-committed quantizer, one
    // index version per batch. Deterministic k-means makes the frozen
    // quantizer equal the one ivfTopK would train on the spot, and
    // assignment is row-independent, so the stream-accumulated index
    // must serve search IDENTICAL to plain batch IVF — row for row,
    // regardless of how the stream happened to batch the corpus.
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfstream").toString
    val src = s"$tmp/vecs"
    val root = s"$tmp/lists"
    val all = TableLoader.load(spark, Sf, "embeddings")
    all.repartition(3).write.parquet(src)
    // Freeze the quantizer at the SAME adaptive operating point plain
    // ivfTopK derives (k = ceil(sqrt(n))), so served == plain holds.
    val kc = Similarity.adaptiveCentroids(
      graft.operators.PlanCache.countMemo(all))
    val cents = Similarity.centroidsFromDf(VersionedTable.frozen(spark, s"$tmp/cents")(
      Similarity.centroidsDf(spark,
        Similarity.kmeansCentroids(all, kc, 3, Similarity.trainRowsFor(kc)))))
    def stream = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)

    val q = IndexStream.runVersionedSink(
      stream, root, b => Similarity.assignToCentroids(b, cents), Some(s"$tmp/ckpt"))
    q.awaitTermination(120000)
    val nv = VersionedTable.versions(spark, root).size
    assert(nv >= 2, s"expected one version per micro-batch, got $nv")

    val queries = all.where(col("vec_id") % 100 === 0)
    def served = Similarity.ivfTopKStored(
        queries, VersionedTable.readAll(spark, root), cents, k = 10)
      .orderBy(col("q_id"), col("rnk")).collect().map(_.toSeq).toSeq
    val plain = Similarity.ivfTopK(queries, all, k = 10)
      .orderBy(col("q_id"), col("rnk")).collect().map(_.toSeq).toSeq
    assert(plain.nonEmpty && served === plain)

    // Full replay over a fresh checkpoint: the _batch_id ledger covers
    // every batch, nothing lands, the served search is unchanged.
    val q2 = IndexStream.runVersionedSink(
      stream, root, b => Similarity.assignToCentroids(b, cents), Some(s"$tmp/ckpt2"))
    q2.awaitTermination(120000)
    assert(VersionedTable.versions(spark, root).size === nv)
    assert(served === plain)

    // Retention: fold the per-micro-batch versions into one — the
    // served search must not move.
    VersionedTable.foldHistory(spark, root)
    assert(VersionedTable.versions(spark, root).size === 1)
    assert(served === plain)
  }

  test("in-loop retention fold bounds versions while the ledger keeps replays idempotent") {
    // A long-running stream must not accrete one version per batch
    // forever: past spark.graft.stream.indexFoldBudget the sink folds
    // history IN the loop (after the batch's marker lands, so recovery
    // never needs a folded-away version). Drive 6 micro-batches at
    // budget 2: versions stay bounded, the served union is the full
    // corpus, and a full replay still lands nothing.
    val tmp = java.nio.file.Files.createTempDirectory("graft_idxfold").toString
    val src = s"$tmp/docs"
    val root = s"$tmp/postings"
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    docs.repartition(6).write.parquet(src)
    def stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val key = "spark.graft.stream.indexFoldBudget"
    spark.conf.set(key, "2")
    try {
      val q = IndexStream.runVersionedSink(
        stream, root, TextQueries.postingsOf _, Some(s"$tmp/ckpt"))
      q.awaitTermination(120000)
      val nv = VersionedTable.versions(spark, root).size
      assert(nv <= 3, s"in-loop fold should bound versions at ~budget, got $nv")
      val postings = VersionedTable.readAll(spark, root)
      val dl = postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val served = TextQueries.bm25FromIndex(postings, dl)
        .collect().map(_.toSeq).toSeq
      val scratch = TextQueries.bm25Q(spark, Sf).collect().map(_.toSeq).toSeq
      assert(served.nonEmpty && served === scratch)
      // Full replay, fresh checkpoint: the folded ledger still carries
      // every batch marker at family max, so nothing re-lands.
      val q2 = IndexStream.runVersionedSink(
        stream, root, TextQueries.postingsOf _, Some(s"$tmp/ckpt2"))
      q2.awaitTermination(120000)
      assert(VersionedTable.versions(spark, root).size === nv)
    } finally spark.conf.unset(key)
  }

  test("streamed decontamination equals the batch verdicts; re-run lands nothing") {
    // text_stream_decontam's sharp end: a document's verdict is
    // complete within its own micro-batch (no cross-batch state), so
    // the accumulated verdict union must equal the corpus-wide batch
    // decontamination row for row — and a second drive over the same
    // checkpoint+ledger must land no new version.
    val streamed = TextQueries.streamDecontamQ(spark, Sf)
      .collect().map(_.toSeq).toSeq
    val batch = TextQueries.decontaminateQ(spark, Sf)
      .collect().map(_.toSeq).toSeq
    assert(batch.nonEmpty && streamed === batch)

    val base = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_stream_decontam_v1_${Integer.toHexString(Sf.hashCode)}")
    val root = new java.io.File(base, "verdicts").getAbsolutePath
    val nv = VersionedTable.versions(spark, root).size
    val again = TextQueries.streamDecontamQ(spark, Sf)
      .collect().map(_.toSeq).toSeq
    assert(again === batch)
    assert(VersionedTable.versions(spark, root).size === nv,
      "a re-run over the same source must not land new versions")
  }
}
