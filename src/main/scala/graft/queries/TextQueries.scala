package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._
import graft.operators.Pin.PinOps
import graft.functions.TextFunctions._
import graft.expressions.ShingleHashes.shingleHashesNative
import graft.operators.Dedup
import graft.sources.TableLoader

/** Text-analysis and dedup queries over the documents table — the
  * LLM-training-data operator surface. All scoring is integer/rolling-
  * hash arithmetic (exact cross-engine); every query is a single scan
  * plus (for dedup) a blocked equijoin — nothing O(n^2) unblocked.
  */
object TextQueries {
  private def docs(spark: SparkSession, dir: String): DataFrame =
    TableLoader.load(spark, dir, "documents")

  /** Corpus (doc_id, term) postings — the whitespace-tokenized explode
    * every lexical-retrieval query starts from — memoized per
    * (session, dir): text_tfidf, text_bm25, text_term_freq_cms, and
    * retrieval_rrf_perq's lexical stages all re-derived exactly this
    * table (the same sharing contract as the graph edge and Jaccard
    * pair memos). At 100 TB this IS the materialized tokenization
    * intermediate a lexical index builds from — pinning it is the
    * design, not a shortcut. */
  private[graft] def termsTable(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PlanCache.memo(spark, s"text:terms:$dir") {
      docs(spark, dir).select(col("doc_id"), explode(split(col("text"), " ")).as("term")).pin(false)
    }

  def langIdQ(spark: SparkSession, dir: String): DataFrame = {
    val scored = LangMarkers.foldLeft(docs(spark, dir)) { case (df, (code, ms)) =>
      df.withColumn(s"s_$code", langScore(col("text"), ms))
    }
    scored.withColumn("predicted", langId(col("text")))
      .select(Seq(col("doc_id"), col("lang")) ++
        LangMarkers.map { case (c, _) => col(s"s_$c") } :+ col("predicted"): _*)
      .orderBy(col("doc_id"))
  }

  def qualityQ(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_calc"),
      wsTokenCount(col("text")).as("ws_tokens"),
      punctCount(col("text")).as("n_punct"),
      bp(punctCount(col("text")), length(col("text")).cast("long")).as("punct_bp"),
      bp(stopwordCount(col("text")), wsTokenCount(col("text"))).as("stop_bp"),
      bp(length(replace(col("text"), lit(" "), lit(""))).cast("long"),
        wsTokenCount(col("text"))).as("mean_wlen_bp"),
      bp(alphaCount(col("text")), length(col("text")).cast("long")).as("alpha_bp"))
      .orderBy(col("doc_id"))

  def tokensQ(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      wsTokenCount(col("text")).as("ws_tokens"),
      regexTokenCount(col("text")).as("bpe_tokens"))
      .orderBy(col("doc_id"))

  /** Repetition quality signal (the Gopher-style duplicate-n-gram
    * filter a training-data pipeline gates on): per document, the
    * fraction of word bigrams that are repeats of an earlier bigram in
    * the SAME document, as integer basis points. Map-only and O(doc
    * length) per row — the per-doc arrays never leave their row, so
    * nothing but (doc_id, 3 longs) shuffles for the final sort. */
  def repetitionQ(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val n = size(words)
    val bigrams = zip_with(
      slice(words, lit(1), greatest(n - 1, lit(0))),
      slice(words, lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    docs(spark, dir)
      .select(col("doc_id"), bigrams.as("bg"))
      .select(col("doc_id"),
        size(col("bg")).cast("long").as("n_bigrams"),
        (size(col("bg")) - size(array_distinct(col("bg")))).cast("long").as("n_repeated"))
      .withColumn("rep_bp",
        when(col("n_bigrams") > 0,
          floor(lit(10000.0) * col("n_repeated") / col("n_bigrams")).cast("long"))
          .otherwise(lit(0L)))
      .orderBy(col("doc_id"))
  }

  def fingerprintQ(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      graft.expressions.RollingHash.rollingHashNative(spark, col("text"), 31L, HashMod).as("fp"),
      size(shingleHashesNative(spark, col("text"))).cast("long").as("n_shingles"))
      .orderBy(col("doc_id"))

  /** Text normalization: lowercase, strip punctuation, collapse runs of
    * whitespace — emitted as the normalized text's rolling hash plus
    * how much the normalization changed (train-data canonicalization). */
  def normalizeQ(spark: SparkSession, dir: String): DataFrame = {
    val normalized = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[.!?,;:]", ""), " +", " "))
    docs(spark, dir).select(
      col("doc_id"),
      graft.expressions.RollingHash.rollingHashNative(spark, normalized, 31L, HashMod)
        .as("norm_hash"),
      (length(col("text")) - length(normalized)).cast("long").as("chars_removed"))
      .orderBy(col("doc_id"))
  }

  /** PII-style pattern redaction: digit runs masked with '#'; reports
    * the redacted hash and match count (training-data scrubbing shape —
    * swap the pattern for emails/SSNs in production). */
  def redactQ(spark: SparkSession, dir: String): DataFrame = {
    val redacted = regexp_replace(col("text"), "[0-9]+", "#")
    docs(spark, dir).select(
      col("doc_id"),
      graft.expressions.RollingHash.rollingHashNative(spark, redacted, 31L, HashMod)
        .as("redacted_hash"),
      size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).cast("long")
        .as("n_redactions"))
      .orderBy(col("doc_id"))
  }

  /** Document chunking: overlapping token windows (size 32, stride 24 =
    * 8-token overlap) with per-chunk token count and content
    * fingerprint — the operator that turns raw documents into
    * training-context rows. Map-only (sequence + slice are codegen'd
    * collection expressions, the explode is the only row expansion);
    * chunk identity travels as (doc_id, chunk_idx), content as a
    * rolling-hash fingerprint so the output stays narrow. */
  def chunkQ(spark: SparkSession, dir: String,
             chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    import graft.expressions.RollingHash.rollingHashNative
    docs(spark, dir)
      .withColumn("w", split(col("text"), " "))
      .withColumn("start",
        explode(sequence(lit(0), greatest(size(col("w")) - 1, lit(0)), lit(stride))))
      .withColumn("chunk_text", concat_ws(" ", slice(col("w"), col("start") + 1, lit(chunkSize))))
      .select(col("doc_id"),
        (col("start") / stride).cast("int").as("chunk_idx"),
        size(slice(col("w"), col("start") + 1, lit(chunkSize))).as("n_tokens"),
        rollingHashNative(spark, col("chunk_text"), 31L, HashMod).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Count-min-sketch term frequencies, sketch-native end to end: ONE
    * bounded-state pass computes both the mergeable CMS (point
    * frequencies over an unbounded key space in O(eps^-1 * ln(1/delta))
    * memory, fixed seed — counter sums are order-independent so the
    * sketch is deterministic) and the approx_top_k probe keys. No exact
    * full-term groupBy appears anywhere in the plan — at 100 TB that
    * groupBy is the cost the sketches exist to avoid; the exact
    * comparison lives in the spec only (PercentileSketchSpec asserts the
    * CMS overestimate-only <= eps*N bound and the top-k count
    * exactness when sketch capacity covers the key space). */
  def termFreqCmsQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = termsTable(spark, dir).select(col("term"))
    val row = terms.agg(
      expr("count_min_sketch(term, 0.0001d, 0.99d, 42)").as("sk"),
      expr("approx_top_k(term, 20, 10000)").as("tops")).head()
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("sk")))
    val tops = row.getSeq[org.apache.spark.sql.Row](1)
      .map(t => (t.getString(0), t.getLong(1)))
    tops.map { case (term, n) => (term, n, cms.estimateCount(term)) }
      .toDF("term", "topk_count", "cms_count").orderBy(col("term"))
  }

  /** BPE tokenizer-vocabulary training over the corpus: the learned
    * merge table (rank, left, right, merged, pair_count). Statistics
    * live on the Zipf-capped word-frequency table, one corpus scan
    * total; each merge round is one pair-count argmax action + a
    * map-only regexp merge (see operators/Bpe.scala). Rows-only driver
    * check (iterative argmax isn't SQL-practical); BpeSpec asserts the
    * merge sequence equals a plain in-memory reference BPE
    * merge-for-merge, on both a handcrafted and the real corpus. */
  def bpeVocabQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.mergeTable(spark, docs(spark, dir), nMerges = 16)
      .orderBy(col("rank"))

  /** Whole-corpus statistics in one aggregation pass, including the
    * n_chars metadata-consistency check (cross-field data quality). */
  def corpusStatsQ(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).agg(
      count(lit(1)).as("n_docs"),
      sum(wsTokenCount(col("text"))).as("total_tokens"),
      sum(length(col("text")).cast("long")).as("total_chars"),
      countDistinct(col("lang")).as("n_langs"),
      sum(when(length(col("text")) =!= col("n_chars"), 1L).otherwise(0L))
        .as("n_chars_mismatches"))

  /** Top-3 characteristic terms per document by integer-exact TF-IDF
    * (score = tf * 1e6 * N div df — no floating log, so the oracle
    * re-derives it bit-for-bit). Two shuffles: term df, then per-doc
    * top-k window. */
  def tfidfQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // Corpus size as a broadcast scalar inside the one plan — no separate
    // driver-side count() job.
    val nDf = d.agg(count(lit(1)).as("n_docs"))
    val terms = termsTable(spark, dir)
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumnRenamed("term", "t2")
    val scored = tf.join(df, col("term") === col("t2"))
      .crossJoin(broadcast(nDf))
      .withColumn("score", expr("(tf * 1000000L * n_docs) div df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("term"), col("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** BM25 retrieval: top-20 documents for a fixed query term set, the
    * ranking function a search/RAG retrieval layer runs over a corpus.
    * Okapi BM25 (k1=1.2, b=0.75) re-expressed in pure integer
    * fixed-point: idf as the scaled rational ((2(N-df)+1)*1e6) div
    * (2df+1) — exactly (N-df+0.5)/(df+0.5) — and the tf saturation
    * term via scaled floor divisions, so the DuckDB oracle
    * hash-matches bit-for-bit (same trick as text_tfidf; a log-based
    * idf would differ in final ulps across engines). Monotone in the
    * true BM25 ordering at these scales (GraphSpec pins a reference).
    *
    * Scale: tf is filtered to the query terms BEFORE the groupBy (the
    * per-doc shuffle carries only matching terms), doc lengths are a
    * separate partial-agg count, and df + corpus stats are broadcast
    * scalars — the only per-document state that moves is (doc_id, dl).
    */
  def bm25Q(spark: SparkSession, dir: String): DataFrame = {
    val terms = termsTable(spark, dir)
    val dl = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_tokens"))
    val qt = terms.where(col("term").isin(Bm25QueryTerms: _*))
    val tf = qt.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = qt.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumnRenamed("term", "t2")
    bm25Score(tf, df, dl, stats)
  }

  private[graft] val Bm25QueryTerms = Seq("vector", "join", "scan")

  /** The shared integer Okapi arithmetic + top-20 rank emit, from the
    * four index-shaped inputs: `tf` (doc_id, term, tf) filtered to the
    * query terms, `df` (t2, df), `dl` (doc_id, dl), and the 1-row
    * `stats` (n_docs, total_tokens). [[bm25Q]] derives them from the
    * corpus scan; [[bm25IncQ]] from the lake-committed incremental
    * index — identical frames in, bit-identical ranking out. */
  private def bm25Score(tf: DataFrame, df: DataFrame, dl: DataFrame,
      stats: DataFrame): DataFrame = {
    val scored = tf.join(broadcast(df), col("term") === col("t2"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", expr("total_tokens div n_docs"))
      .withColumn("normq", expr("(7500L * dl) div avgdl"))
      .withColumn("denom", expr("tf * 10000L + (12L * (2500L + normq)) div 10L"))
      .withColumn("tfpart", expr("(tf * 22000L * 1000000L) div denom"))
      .withColumn("idf",
        expr("((2L * (n_docs - df) + 1L) * 1000000L) div (2L * df + 1L)"))
      .withColumn("score", expr("(idf * tfpart) div 1000000L"))
    val docScore = scored.groupBy(col("doc_id"))
      .agg(sum(col("score")).as("bm25"), count(lit(1)).as("n_terms_hit"))
    // Global top-20 via orderBy+limit (TakeOrderedAndProject — a
    // per-partition heap + driver merge, never a one-partition sort of
    // the whole doc-score table); the rank window then runs over the
    // 20 survivors only.
    val top = docScore.orderBy(col("bm25").desc, col("doc_id")).limit(20)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bm25").desc, col("doc_id"))
    top.withColumn("rnk", row_number().over(w))
      .select(col("rnk").cast("int").as("rnk"), col("doc_id"),
        col("n_terms_hit"), col("bm25"))
      .orderBy(col("rnk"))
  }

  /** The lake roots of the incremental lexical index ([[bm25IncQ]]):
    * the postings table (doc_id, term, tf) and the doc-length table
    * (doc_id, dl), each a [[graft.sinks.VersionedTable]] holding one
    * version marked `_split_historical_0` (the historical build) and
    * one marked `_split_batch_0` (one ingest batch's delta). Exposed
    * for the spec that pins the build-once/batch-isolation contract. */
  private[graft] def lexIndexRoots(spark: SparkSession, dir: String): (String, String) = {
    def root(kind: String) =
      graft.sinks.LakeRoot.root(spark, dir, s"lex_${kind}_v2")
    (root("postings"), root("doclens"))
  }

  /** BM25 served from an INCREMENTALLY-MAINTAINED stored inverted
    * index — the third stored-state operational loop after the frozen
    * IVF quantizer (ann_ivf_stored) and the MinHash band signatures
    * (dedup_survivors_minhash_inc). The index is two lake tables
    * committed via [[graft.sinks.VersionedTable]] (staging + atomic
    * rename): POSTINGS (doc_id, term, tf) and DOCLENS (doc_id, dl),
    * one version marked as the historical corpus build (the 3-in-4
    * sources) and one as an ingest batch's delta (the 1-in-4 "new"
    * sources) — version ids are never load-bearing, the markers are. Only
    * the batch's documents are ever tokenized on the incremental run —
    * the historical part is read back, never re-derived — and DOCLENS
    * is derived from the COMMITTED postings (index-internal
    * consistency, not a side recompute). Serving reads the two
    * marker-selected versions: the query-term filter pushes
    * down to the postings parquet scan (an inverted-index probe — the
    * full postings table is never materialized for scoring), df/stats
    * are broadcast scalars, and the only per-document state that moves
    * is (doc_id, dl). The oracle is from-scratch BM25 over the whole
    * corpus (text_bm25's SQL verbatim), so the driver's hash check
    * proves the incremental maintenance is lossless — same contract
    * the minhash-inc spec pins label-for-label. */
  /** One batch's postings delta (doc_id, term, tf) — the unit the
    * batch ([[bm25IncQ]]) and streaming
    * ([[graft.streaming.IndexStream]]) index maintenance both land. */
  private[graft] def postingsOf(batch: DataFrame): DataFrame = batch
    .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  /** BM25 from an index's two tables (accumulated postings + doc
    * lengths), however they were maintained — the serve path shared by
    * the batch and streaming incremental loops. */
  private[graft] def bm25FromIndex(postings: DataFrame, dl: DataFrame): DataFrame = {
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_tokens"))
    // Postings are unique per (doc_id, term) within a version and the
    // versions' doc sets are disjoint, so df is a plain per-term row
    // count of the probed postings.
    val tf = postings.where(col("term").isin(Bm25QueryTerms: _*))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumnRenamed("term", "t2")
    bm25Score(tf, df, dl, stats)
  }

  def bm25IncQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.VersionedTable
    val d = docs(spark, dir)
    val isNewSource = pmod(xxhash64(col("source")), lit(4L)) === 0L
    val (pRoot, dRoot) = lexIndexRoots(spark, dir)
    // Build-once guards key on CONTENT markers, not version count —
    // see VersionedTable.ensurePart (shared with the stored sketch
    // state): a crash between any two commits resumes idempotently,
    // and a lost commit race can neither skip a build nor double-count.
    def ensure(root: String, part: String, build: => DataFrame): Long =
      VersionedTable.ensurePart(spark, root, part)(build)
    val pHist = ensure(pRoot, "historical", postingsOf(d.where(!isNewSource)))
    val pBatch = ensure(pRoot, "batch", postingsOf(d.where(isNewSource)))
    def doclensOf(v: Long) = VersionedTable.read(spark, pRoot, Some(v))
      .groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dlHist = ensure(dRoot, "historical", doclensOf(pHist))
    val dlBatch = ensure(dRoot, "batch", doclensOf(pBatch))
    // Serving reads the two marker-selected versions as ONE
    // partition-discovered scan (v is a partition column; pruning
    // rides PartitionFilters) — a snapshot pinned by content, immune
    // to version renumbering.
    bm25FromIndex(
      VersionedTable.readVersions(spark, pRoot, Seq(pHist, pBatch)),
      VersionedTable.readVersions(spark, dRoot, Seq(dlHist, dlBatch)))
  }

  /** Deterministic stratified sampling + train/test split: membership
    * comes from the text's rolling hash (not rand()), so the sample is
    * reproducible run-to-run and engine-to-engine — the only sampling
    * that belongs in a training-data pipeline. Rates: en 10%, other
    * languages 50%; split 80/20 within the kept sample. */
  def sampleSplitQ(spark: SparkSession, dir: String): DataFrame = {
    val h = graft.expressions.RollingHash
      .rollingHashNative(spark, col("text"), 31L, HashMod)
    val bucket = pmod(h, lit(100L))
    val rate = when(col("lang") === "en", 10L).otherwise(50L)
    docs(spark, dir)
      .withColumn("bucket", bucket)
      .where(col("bucket") < rate)
      .withColumn("split", when(pmod(col("bucket"), lit(5L)) === 0, "test").otherwise("train"))
      .select(col("doc_id"), col("lang"), col("bucket"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** ENCODE with the learned BPE merges (training + the map-only encode
    * chain — see operators/Bpe.scala). Per-doc BPE token counts are the
    * sizing signal a training pipeline feeds context packing with.
    * Rows-only driver check; BpeSpec derives the expected counts from
    * the reference trainer's final vocab state. */
  def bpeEncodeQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    graft.operators.Bpe.encode(d,
      graft.operators.Bpe.trainMerges(d, nMerges = 16)).orderBy(col("doc_id"))
  }

  /** Benchmark DECONTAMINATION: flag training documents sharing any
    * word-8-gram with a held-out eval slice (doc_id ≡ 0 mod 29 stands
    * in for the benchmark set). Both sides come from ONE corpus scan
    * through the codegen'd shingle kernel; the join is an equijoin on
    * 8-byte shingle hashes (the eval side is benchmark-sized, so AQE
    * broadcasts it); output counts contaminated n-grams and eval docs
    * hit per training doc. Hash-exact oracle (rolling hash replicated
    * in SQL). */
  def decontaminateQ(spark: SparkSession, dir: String): DataFrame = {
    val sh = graft.expressions.ShingleHashes
      .shingleHashesNative(spark, col("text"), 8)
    val ex = docs(spark, dir).select(col("doc_id"), explode(sh).as("h"))
    val evalSide = ex.where(pmod(col("doc_id"), lit(29L)) === 0)
      .select(col("doc_id").as("eval_id"), col("h"))
    ex.where(pmod(col("doc_id"), lit(29L)) =!= 0)
      .join(evalSide, "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared_ngrams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .orderBy(col("doc_id"))
  }

  /** Decontamination through a STORED, INCREMENTALLY-MAINTAINED Bloom
    * prefilter — [[decontaminateQ]]'s exact output served the way a
    * 100 TB ingest actually runs it. Benchmark suites accrete, so the
    * eval fingerprint set is lake state: per-part (historical 3-in-4
    * eval docs / one arriving benchmark batch, content-marker
    * `ensurePart` guards) Bloom bitset WORD rows are committed to a
    * [[graft.sinks.VersionedTable]] — bitsets over one geometry
    * OR-merge by word index ([[graft.operators.Bloom.bitsetWords]]),
    * so adding a benchmark shingles ONLY that batch and appends ≤
    * nBits/64 rows; history is never rescanned. Serving `bit_or`s the
    * stored word rows (≤ nBits/64 = 1 MiB at the chosen capacity —
    * design-constant collect, independent of the corpus), compiles
    * the merged bitset into the train-side scan as a codegen'd
    * predicate, and drops ~all clean shingles BEFORE the join shuffle
    * — the exchange then carries contamination + the false-positive ε
    * instead of the corpus. The exact equijoin against the
    * benchmark-sized eval rows removes the ε, so the result is
    * HASH-EXACT equal to the one-shot twin (no false negatives, spec'd
    * in SketchLifecycleSpec alongside build-once idempotence). */
  /** Stored-bloom CAPACITY: all parts of one stored filter must share
    * a geometry (OR-merge is per word index), so the bit width is a
    * table-creation-time choice sized for the filter's LIFETIME key
    * population — here 2^23 bits (1 MiB of words) ≈ 0.3% false
    * positives at ~400k eval fingerprints (the sf1 decade's load) and
    * headroom decades beyond; at benchmark-suite growth rates the
    * rebuild-under-a-new-root escape hatch below is theoretical. The
    * geometry is STAMPED into both the root name and every stored row,
    * and serving fails loudly on a mismatch — an undersized or re-sized
    * filter can never be silently probed with the wrong modulus (which
    * would break the no-false-negative contract, not just the FP
    * rate). */
  private[graft] val DecontamBloomBits = 1 << 23

  def decontamBloomIncQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.VersionedTable
    val nBits = DecontamBloomBits
    val root = graft.sinks.LakeRoot.root(spark, dir, s"decontam_bloom_${nBits}_v1")
    val d = docs(spark, dir)
    val sh = shingleHashesNative(spark, col("text"), 8)
    val isEval = pmod(col("doc_id"), lit(29L)) === 0
    val isBatchDoc = pmod(xxhash64(col("doc_id")), lit(4L)) === 0L
    def wordsOf(part: Column) = graft.operators.Bloom.bitsetWords(
        d.where(isEval && part).select(explode(sh).as("h")), "h", nBits)
      .withColumn("nbits", lit(nBits))
    val hist = VersionedTable.ensurePart(spark, root, "historical")(
      wordsOf(!isBatchDoc))
    val batch = VersionedTable.ensurePart(spark, root, "batch")(
      wordsOf(isBatchDoc))
    val stored = VersionedTable.readVersions(spark, root, Seq(hist, batch))
    val geoms = stored.select(col("nbits")).distinct()
      .collect().map(_.getInt(0)).sorted
    require(geoms.sameElements(Array(nBits)),
      s"stored bloom geometry ${geoms.mkString(",")} != expected $nBits — " +
        "the filter must be rebuilt under its own root, never re-probed")
    val bitset = graft.operators.Bloom.bitsetFromWords(
      stored.groupBy(col("word")).agg(bit_or(col("bits")).as("bits"))
        .collect().map(r => (r.getInt(0), r.getLong(1))), nBits)
    val train = d.where(!isEval).select(col("doc_id"), explode(sh).as("h"))
      .where(graft.operators.Bloom.mightContain(spark, col("h"), bitset, 3))
    val evalSide = d.where(isEval)
      .select(col("doc_id").as("eval_id"), explode(sh).as("h"))
    train.join(evalSide, "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared_ngrams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .orderBy(col("doc_id"))
  }

  /** CHARACTER-level exact-substring decontamination (the public
    * result this approximates: Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — suffix-array exact
    * substring matching, here realized as char-k-gram blocking): flag
    * training documents sharing a NORMALIZED (lowercased,
    * punctuation/whitespace-stripped) character k-gram with the eval
    * slice. Catches near-verbatim overlaps that TOKENIZE differently
    * (punctuation/casing/spacing variants) and therefore slip past the
    * word-8-gram filter (`decontaminateQ`) — spec'd on a handcrafted
    * variant pair. The train side samples grams every `stride` chars
    * while the eval side takes every gram, so any shared normalized
    * substring of length >= k + stride - 1 is GUARANTEED a hash match
    * (blocking guarantee) at 1/stride the train-side index size; the
    * join key is the 8-byte rolling hash of the gram, replicated
    * exactly in the DuckDB oracle. */
  def charDecontaminate(d: DataFrame, isEval: Column,
                        k: Int = 24, stride: Int = 8): DataFrame = {
    val norm = regexp_replace(lower(col("text")), "[^a-z0-9]", "")
    def grams(step: Int) = expr(
      s"transform(sequence(1, greatest(length(_norm) - ${k - 1}, 1), $step), " +
        s"i -> rolling_hash(substr(_norm, i, $k), 31, 1000000007))")
    val base = d.withColumn("_norm", norm).withColumn("_is_eval", isEval)
    val evalSide = base.where(col("_is_eval"))
      .select(col("doc_id").as("eval_id"), explode(grams(1)).as("h")).distinct()
    val train = base.where(!col("_is_eval"))
      .select(col("doc_id"), explode(grams(stride)).as("h")).distinct()
    train.join(evalSide, "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared_grams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .orderBy(col("doc_id"))
  }

  /** Driver entry: char-level decontamination of the documents table
    * against the same held-out slice as text_decontaminate. */
  def decontaminateCharsQ(spark: SparkSession, dir: String): DataFrame =
    charDecontaminate(docs(spark, dir), pmod(col("doc_id"), lit(29L)) === 0)

  /** STREAMING decontamination, driven end to end — the ingest-time
    * shape of [[decontaminateQ]]: a decontamination service holds the
    * benchmark's n-gram index as STORED lake state and screens every
    * arriving document batch against it, so contaminated documents are
    * flagged the moment they enter the lake instead of by a corpus-wide
    * batch job later. The benchmark index (the eval slice's distinct
    * word-8-gram hashes with their eval doc ids — benchmark-sized, tiny
    * next to the corpus) is committed ONCE to a
    * [[graft.sinks.VersionedTable]] root and reloaded by every batch;
    * the documents table replays as a file stream, and each micro-batch
    * is shingled (batch-only work), probes the broadcast index, and
    * lands its per-document verdicts as the next index version through
    * [[graft.streaming.IndexStream.runVersionedSink]] (atomic commit +
    * `_batch_id` replay ledger, so a crash replay or a re-run over the
    * same checkpoint lands nothing twice). A document is one row, so
    * its verdict is complete within its own micro-batch — no cross-batch
    * streaming state at all, which is why the accumulated verdict union
    * is HASH-EXACT against the batch `text_decontaminate` oracle.
    * Scale: per-batch cost is shingle+broadcast-probe of the BATCH only;
    * the index never reshuffles; state is zero. */
  def streamDecontamQ(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.sinks.LakeRoot.root(spark, dir, "stream_decontam_v1")
    graft.sinks.LakeRoot.mkdirs(spark, base)
    // Stream-source fixture: the documents table as 4 files => 4
    // micro-batches at maxFilesPerTrigger=1 (written once per dir;
    // staging + rename so a racing run never reads a torn copy).
    val src = graft.sinks.LakeRoot.fixture(spark,
      graft.sinks.LakeRoot.child(base, "src")) { staging =>
      docs(spark, dir).repartition(4)
        .write.mode("overwrite").parquet(staging)
    }
    // Stored benchmark index, committed once (v0 pinned thereafter).
    val idxRoot = graft.sinks.LakeRoot.child(base, "eval_idx")
    if (graft.sinks.VersionedTable.latestVersion(spark, idxRoot).isEmpty)
      graft.sinks.VersionedTable.commit(
        docs(spark, dir).where(pmod(col("doc_id"), lit(29L)) === 0)
          .select(col("doc_id").as("eval_id"),
            explode(shingleHashesNative(spark, col("text"), 8)).as("h"))
          .distinct(),
        idxRoot)
    val verdictRoot = graft.sinks.LakeRoot.child(base, "verdicts")
    val stream = spark.readStream.schema(TableLoader.schemaOf(spark, src))
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = graft.streaming.IndexStream.runVersionedSink(
      stream, verdictRoot,
      b => {
        // foreachBatch hands a clone session: resolve everything —
        // index read included — against it.
        val s = b.sparkSession
        val evalIdx = graft.sinks.VersionedTable.read(s, idxRoot, Some(0L))
        b.where(pmod(col("doc_id"), lit(29L)) =!= 0)
          .select(col("doc_id"),
            explode(shingleHashesNative(s, col("text"), 8)).as("h"))
          .join(broadcast(evalIdx), "h")
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("h")).as("n_shared_ngrams"),
            countDistinct(col("eval_id")).as("n_eval_docs"))
      },
      Some(graft.sinks.LakeRoot.child(base, "ckpt")))
    q.awaitTermination()
    graft.sinks.VersionedTable.readAll(spark, verdictRoot)
      .orderBy(col("doc_id"))
  }

  /** Duplicated-SPAN REMOVAL (the step past flagging): the corpus-level
    * substring dedup of Lee et al. 2022 realized at word-8-gram
    * granularity — any 8-gram occurring more than once in the corpus
    * marks its 8 token positions as duplicated, and every marked token
    * is REMOVED from the document (not the whole document: boilerplate
    * headers/footers/license blocks go, the unique prose stays). The
    * output carries the kept-text rolling hash, so the driver check
    * proves the reconstructed post-removal text matches token for
    * token, not just the counts.
    *
    * Scale shape: gram hashing is map-side (one corpus scan), the
    * duplicate set is one count-aggregation on the 8-byte hash, the
    * coverage expansion is a bounded k-fold explode of duplicated gram
    * starts, and the removal is a LEFT ANTI equijoin of tokens against
    * covered (doc, pos) pairs — no range join, no per-doc driver work.
    * The kept-text rebuild groups by doc_id (high cardinality).
    */
  def dedupSpans(d: DataFrame, k: Int = 8): DataFrame = {
    val spark = d.sparkSession
    val base = d.select(col("doc_id"), split(col("text"), " ").as("w"))
    // Word k-gram rolling hashes with their 1-based start position.
    // Docs shorter than k tokens emit no grams (mirrors the shingle
    // kernel and keeps the oracle's exclusive range() identical).
    val grams = base.where(size(col("w")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(w) - ${k - 1}), " +
          s"i -> rolling_hash(concat_ws(' ', slice(w, i, $k)), 31, 1000000007))"))
        .as(Seq("s0", "h")))
      .select(col("doc_id"), (col("s0") + 1).as("s"), col("h"))
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2).select(col("h"))
    val dupStarts = grams.join(dup, "h").select(col("doc_id"), col("s"))
      .pin(false) // feeds coverage AND the per-doc dup count
    val cover = dupStarts
      .select(col("doc_id"), explode(sequence(col("s"), col("s") + (k - 1))).as("pos"))
      .distinct()
    val toks = base.select(col("doc_id"), posexplode(col("w")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tok"))
    val kept = toks.join(cover, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok"))).as("kept_text"))
    val nd = dupStarts.groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_grams"))
    base.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .join(nd, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        graft.expressions.RollingHash.rollingHashNative(spark,
          coalesce(col("kept_text"), lit("")), 31L, HashMod).as("kept_hash"))
      .orderBy(col("doc_id"))
  }

  /** Driver entry: span-level dedup of the documents table. */
  def dedupSpansQ(spark: SparkSession, dir: String): DataFrame =
    dedupSpans(docs(spark, dir))

  /** CHARACTER-level exact-substring dedup — Lee et al. 2022's FULL
    * method (arXiv:2107.06499 §4.1, "ExactSubstr"), not the word-gram
    * approximation above: a char position is removed iff it lies inside
    * some substring of length >= L that occurs >= 2 times in the corpus
    * (occurrences counted across AND within documents, overlapping
    * included). The reference realizes this with a monolithic suffix
    * array; distributed, the same set falls out of L-gram cover
    * marking, because the two are EQUAL: every length-L window of a
    * longer duplicated substring is itself duplicated, and a duplicated
    * L-gram is a duplicated substring of length exactly L
    * (CharSpanSpec pins this equivalence against a literal
    * all-substrings brute force). So no suffix array is ever built —
    * the plan is:
    *
    *  1. one corpus scan emits every position's L-char-window hash in
    *     O(len) per doc ([[graft.expressions.RollingHashAll]], the
    *     codegen'd Rabin–Karp slide — NOT the O(len*L) per-position
    *     recompute);
    *  2. one count-aggregation on the 8-byte hash finds candidates;
    *  3. the sparse candidates are verified by EXACT substring equality
    *     (count >= 2 over the real L-gram, window partitioned by gram)
    *     so a hash collision can never mark a unique span — exactness
    *     by construction, not probability;
    *  4. verified starts merge into per-doc covered intervals
    *     (gaps-and-islands: running max-end window per doc over the
    *     SPARSE dup starts, never over all positions);
    *  5. the kept text is rebuilt in one pass per doc by folding the
    *     merged-interval array with `aggregate()` over the original
    *     text — no per-char explode, no driver work.
    *
    * Output mirrors `text_dedup_spans`: per-doc char/gram/removal
    * counts plus the kept-text rolling hash, so the driver check proves
    * the reconstructed post-removal text char for char. */
  def charDedupSpans(d: DataFrame, L: Int = 40): DataFrame = {
    val spark = d.sparkSession
    charDedupSpansFull(d, L)
      .select(col("doc_id"), col("n_chars"), col("n_dup_grams"), col("n_removed"),
        graft.expressions.RollingHash.rollingHashNative(spark,
          col("kept_text"), 31L, HashMod).as("kept_hash"))
      .orderBy(col("doc_id"))
  }

  /** The full per-doc removal report INCLUDING the reconstructed kept
    * text — shared by the stats/hash query above and the corpus
    * terminal below. */
  private def charDedupSpansFull(d: DataFrame, L: Int): DataFrame = {
    val spark = d.sparkSession
    val base = d.select(col("doc_id"), col("text"),
      length(col("text")).cast("long").as("n_chars"))
    val grams = base.select(col("doc_id"), posexplode(
        graft.expressions.RollingHashAll.rollingHashAllNative(
          spark, col("text"), L, 31L, HashMod)).as(Seq("s0", "h")))
      .select(col("doc_id"), (col("s0") + 1).as("s"), col("h"))
    val dupH = grams.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2).select(col("h"))
    // Collision-proof verify on the sparse candidate set: re-extract the
    // actual L-char gram (map-side after a doc_id equijoin) and require
    // the REAL string to repeat.
    val cand = grams.join(dupH, "h").select(col("doc_id"), col("s"))
      .join(base.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), col("s"), expr(s"substring(text, s, $L)").as("g"))
    val dupStarts = cand
      .withColumn("c2", count(lit(1)).over(W.partitionBy(col("g"))))
      .where(col("c2") >= 2).select(col("doc_id"), col("s"))
      .pin(false) // feeds interval merge AND the dup count
    val wS = W.partitionBy(col("doc_id")).orderBy(col("s"))
    val merged = dupStarts
      .withColumn("pme", max(col("s") + (L - 1))
        .over(wS.rowsBetween(W.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("pme").isNull || col("s") > col("pme") + 1, 1L).otherwise(0L))
      .withColumn("island", sum(col("ni")).over(wS))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("st"), (max(col("s")) + (L - 1)).as("en"))
    val iv = merged.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(
        col("st").cast("int").as("st"), col("en").cast("int").as("en")))).as("ivs"),
        sum(col("en") - col("st") + 1).as("n_removed"))
    val nd = dupStarts.groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_grams"))
    base.join(iv, Seq("doc_id"), "left").join(nd, Seq("doc_id"), "left")
      .withColumn("kept_text", when(col("ivs").isNull, col("text")).otherwise(expr(
        """aggregate(ivs, named_struct('p', 1, 'acc', ''),
          |  (a, x) -> named_struct(
          |    'p', x.en + 1,
          |    'acc', concat(a.acc, substring(text, a.p, x.st - a.p))),
          |  a -> concat(a.acc, substring(text, a.p, length(text) - a.p + 1)))"""
          .stripMargin)))
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        col("kept_text"))
  }

  /** The L=40 removal report over the documents table, memoized per
    * (session, dir): the stats/hash query and the kept-corpus terminal
    * both consume exactly this table (the pinned kept_text column is
    * corpus-sized text, small next to the derivation it saves). */
  private def charDedupFullTable(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PlanCache.memo(spark, s"text:char-dedup-full:$dir") {
      charDedupSpansFull(docs(spark, dir), L = 40).pin(false)
    }

  /** Driver entry: char-level exact-substring dedup of the documents
    * table at L=40 chars. */
  def charDedupSpansQ(spark: SparkSession, dir: String): DataFrame =
    charDedupFullTable(spark, dir)
      .select(col("doc_id"), col("n_chars"), col("n_dup_grams"), col("n_removed"),
        graft.expressions.RollingHash.rollingHashNative(spark,
          col("kept_text"), 31L, HashMod).as("kept_hash"))
      .orderBy(col("doc_id"))

  /** The kept CORPUS itself — the write-back terminal of the char-level
    * exact-substring dedup: every document's post-removal text (docs
    * annihilated to nothing are dropped), with its residual length.
    * Where `text_dedup_spans_char` proves the reconstruction by rolling
    * hash, this terminal ships the actual strings, so the driver check
    * compares the reconstructed text VALUE for VALUE against the
    * oracle's string_agg rebuild — the strongest equality a text
    * operator can get, on the artifact a training pipeline consumes. */
  def charDedupCorpusQ(spark: SparkSession, dir: String): DataFrame =
    charDedupFullTable(spark, dir)
      .where(col("n_removed") < col("n_chars"))
      .select(col("doc_id"), col("kept_text"),
        (col("n_chars") - col("n_removed")).as("n_kept_chars"))
      .orderBy(col("doc_id"))

  /** WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    * the MOSS algorithm): over each document's word-3-gram hash
    * sequence, every window of `w` consecutive hashes selects its
    * minimum (rightmost on ties), and the selected set is the
    * fingerprint. The guarantee — at least one selection in every
    * w-window, matches only at shared grams — is what makes the
    * fingerprint both bounded (~2/(w+1) of grams) and alignment-free,
    * the overlap detector a plagiarism/contamination pass runs at
    * corpus scale.
    *
    * The rightmost-minimum is computed without a self-join: encode
    * (mod - h) * 2^31 + pos into one comparable long — max over the
    * w-row window frame picks the smallest hash, then the largest
    * position. Window partitions by doc_id (high cardinality); the
    * per-doc fingerprint hash folds the selected hashes in position
    * order. Positions are bounded by 2^31 tokens per document.
    */
  def winnow(d: DataFrame, w: Int = 8): DataFrame = {
    val spark = d.sparkSession
    val k = 3
    val enc = 1L << 31
    val base = d.select(col("doc_id"), split(col("text"), " ").as("w"))
    val grams = base.where(size(col("w")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(w) - ${k - 1}), " +
          s"i -> rolling_hash(concat_ws(' ', slice(w, i, $k)), 31, 1000000007))"))
        .as(Seq("s0", "h")))
      .select(col("doc_id"), (col("s0") + 1).as("p"), col("h"))
    val win = W.partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(W.currentRow, w - 1)
    val nGrams = W.partitionBy(col("doc_id"))
    val sel = grams
      .withColumn("m", count(lit(1)).over(nGrams))
      .withColumn("sel", max((lit(HashMod) - col("h")) * enc + col("p")).over(win))
      // only full-or-first windows define selections: starts 1..max(m-w+1, 1)
      .where(col("p") <= greatest(col("m") - (w - 1), lit(1)))
      .select(col("doc_id"), col("m"),
        pmod(col("sel"), lit(enc)).as("pos"),
        (lit(HashMod) - expr(s"sel div ${enc}L")).as("sh"))
      .distinct()
    sel.groupBy(col("doc_id"))
      .agg(max(col("m")).as("n_grams"),
        count(lit(1)).as("n_selected"),
        graft.expressions.RollingHash.rollingHashNative(spark,
          concat_ws(",", transform(array_sort(collect_list(struct(col("pos"), col("sh")))),
            x => x.getField("sh").cast("string"))), 31L, HashMod).as("fp_hash"))
      .orderBy(col("doc_id"))
  }

  /** Driver entry: winnowed fingerprints of the documents table. */
  def winnowQ(spark: SparkSession, dir: String): DataFrame =
    winnow(docs(spark, dir))

  /** Deterministic domain-mixture resampling: per-source target weights
    * (src0-4 ×2.5 upsample, src5-9 keep, rest ×0.4 downsample) realised
    * as integer copies + a hash-bucket fractional copy — no rand(), so
    * the mixture is reproducible run-to-run and engine-to-engine.
    * Map-only except the explode (bounded by the max rate); the op a
    * pipeline uses to hit a training mixture across epochs. */
  def mixtureResampleQ(spark: SparkSession, dir: String): DataFrame = {
    val h = graft.expressions.RollingHash
      .rollingHashNative(spark, col("text"), 31L, HashMod)
    val up = col("source").isin("src0", "src1", "src2", "src3", "src4")
    val keep = col("source").isin("src5", "src6", "src7", "src8", "src9")
    val nBase = when(up, 2L).when(keep, 1L).otherwise(0L)
    val fracBp = when(up, 5000L).when(keep, 0L).otherwise(4000L)
    docs(spark, dir)
      .withColumn("n_copies", nBase + when(pmod(h, lit(10000L)) < fracBp, 1L).otherwise(0L))
      .where(col("n_copies") >= 1)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy"))
      .orderBy(col("doc_id"), col("copy"))
  }

  /** SEQUENCE PACKING: assign every document its (bin, offset) in the
    * concat-and-split layout of fixed `budget`-token training contexts
    * — the step between tokenization and batching in an LLM pipeline.
    * A document's global token offset is a PREFIX SUM over doc_id
    * order; the naive formulation (one window over the whole corpus)
    * is a single-partition sort — the classic scale killer. This runs
    * the textbook two-level scan instead:
    *   1. within-part cumsum — window PARTITIONED by `doc_id div P`
    *      (deterministic static ranges, parallel across parts);
    *   2. per-part totals (tiny: one row per part) get their own
    *      prefix sum on a single partition BOUNDED BY PART COUNT, not
    *      corpus size (add a third level if parts themselves explode);
    *   3. broadcast the part offsets back — map-only final arithmetic.
    * All integer, so the oracle's flat global window derives identical
    * bins. */
  def packContextsQ(spark: SparkSession, dir: String): DataFrame = {
    val budget = 2048L
    val partSize = 64L
    val d = docs(spark, dir)
      .select(col("doc_id"), wsTokenCount(col("text")).as("n_tokens"))
      .withColumn("part", expr(s"doc_id div $partSize"))
    val inPart = org.apache.spark.sql.expressions.Window
      .partitionBy(col("part")).orderBy(col("doc_id"))
    val withCum = d.withColumn("cum_in_part",
      sum(col("n_tokens")).over(inPart) - col("n_tokens"))
    val overParts = org.apache.spark.sql.expressions.Window.orderBy(col("part"))
    val offsets = d.groupBy(col("part")).agg(sum(col("n_tokens")).as("part_total"))
      .withColumn("part_offset",
        coalesce(sum(col("part_total")).over(overParts) - col("part_total"), lit(0L)))
      .select(col("part"), col("part_offset"))
    withCum.join(broadcast(offsets), "part")
      .withColumn("gofs", col("part_offset") + col("cum_in_part"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"gofs div $budget").as("bin"),
        pmod(col("gofs"), lit(budget)).as("offset_in_bin"))
      .orderBy(col("doc_id"))
  }

  /** Bigram language-model coverage score — the CCNet/Gopher-style
    * "does this look like the reference corpus" quality proxy, with
    * integer arithmetic in place of float log-perplexity so both
    * engines derive identical values: the corpus's top-1000 word
    * bigrams (by frequency, lexicographic ties) form the reference LM
    * table, and each document scores the fraction of its bigram
    * OCCURRENCES found in the table (basis points). Low coverage =
    * gibberish/boilerplate/wrong-register text. Scale shape: the LM
    * table is bounded by the design constant (broadcast join); the
    * per-doc bigram explode shuffles (doc_id, hit) pairs with map-side
    * partial counts. */
  def ngramLmScoreQ(spark: SparkSession, dir: String): DataFrame = {
    val words = filter(split(lower(col("text")), "[^a-z]+"), w => length(w) > 0)
    val n = size(words)
    val bigrams = zip_with(
      slice(words, lit(1), greatest(n - 1, lit(0))),
      slice(words, lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val d = docs(spark, dir).select(col("doc_id"), bigrams.as("bg"))
    val table = d.select(explode(col("bg")).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("bigram")).limit(1000)
      .select(col("bigram"))
    val covered = d.select(col("doc_id"), explode(col("bg")).as("bigram"))
      .join(broadcast(table), "bigram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
    d.select(col("doc_id"), size(col("bg")).cast("long").as("n_bigrams"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_bigrams"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"))
      .withColumn("coverage_bp",
        when(col("n_bigrams") > 0, expr("n_covered * 10000 div n_bigrams"))
          .otherwise(lit(0L)))
      .orderBy(col("doc_id"))
  }

  /** EXACT-proportion stratified 80/10/10 split: within every source
    * stratum, documents are ordered by (rolling hash, doc_id) — a
    * deterministic, content-derived shuffle both engines reproduce —
    * and the first floor(0.8n) ranks go to train, the next to val,
    * the rest to test. Unlike hash-modulo splitting
    * (text_sample_split), the proportions are exact per stratum, not
    * just in expectation. Scale shape: the per-stratum rank rides the
    * GLOBAL two-level rank ordered by (source, hash, id) — strata are
    * range-spread across ALL partitions, so a handful of huge sources
    * cannot serialize into single-partition windows — and becomes
    * stratum-local by subtracting each stratum's broadcast min rank. */
  def stratifiedSplitQ(spark: SparkSession, dir: String): DataFrame = {
    val h = graft.expressions.RollingHash
      .rollingHashNative(spark, col("text"), 31L, HashMod)
    val d = docs(spark, dir).select(col("doc_id"), col("source"), h.as("_h"))
    val ranked = graft.operators.Windows.globalRowNumber(
      d, Seq(col("source"), col("_h"), col("doc_id")), rankCol = "_grank")
    val bounds = ranked.groupBy(col("source"))
      .agg(min(col("_grank")).as("_lo"), count(lit(1)).as("_n"))
    ranked.join(broadcast(bounds), "source")
      .withColumn("_r", col("_grank") - col("_lo") + 1)
      .select(col("doc_id"), col("source"),
        when(col("_r") * 10 <= col("_n") * 8, "train")
          .when(col("_r") * 10 <= col("_n") * 9, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Shared near-dup pair plan (word-3-gram Jaccard >= 0.6), memoized
    * per (session, dir) via PlanCache: six driver queries consume this
    * one derivation (the pairs query itself, survivors, corpus,
    * cluster sizes, stats, incremental survivors), so the prefix-
    * filtered candidate join + exact verify runs once per session and
    * every later consumer reuses the pinned blocks — the CC labeling
    * on top is additionally memoized per pair plan in PlanCache. */
  private def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PlanCache.memo(spark, s"dedup:jaccard-pairs:$dir") {
      Dedup.ngramJaccardPairs(docs(spark, dir), tauBp = 6000L).pin(false)
    }

  /** Near-dup cluster-size histogram: how many duplicate clusters of
    * each size the corpus carries — the report a curator reads to pick
    * a dedup threshold (a few giant clusters = boilerplate; a long
    * tail of pairs = true near-dups). Components from the same CC the
    * survivor queries use; two cheap aggregations on top. */
  def dedupClusterSizesQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(jaccardPairs(spark, dir))
      .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .orderBy(col("cluster_size"))

  /** Per-source dedup report (the read a curator does before mixing):
    * docs, survivors, pruned count and prune rate per source. Rides
    * the memoized CC labeling, so survivors, corpus terminal, cluster
    * sizes and this report share ONE iterative run; the join is an
    * 8-byte-id left join and the output is bounded by source count.
    * Oracle is the full recursive-CTE reachability (hash-exact). */
  def dedupStatsQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val losers = Dedup.connectedComponents(jaccardPairs(spark, dir))
      .where(col("id") =!= col("comp")).select(col("id").as("_loser"))
    d.join(losers, d("doc_id") === col("_loser"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), count(col("_loser")).as("n_pruned"))
      .select(col("source"),
        col("n_docs"),
        (col("n_docs") - col("n_pruned")).as("n_survivors"),
        col("n_pruned"),
        bp(col("n_pruned"), col("n_docs")).as("prune_bp"))
      .orderBy(col("source"))
  }

  /** The curation pipeline terminal, end to end in ONE query: quality
    * gates (the classifier's heuristic label — duplicate-bigram and
    * stopword-ratio thresholds) -> exact near-dup dedup over the
    * gated docs -> word-8-gram decontamination against the held-out
    * eval slice (doc_id % 29 == 0, itself excluded from the corpus).
    * What a training-data pipeline actually ships. Every stage reuses
    * the individually oracle-checked machinery (qualityFeatures,
    * ngramJaccardPairs + CC, the shared shingle-hash family), and the
    * COMPOSITION is hash-exact against one recursive-CTE oracle —
    * stage order and filter placement are proven, not assumed. */
  def pipelineCorpusQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val keep = qualityFeatures(d).where(col("y") === 1.0)
      .select(col("doc_id").as("_kid"))
    val gated = d.join(keep, d("doc_id") === col("_kid")).drop("_kid")
      .where(pmod(col("doc_id"), lit(29L)) =!= 0)
    val survivors = Dedup.dedupedCorpus(gated,
      Dedup.ngramJaccardPairs(gated, tauBp = 6000L))
    val sh8 = shingleHashesNative(spark, col("text"), 8)
    val evalHashes = d.where(pmod(col("doc_id"), lit(29L)) === 0)
      .select(explode(sh8).as("h")).distinct()
    val contaminated = survivors
      .select(col("doc_id").as("_cid"), explode(sh8).as("h"))
      .join(evalHashes, "h").select(col("_cid")).distinct()
    survivors.join(contaminated, survivors("doc_id") === col("_cid"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Per-source corpus rollup (provenance dimension — the slice a
    * training-data pipeline filters/reweights by). */
  def bySourceQ(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(wsTokenCount(col("text"))).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        max(length(col("text")).cast("long")).as("max_chars"))
      .orderBy(col("source"))

  def dedupExactQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(spark, dir)).orderBy(col("text_hash"), col("text_hash2"))

  def dedupNgramJaccardQ(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(spark, dir)
      .orderBy(col("id1"), col("id2"))

  /** Asymmetric containment pairs (doc mostly contained in another):
    * catches quote/wrapper duplication that symmetric Jaccard misses
    * when the outer document is much longer. */
  def textContainmentQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(docs(spark, dir), tauBp = 6000L)
      .orderBy(col("inner_id"), col("outer_id"))

  /** Survivor assignment: connected components over the exact near-dup
    * pairs — each duplicated document mapped to its canonical (min id)
    * representative. */
  def dedupSurvivorsQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(jaccardPairs(spark, dir))
      .select(col("id").as("doc_id"), col("comp").as("canonical"))
      .orderBy(col("doc_id"))

  /** Incremental survivor assignment: the candidate pairs are split
    * deterministically into a "historical" half and a "new batch" half,
    * and the batch half is FOLDED IN via `Dedup.incrementalComponents` —
    * prior labels re-enter as depth-1 star edges, so the merge contracts
    * in O(log batch) rounds without re-reading history. The oracle is
    * the FULL-graph recursive CTE (same as dedup_survivors): incremental
    * maintenance must be semantically invisible.
    *
    * The historical labels are MATERIALIZED to a parquet fixture on
    * first call and read back on every subsequent call — the shape a
    * production pipeline actually has (yesterday's survivor map stored
    * in the lake), so the measured query is the incremental fold-in
    * alone, not fold-in + a from-scratch recompute of history. The
    * full-vs-incremental equality proof lives in DedupSpec; the driver
    * oracle here is still the full-graph CTE. */
  def dedupSurvivorsIncQ(spark: SparkSession, dir: String): DataFrame = {
    val pairs = jaccardPairs(spark, dir).select(col("id1"), col("id2"))
    val isOld = pmod(xxhash64(col("id1"), col("id2")), lit(2L)) === 0L
    // Fixture key: input path + a version bump for any change to the
    // pair-generation semantics (stale labels would fail the driver's
    // hash check loudly, but never leave one lying around to trip on).
    // v2: the labels land through VersionedTable.commit (staging +
    // atomic rename on Hadoop FS, nesting-race-safe) — stored dedup
    // state uses the same hardened lake-commit discipline as the
    // stored IVF quantizer and minhash band fixtures.
    val root = graft.sinks.LakeRoot.root(spark, dir, "prior_labels_v2")
    if (graft.sinks.VersionedTable.latestVersion(spark, root).isEmpty)
      graft.sinks.VersionedTable.commit(
        Dedup.connectedComponents(pairs.where(isOld)), root)
    val prior = graft.sinks.VersionedTable.read(spark, root, Some(0L))
    Dedup.incrementalComponents(prior, pairs.where(!isOld))
      .select(col("id").as("doc_id"), col("comp").as("canonical"))
      .orderBy(col("doc_id"))
  }

  /** Top-3 longest documents per source through the NATIVE top-k
    * operator (`Windows.topKPerGroupNative` — partial per-partition
    * heaps, the exchange carries at most k rows per source per input
    * partition): the "best documents per corpus slice" selection a
    * curation pipeline runs. Oracle is the ROW_NUMBER formulation. */
  def topKBySourceQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Windows.topKPerGroupNative(
        docs(spark, dir).select(col("source"), col("doc_id"), col("n_chars")),
        3, Seq(col("source")), Seq(col("n_chars").desc, col("doc_id")))
      .select(col("source"), col("rnk"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("rnk"))

  /** Fuzzy near-match pairs via prefix-blocked Levenshtein
    * (`Dedup.fuzzyPrefixPairs`): the entity-resolution primitive,
    * hash-exact against DuckDB's identical builtin edit distance.
    * DIAGNOSTIC PAIR CENSUS, not a pipeline stage: its OUTPUT is the
    * pair list itself, which grows quadratically in duplicate density
    * by problem statement (the sf1 decade measures it super-linear for
    * exactly that reason — do not "fix" it); the linear production
    * terminal over the same census is [[fuzzySurvivorsQ]]
    * (text_fuzzy_survivors), which contracts pairs to one row per
    * document. */
  def fuzzyPairsQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.fuzzyPrefixPairs(docs(spark, dir))
      .orderBy(col("id1"), col("id2"))

  /** Fuzzy near-match SURVIVOR assignment — the linear-output terminal
    * over [[fuzzyPairsQ]]'s pair census, exactly the pairs→survivors
    * contraction the media family got (`mm_phash_survivors`): the
    * blocked Levenshtein pairs feed the shared large-star/small-star
    * CC and the emit is one row per document in a fuzzy component —
    * (doc_id, survivor_id = component min, cluster_size). At duplicate
    * density d the pair census grows ∝ (n·d)²/n while this terminal is
    * ≤ n rows at ANY density — the row an entity-resolution stage
    * writes back. Oracle: DuckDB recursive-CTE reachability over the
    * identical builtin edit distance (hash-exact, unlike the media
    * survivors whose decode step has no SQL twin). */
  def fuzzySurvivorsQ(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.fuzzyPrefixPairs(docs(spark, dir))
      .select(col("id1"), col("id2"))
    val cc = Dedup.connectedComponents(pairs)
    val sizes = cc.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "comp")
      .select(col("id").as("doc_id"), col("comp").as("survivor_id"),
        col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** Cross-source contamination matrix: for every source pair, the
    * number of distinct 8-gram fingerprints present in BOTH sources —
    * the train/eval overlap report a data curator reads before mixing
    * corpora. Scale shape is the inverted index again: distinct
    * (source, hash) rows (one shuffle with map-side partials), then an
    * equijoin on the 8-byte hash — sources sharing no n-gram never
    * meet, and the output is bounded by source-pairs, not documents. */
  def sourceOverlapQ(spark: SparkSession, dir: String): DataFrame = {
    val sh = graft.expressions.ShingleHashes.shingleHashesNative(spark, col("text"), 8)
    val sourceShingles = docs(spark, dir)
      .select(col("source"), explode(sh).as("h")).distinct()
    val a = sourceShingles.select(col("source").as("source_a"), col("h"))
    val b = sourceShingles.select(col("source").as("source_b"), col("h"))
    a.join(b, "h").where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared_ngrams"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** The deduplicated corpus (pipeline terminal): exact near-dup pairs
    * -> connected components -> LEFT ANTI join of the non-canonical
    * members. What a dedup stage actually writes back to the lake;
    * recursive-CTE oracle (same component semantics as
    * dedup_survivors, then the documents-table filter). */
  def dedupCorpusQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupedCorpus(docs(spark, dir), jaccardPairs(spark, dir))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** PMI-ranked bigram collocations (phrase mining): the signal a
    * vocabulary/phrase pipeline computes before merging multiword
    * units into single tokens. Joint and marginal counts are exact
    * integer aggregations; the PMI ratio is floored at micro-units
    * from the same left-associated double formula both engines
    * evaluate, so the longs are bit-identical. Scale shape: two
    * explode->partial-agg aggregations keyed on tokens, two joins
    * keyed on a word (vocabulary-sized sides, AQE broadcasts them),
    * one crossJoin with a 1-row totals plan, and the final top-50 is
    * orderBy+limit — TakeOrdered, never a global sort. */
  def collocationsQ(spark: SparkSession, dir: String): DataFrame =
    collocations(docs(spark, dir), minCount = 5, k = 50)

  private[graft] def collocations(d: DataFrame, minCount: Long, k: Int): DataFrame = {
    val words = split(col("text"), " ")
    val n = size(words)
    // adjacent-token pairs; tokens are space-split so concat+resplit
    // round-trips losslessly
    val bgStr = zip_with(
      slice(words, lit(1), greatest(n - 1, lit(0))),
      slice(words, lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val pairs = d.select(explode(bgStr).as("bg"))
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"))
    val cxy = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
    val uni = d.select(explode(words).as("wd"))
      .groupBy(col("wd")).agg(count(lit(1)).as("c_w"))
    val totals = cxy.agg(sum(col("c_xy")).as("n_bg"))
      .crossJoin(uni.agg(sum(col("c_w")).as("n_tok")))
    cxy
      .join(uni.select(col("wd").as("w1"), col("c_w").as("c_x")), "w1")
      .join(uni.select(col("wd").as("w2"), col("c_w").as("c_y")), "w2")
      .crossJoin(broadcast(totals))
      .where(col("c_xy") >= minCount)
      .withColumn("pmi_micro",
        floor(lit(1e6) *
          ((col("c_xy").cast("double") * col("n_tok") * col("n_tok")) /
            (col("n_bg").cast("double") * col("c_x") * col("c_y")))).cast("long"))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"), col("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Compressibility quality signal: zlib-deflate ratio in basis
    * points per document, plus the corpus-level signal per source.
    * Highly compressible text is templated/repetitive — the cheap
    * quality proxy curation pipelines run alongside the exact
    * duplicate-bigram gate (text_repetition is this signal family's
    * oracle-checked twin; no SQL engine exposes deflate, so the
    * driver records rows-only and TextFunctionsSpec pins
    * bit-equivalence to java.util.zip.Deflater plus the
    * repetitive-compresses-further ordering). Map-only per row; the
    * final sort is the only exchange. */
  def compressRatioQ(spark: SparkSession, dir: String): DataFrame = {
    val dl = graft.expressions.DeflateLen.deflateLenNative(spark, col("text"))
    docs(spark, dir)
      .select(col("doc_id"), octet_length(col("text")).cast("long").as("n_bytes"),
        dl.cast("long").as("deflate_len"))
      .withColumn("ratio_bp",
        when(col("n_bytes") > 0, col("deflate_len") * 10000L / col("n_bytes"))
          .otherwise(lit(0L)).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Per-doc quality features (integer basis points) + the heuristic
    * keep/drop label the classifier trains against. Shared by the
    * driver query and the spec's in-memory reference loop. */
  private[graft] def qualityFeatures(d: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    val n = size(words)
    val bigrams = zip_with(
      slice(words, lit(1), greatest(n - 1, lit(0))),
      slice(words, lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    d.select(col("doc_id"), col("text"), bigrams.as("bg"))
      .select(col("doc_id"), col("text"),
        bp(size(col("bg")) - size(array_distinct(col("bg"))),
          greatest(size(col("bg")), lit(1)).cast("long")).as("rep_bp"),
        bp(stopwordCount(col("text")), wsTokenCount(col("text"))).as("stop_bp"),
        bp(alphaCount(col("text")), length(col("text")).cast("long")).as("alpha_bp"),
        bp(length(replace(col("text"), lit(" "), lit(""))).cast("long"),
          wsTokenCount(col("text"))).as("wlen_bp"))
      .withColumn("x_rep", col("rep_bp").cast("double") / 10000.0)
      .withColumn("x_stop", col("stop_bp").cast("double") / 10000.0)
      .withColumn("x_alpha", col("alpha_bp").cast("double") / 10000.0)
      .withColumn("x_wlen", col("wlen_bp").cast("double") / 10000.0)
      .withColumn("y",
        when(col("rep_bp") < 1500 && col("stop_bp") < 800, 1.0).otherwise(0.0))
      .drop("text")
  }

  private[graft] val QualityFeatCols = Seq("x_rep", "x_stop", "x_alpha", "x_wlen")

  /** Learned quality filter: a tiny logistic regression trained ON THE
    * CLUSTER against the heuristic keep/drop label, then map-only
    * scoring of every document — the fastText-style "looks like the
    * curated slice" classifier pipelines run after the exact gates.
    * Each training step is one RDD `treeAggregate` over the features,
    * planned once, whose gradient sums ride order-independent
    * fixed-point longs, so the weights (and these scores) are
    * bit-identical across partitionings; the spec pins exact weight
    * equality against an in-memory reference loop over the same
    * features. Driver pacing is `steps`(=25) bounded jobs
    * (Bpe.trainVocab regime); no SQL engine trains a model, so the
    * driver records rows-only. */
  def qualityClassifierQ(spark: SparkSession, dir: String): DataFrame = {
    val raw = qualityFeatures(docs(spark, dir)).pin(true)
    val (f, _) = graft.operators.QualityModel.standardize(raw, QualityFeatCols)
    val w = graft.operators.QualityModel.train(f, QualityFeatCols, "y", lr = 2.0, steps = 25)
    graft.operators.QualityModel.score(f, QualityFeatCols, w)
      .select(col("doc_id"), col("y").cast("long").as("label_heur"),
        col("p_micro"), col("pred"))
      .orderBy(col("doc_id"))
  }

  /** STORED lifecycle for the learned quality filter — the
    * train-once/score-forever contract every other stored serve in
    * this library honors (IVF quantizer, BM25 index, HLL/CMS/KLL
    * summaries): [[qualityClassifierQ]] retrains from scratch on every
    * run, which at 100 TB would spend the full 25-step gradient pass
    * on a corpus that changed by one ingest batch. Here the model —
    * k+1 fixed-point-trained weights PLUS the standardization (mean,
    * sd) pairs, the complete scoring closure — is trained once on the
    * HISTORICAL slice (doc_id % 16 != 0, the library's standard
    * historical/delta split) and committed through
    * [[graft.sinks.VersionedTable]] (staging + atomic rename); every
    * later run reloads it pinned at v0 (5 bounded rows — a
    * by-design driver collect) and scores ONLY the delta batch
    * (doc_id % 16 == 0) map-only: no aggregation, no shuffle, no
    * training jobs — serve cost rides the batch size, not the corpus.
    * QualityModelSpec pins the lifecycle sharp: stored weights equal a
    * from-scratch train on the same slice bit-for-bit (fixed-point
    * gradient sums are order-independent), the second run does NOT
    * retrain, and stored-path scores equal fresh-model scores row for
    * row. No SQL engine trains a model, so the driver records the
    * rows+schema gate (the batch count is exactly derivable).
    *
    * REFRESH CONTRACT (train-once is not train-forever): before
    * serving, the batch's feature means are checked against the
    * serving model's OWN standardization stats
    * ([[graft.operators.QualityModel.driftZ]] — one bounded
    * batch-sized aggregation). A batch within [[QualityDriftZ]] stored
    * standard deviations serves the frozen model; a drifted batch is a
    * corpus that moved, so a NEW version is trained on the drifted
    * batch (the sliding-window refresh a production filter runs) and
    * committed — and because the new version's stats DESCRIBE that
    * batch, the next identical run measures z ~ 0 and commits nothing:
    * no-drift => no new version, injected drift => exactly one
    * (QualityModelSpec pins both), and the serve always reads the
    * LATEST committed closure. */
  private[graft] val QualityDriftZ = 0.5

  def qualityStoredQ(spark: SparkSession, dir: String): DataFrame =
    qualityStoredServe(spark, docs(spark, dir),
      graft.sinks.LakeRoot.root(spark, dir, "quality_model_v1"))

  private[graft] def qualityStoredServe(spark: SparkSession,
      d: DataFrame, root: String): DataFrame = {
    val isDelta = col("doc_id") % 16 === 0

    def commitClosure(w: Array[Double], stats: Array[(Double, Double)]): Unit = {
      // j = 0 is the bias (identity standardization); j >= 1 carries
      // feature j-1's (mean, sd) so the model row set is the WHOLE
      // scoring closure — a consumer needs nothing else.
      val rows = (0 to QualityFeatCols.size).map { j =>
        val (m, s) = if (j == 0) (0.0, 1.0) else stats(j - 1)
        (j, w(j), m, s)
      }
      import spark.implicits._
      graft.sinks.VersionedTable.commit(rows.toDF("j", "w", "mean", "sd"), root)
      ()
    }

    def trainOn(slice: DataFrame): (Array[Double], Array[(Double, Double)]) = {
      val raw = qualityFeatures(slice).pin(true)
      val (f, stats) = graft.operators.QualityModel.standardize(raw, QualityFeatCols)
      val w = graft.operators.QualityModel.train(f, QualityFeatCols, "y", lr = 2.0, steps = 25)
      (w, stats)
    }

    if (graft.sinks.VersionedTable.latestVersion(spark, root).isEmpty) {
      val (w, stats) = trainOn(d.where(!isDelta))
      commitClosure(w, stats)
    }
    def loadLatest(): (Array[Double], Array[(Double, Double)]) = {
      val model = graft.sinks.VersionedTable.read(spark, root, None)
        .select(col("j"), col("w"), col("mean"), col("sd"))
        .collect().sortBy(_.getInt(0)) // k+1 rows, bounded by design
      (model.map(_.getDouble(1)),
        model.drop(1).map(r => (r.getDouble(2), r.getDouble(3))))
    }
    var (w, stats) = loadLatest()
    val rawBatch = qualityFeatures(d.where(isDelta))
    // Refresh trigger: batch means vs the SERVING model's stats.
    if (graft.operators.QualityModel.driftZ(rawBatch, QualityFeatCols, stats) > QualityDriftZ) {
      val (w1, stats1) = trainOn(d.where(isDelta))
      commitClosure(w1, stats1)
      w = w1; stats = stats1
    }
    // Standardize the batch with the STORED (mean, sd) — the identical
    // (x - lit(mean)) / lit(sd) expression standardize() builds, so a
    // stored-model score is bit-equal to a fresh-model score.
    val fBatch = QualityFeatCols.zipWithIndex.foldLeft(rawBatch) {
      case (df, (f, j)) => df.withColumn(f, (col(f) - lit(stats(j)._1)) / lit(stats(j)._2))
    }
    graft.operators.QualityModel.score(fBatch, QualityFeatCols, w)
      .select(col("doc_id"), col("y").cast("long").as("label_heur"),
        col("p_micro"), col("pred"))
      .orderBy(col("doc_id"))
  }

  def dedupMinhashQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(docs(spark, dir), tauBp = 6000L)
      .orderBy(col("id1"), col("id2"))

  /** Per-source INCREMENTAL MinHash survivors over STORED state, driven
    * end to end — the operational loop a continuously-ingesting dedup
    * service runs. Two pieces of historical state are committed to
    * [[graft.sinks.VersionedTable]] roots (staging + atomic rename, the
    * same hardened lake-commit discipline as the stored IVF quantizer)
    * the first time this runs against a lake: the historical corpus'
    * MinHash BAND SIGNATURES and its survivor LABELS. Every later run
    * reloads both pinned at version 0 and processes the "new" sources
    * (deterministic 1-in-4 split of the source dimension — a per-source
    * ingest batch) incrementally: candidate generation joins the new
    * batch's bands against the STORED corpus bands (no old document is
    * re-shingled for candidates; only exact-verify candidates are), and
    * the verified pairs fold into the stored labels in O(log batch) CC
    * rounds. Approximate family => rows-only at the driver; DedupSpec
    * proves the sharp identity — this exact stored-state path equals
    * the from-scratch labeling of minhashPairs(all docs), label for
    * label (candidate sets are deterministic, so it's equality, not a
    * recall bound). */
  def dedupSurvivorsMinhashIncQ(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val isNewSource = pmod(xxhash64(col("source")), lit(4L)) === 0L
    val oldDocs = d.where(!isNewSource)
    val newDocs = d.where(isNewSource)
    def root(kind: String) =
      graft.sinks.LakeRoot.root(spark, dir, s"mh_${kind}_v1")
    val bandsRoot = root("bands")
    val labelsRoot = root("labels")
    if (graft.sinks.VersionedTable.latestVersion(spark, bandsRoot).isEmpty)
      graft.sinks.VersionedTable.commit(
        Dedup.minhashBandSignatures(oldDocs), bandsRoot)
    if (graft.sinks.VersionedTable.latestVersion(spark, labelsRoot).isEmpty)
      graft.sinks.VersionedTable.commit(
        Dedup.connectedComponents(
          Dedup.minhashPairs(oldDocs, tauBp = 6000L).select(col("id1"), col("id2"))),
        labelsRoot)
    val storedBands = graft.sinks.VersionedTable.read(spark, bandsRoot, Some(0L))
    val prior = graft.sinks.VersionedTable.read(spark, labelsRoot, Some(0L))
    val incPairs = Dedup.incrementalMinhashPairs(
        newDocs, oldDocs, storedBands, tauBp = 6000L)
      .select(col("id1"), col("id2"))
    Dedup.incrementalComponents(prior, incPairs)
      .select(col("id").as("doc_id"), col("comp").as("canonical"))
      .orderBy(col("doc_id"))
  }

  def dedupSimhashQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(docs(spark, dir), maxDist = 3)
      .orderBy(col("id1"), col("id2"))
}
