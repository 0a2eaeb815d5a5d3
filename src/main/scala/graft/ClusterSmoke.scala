package graft

/** Cluster-realism smoke: run the iterative + stored-state + streaming
  * families under `local-cluster[2,C,M]` — real executor JVMs, real
  * serialization, no driver-shared heap — the cheapest way to surface
  * driver-local assumptions (a closure capturing driver state, a path
  * only the driver can see, a codegen'd expression class missing from
  * the executor classpath) before a real cluster does.
  *
  * Runs with `spark.graft.checkpoint.reliable=true` so every pin goes
  * through the reliable-checkpoint path ([[graft.operators.Pin]]) —
  * exercising exactly the configuration a
  * preemptible-executor deployment would use — and with an ISOLATED
  * lake root, so the stored-state builds (PageRank IVM state, IVF/PQ
  * indexes, BM25 postings, minhash bands) execute on the cluster
  * rather than serving driver-built fixtures.
  *
  * Writes `CLUSTER_SMOKE_r{N}.json` (round from args or "X") with
  * per-query wall seconds, row counts, and any failure messages.
  *
  * Usage: SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 sbt -batch
  * "runMain graft.ClusterSmoke /root/testdata/sf0.001
  * CLUSTER_SMOKE_r10.json"
  * (SPARK_SCALA_VERSION is needed because the standalone worker's
  * executor command builder resolves Spark's jars dir per Scala
  * version outside bin/spark-submit's env bootstrap — without it
  * executors fail to launch with "Cannot find any build
  * directories".) */
object ClusterSmoke {

  /** The families whose cluster behavior differs most from local[N]:
    * iterative (graph, CC), stored-state build→serve, and all seven
    * Structured Streaming drivers. */
  val SmokeSet: Seq[String] = Seq(
    "graph_pagerank", "graph_pagerank_weighted", "graph_triangles",
    "graph_label_prop", "graph_pagerank_inc", "graph_pagerank_stream",
    "graph_bfs", "graph_bfs_inc", "graph_bfs_stream",
    "graph_sssp", "graph_sssp_inc", "graph_sssp_stream", "q_minmax_rewrite",
    "q_scalar_argmax_rewrite", "text_quality_stored",
    "q_heavy_hitters_stored", "text_fuzzy_pairs",
    "ann_ivf_stored", "ann_ivf_stream", "ann_pq_stored",
    "text_bm25_inc", "dedup_survivors_minhash_inc", "dedup_corpus",
    "vec_pca", "text_stream_decontam", "q_basket_inc",
    "ev_stream_sessions", "ev_stream_merge", "ev_stream_dedup",
    "ev_stream_join", "ev_stream_hopping")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outFile = if (args.length > 1) args(1) else "CLUSTER_SMOKE.json"
    // 3rd arg "full": run the ENTIRE query surface under the cluster
    // (every SparkEntry entry, sorted) instead of the targeted
    // iterative/stored-state/streaming set — the strongest
    // driver-local-assumption sweep this environment can run.
    val full = args.length > 2 && args(2) == "full"
    val names = if (full) SparkEntry.queries.keys.toSeq.sorted else SmokeSet
    val classes = new java.io.File("target/scala-2.13/classes").getAbsolutePath
    val lake = new java.io.File(
      s"target/cluster-lake-${System.currentTimeMillis()}").getAbsolutePath
    val ckpt = new java.io.File(lake, "reliable-ckpt").getAbsolutePath
    val spark = GraftSession.builder("8")
      // 2 real executor JVMs x 4 cores x 2 GiB — separate processes,
      // full serialization boundary between driver and executors.
      .master("local-cluster[2,4,2048]")
      // Executors are launched from SPARK_HOME's classpath; our
      // classes must be added explicitly (the first driver-local
      // assumption this smoke kills).
      .config("spark.executor.extraClassPath", classes)
      // Isolated lake: stored-state builds must run on THIS cluster.
      .config("spark.graft.lake.root", lake)
      // Iteration pins go through reliable checkpoints — the
      // preemption-safe deployment shape.
      .config("spark.graft.checkpoint.reliable", "true")
      .config("spark.graft.checkpoint.dir", ckpt)
      // reap checkpoint files of out-of-scope RDDs (see Pin's scaladoc
      // — block-level unpersist alone never deletes checkpoint files)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Full JSON string escape incl. control chars — Spark exception
    // messages routinely carry newlines (plan dumps, stage failures),
    // and one unescaped \n in an err field invalidates the artifact.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val r =
        try {
          val n = fn(spark, sfDir).count()
          s"""{"sec":${"%.2f".formatLocal(java.util.Locale.ROOT,
            (System.nanoTime() - t0) / 1e9)},"rows":$n,"ok":true}"""
        } catch {
          case e: Throwable =>
            s"""{"sec":${"%.2f".formatLocal(java.util.Locale.ROOT,
              (System.nanoTime() - t0) / 1e9)},"ok":false,"err":${q(
              String.valueOf(e.getMessage).take(300))}}"""
        }
      println(s"[smoke] $name -> $r")
      q(name) + ":" + r
    }
    val payload =
      s"""{"master":"local-cluster[2,4,2048]","sf":${q(sfDir)},""" +
        s""""reliable_checkpoint":true,"isolated_lake":true,""" +
        s""""mode":${q(if (full) "full-surface" else "targeted")},""" +
        s""""n_queries":${names.size},""" +
        s""""queries":{${results.mkString(",")}}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), payload + "\n")
    println(s"[smoke] wrote $outFile")
    spark.stop()
  }
}
