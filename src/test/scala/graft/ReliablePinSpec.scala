package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graph, PlanCache}
import graft.queries.{GraphQueries, RelationalQueries, TextQueries}

/** `spark.graft.checkpoint.reliable=true` reaches every pin: after an
  * action, each pinned leaf of the result's plan is a reliable
  * checkpoint (its RDD has a checkpoint file), and the outputs equal
  * the default session's. */
class ReliablePinSpec extends SparkSpec {

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Runs `q` in both sessions; the reliable run's pinned leaves,
    * and those of the PlanCache entries under `memoKeys`, must all be
    * checkpoint files after its action. */
  private def checkReliable(rs: SparkSession, what: String, memoKeys: String*)(
      q: SparkSession => DataFrame): Unit = {
    val expected = sorted(q(spark))
    val df = q(rs)
    assert(sorted(df) === expected, s"$what: reliable pins changed the output")
    val memos = memoKeys.map(k => PlanCache.memo(rs, k)(fail(s"$what: no entry $k")))
    val leaves = (df +: memos).flatMap(_.queryExecution.logical.collect { case r: LogicalRDD => r })
    assert(leaves.nonEmpty, s"$what: no pinned leaf in the plan")
    val local = leaves.filterNot(_.rdd.getCheckpointFile.isDefined)
    assert(local.isEmpty, s"$what: ${local.size} of ${leaves.size} pins are not reliable checkpoints")
  }

  test("reliable=true checkpoints graph, memo, CC and globalRowNumber pins") {
    val rs = SparkSpec.reliableSession()
    try {
      checkReliable(rs, "Graph.pageRank") { s =>
        Graph.pageRank(s.range(400).select(
          (col("id") % 60).as("src"), ((col("id") * 7 + 3) % 60).as("dst")), iters = 4)
      }
      checkReliable(rs, "qTriangles", s"graph:co-supplier-edges:$Sf")(
        GraphQueries.qTriangles(_, Sf))
      // CC labels joined back to the memoized jaccard pairs they label
      checkReliable(rs, "Dedup.connectedComponents") { s =>
        val pairs = TextQueries.dedupNgramJaccardQ(s, Sf)
        Dedup.connectedComponents(pairs).join(pairs, col("id") === col("id1"))
      }
      checkReliable(rs, "q_equidepth (Windows.globalRowNumber)")(
        RelationalQueries.qEquidepth(_, Sf))
    } finally GraftSession.onSessionEnd(rs)
  }
}
