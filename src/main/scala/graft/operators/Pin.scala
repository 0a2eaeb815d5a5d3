package graft.operators

import scala.util.control.NonFatal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one place graft decides how a frame is materialized and
  * released. Every pin in the library goes through one of three
  * operations here (ContractSpec keeps `localCheckpoint`, `checkpoint`,
  * `persist` and `unpersist` out of every other main source):
  *
  *  - [[PinOps.pin]]: a lineage-truncating checkpoint, for iteration
  *    rounds, fan-out pins, [[PlanCache]] memos, CC label tables and
  *    the pre-overwrite snapshot of compaction.
  *  - [[PinOps.pinPartitioned]]: `persist(MEMORY_AND_DISK)`, for edge
  *    tables whose OUTPUT PARTITIONING is the point. A checkpointed
  *    LogicalRDD reports UnknownPartitioning, so every consumer would
  *    re-exchange it; a cached InMemoryRelation keeps
  *    HashPartitioning(src) (AQE leaves cached-plan partitioning alone
  *    by default). Persisted blocks keep their lineage, so a lost
  *    executor's blocks are recomputed under either setting.
  *  - [[release]]: frees either shape's blocks.
  *
  * `pin` follows a deployment conf. Default
  * (`spark.graft.checkpoint.reliable` unset/false): `localCheckpoint` —
  * blocks live on executors, no filesystem round-trip, the right
  * choice single-tenant and on local[N]. Spark's own documented caveat
  * applies: the blocks are NOT replicated, so losing one executor
  * (dynamic allocation, preemptible/spot nodes) kills every query
  * whose pinned state it held.
  *
  * With `spark.graft.checkpoint.reliable=true`: a RELIABLE checkpoint
  * into `spark.graft.checkpoint.dir` (required — point it at the lake
  * filesystem next to [[graft.sinks.LakeRoot]]). Pinned state then
  * survives executor loss — the setting a 1000-executor deployment
  * with preemption should run with — at two documented costs this
  * helper does NOT hide: (1) each pin pays a filesystem write+read,
  * and a pin's plan is computed once for the action and again by the
  * checkpoint-write job (the RDD-level recompute Spark's own
  * checkpoint docs call out); (2) checkpoint FILES are not removed by
  * [[release]] — set `spark.cleaner.referenceTracking.cleanCheckpoints=true`
  * (a context-creation conf) so out-of-scope checkpoints are reaped,
  * or point the dir at storage with a TTL. `ClusterSmoke` runs with
  * the cleaner enabled. The checkpoint dir is set once per
  * SparkContext, lazily, so merely importing this object costs nothing.
  *
  * A declared-partitioning checkpoint (a LogicalRDD carrying
  * HashPartitioning) was not built: Spark's `LogicalRDD.fromDataset`
  * takes the executed plan's partitioning, which reads Unknown under
  * AQE, and after a coalesced AQE shuffle read a partition is no longer
  * `hash mod n` of its key, so a declared one could join the wrong
  * partitions without an error. */
object Pin {
  def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption("spark.graft.checkpoint.reliable")
      .contains("true")

  implicit class PinOps(private val df: DataFrame) extends AnyVal {
    /** `localCheckpoint(eager)` or reliable `checkpoint(eager)` per the
      * session's `spark.graft.checkpoint.reliable` conf. */
    def pin(eager: Boolean): DataFrame =
      if (!reliable(df)) df.localCheckpoint(eager)
      else {
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(
          df.sparkSession.conf.getOption("spark.graft.checkpoint.dir")
            .getOrElse(throw new IllegalArgumentException(
              "spark.graft.checkpoint.reliable=true requires " +
                "spark.graft.checkpoint.dir (a fault-tolerant filesystem path)")))
        df.checkpoint(eager)
      }

    /** Lazy `persist(MEMORY_AND_DISK)`: keeps the frame's output
      * partitioning for its consumers' joins. */
    def pinPartitioned: DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Free the blocks of a frame returned by `pin` or `pinPartitioned`
    * (a no-op for any other frame). Quiet: a stopped context or an
    * already-freed pin is not an error for a caller that is cleaning up. */
  def release(df: DataFrame): Unit =
    try {
      if (df.storageLevel != StorageLevel.NONE) df.unpersist(false)
      else df.queryExecution.logical match {
        case r: LogicalRDD => r.rdd.unpersist(false)
        case _ =>
      }
    } catch { case NonFatal(_) => () }
}
