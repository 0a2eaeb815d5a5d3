package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import org.apache.spark.sql.util.QueryExecutionListener

/** The one way a main times a query (Bench, Profile, ClusterSmoke): build
  * the DataFrame, then reduce its whole output to a one-row digest. A
  * `count()` would let Catalyst prune the aggregates, projections and join
  * sides nobody reads, so the work the user receives would go untimed. */
object QueryRun {
  type Query = (SparkSession, String) => DataFrame

  /** One timed execution: wall seconds of build + digest, and either what
    * was thrown or the digest. `layers` and `stages` are empty unless a
    * [[Trace]] was attached. */
  final case class Outcome(sec: Double, result: Either[Throwable, (Long, Long)],
                           layers: Map[String, Double], stages: Seq[Stage])

  /** One completed stage: wall ms, executor run ms, shuffle bytes, tasks. */
  final case class Stage(id: Int, wallMs: Long, runMs: Long, shuffleRead: Long, shuffleWrite: Long,
                         tasks: Int, name: String)

  /** (row count, wrapping sum of `xxhash64` over every column), the
    * benchmark's canonical form: floats are hashed at six significant
    * digits, so another summation order in a parallel aggregate almost
    * never flips it, and the sum over rows ignores row order. */
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map(f => (df.col(s"`${f.name}`"), f.dataType)).map {
      case (c, DoubleType | FloatType) => format_string("%.6g", c)
      case (c, ArrayType(DoubleType | FloatType, _)) => transform(c, x => format_string("%.6g", x))
      case (c, _) => c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)).as("rows"), coalesce(sum(col("h")), lit(0L)).as("hash")).collect().head
    (r.getLong(0), r.getLong(1))
  }

  /** Time `fn`'s build plus the digest of its output, on this thread. */
  def run(spark: SparkSession, fn: Query, sfDir: String, trace: Option[Trace] = None): Outcome = {
    trace.foreach(_.start())
    val t0 = System.nanoTime()
    var built = t0
    val result =
      try {
        val df = phase(spark, "build")(fn(spark, sfDir))
        built = System.nanoTime()
        Right(phase(spark, "exec")(digest(df)))
      } catch { case e: Throwable => Left(e) }
    val end = System.nanoTime()
    val (layers, stages) = trace.fold((Map.empty[String, Double], Seq.empty[Stage])) { t =>
      val (l, s) = t.stop()
      (l ++ Map("build_ms" -> (built - t0) / 1e6, "exec_ms" -> (end - built) / 1e6), s)
    }
    Outcome((end - t0) / 1e9, result, layers, stages)
  }

  /** The measurement listeners: jobs per phase, Catalyst phase times,
    * Janino compiles, executor time, shuffle/spill/input bytes and the
    * completed stages of the executions between `start` and `stop`. */
  final class Trace(spark: SparkSession) {
    @volatile private var active = false
    private val counters = new ConcurrentHashMap[String, Double]()
    private val stages = new ConcurrentLinkedQueue[Stage]()
    private var compiles0 = 0L

    private def add(k: String, v: Double): Unit = counters.merge(k, v, (a: Double, b: Double) => a + b)

    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
        val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
        add(s"${phase.getOrElse("other")}_jobs", 1)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active && e.taskMetrics != null) {
        val m = e.taskMetrics
        add("tasks", 1)
        add("run_ms", m.executorRunTime)
        add("cpu_ms", m.executorCpuTime / 1e6)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("input_bytes", m.inputMetrics.bytesRead)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages.add(Stage(si.stageId, si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          m.executorRunTime, m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          si.numTasks, si.name))
      }
    }

    private val planning = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
      private def phases(qe: QueryExecution): Unit = if (active) {
        val p = qe.tracker.phases
        for ((phase, key) <- Seq(QueryPlanningTracker.ANALYSIS -> "analysis_ms",
            QueryPlanningTracker.OPTIMIZATION -> "optimization_ms",
            QueryPlanningTracker.PLANNING -> "planning_ms"))
          p.get(phase).foreach(s => add(key, s.durationMs.toDouble))
      }
    }

    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planning)

    private[graft] def start(): Unit = {
      GraftSqlBridge.drainListenerBus(spark.sparkContext)
      counters.clear()
      stages.clear()
      compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      active = true
    }

    /** Drain the listener bus, so every event of the execution is counted,
      * then return its counters and stages. */
    private[graft] def stop(): (Map[String, Double], Seq[Stage]) = {
      GraftSqlBridge.drainListenerBus(spark.sparkContext)
      active = false
      val compiles = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble
      val zero = Seq("build_jobs", "exec_jobs", "analysis_ms", "optimization_ms", "planning_ms",
        "tasks", "run_ms", "cpu_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        "input_bytes").map(_ -> 0.0).toMap
      (zero ++ counters.asScala + ("compiles" -> compiles), stages.asScala.toSeq)
    }

    def close(): Unit = {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(planning)
    }
  }

  private val PhaseKey = "graft.trace.phase"

  /** Tag the jobs `body` submits from this thread with `name`. */
  private def phase[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(PhaseKey, name)
    try body finally sc.setLocalProperty(PhaseKey, null)
  }
}
