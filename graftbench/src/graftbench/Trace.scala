package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary. Spans of one op execution share
  * `op`; `parent` is the index of the enclosing span, -1 for a root. */
final case class Span(op: Long, name: String, parent: Int, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Sums Janino compile time from the "Code generated in X ms" line Spark's
  * CodeGenerator logs once per compile (cache misses only). */
final class CompileTap extends AbstractAppender("graftbench-codegen", null, null, true,
    Property.EMPTY_ARRAY) {
  private val micros = new AtomicLong
  override def append(e: LogEvent): Unit = {
    val m = e.getMessage.getFormattedMessage
    if (m.startsWith("Code generated in "))
      micros.addAndGet((m.stripPrefix("Code generated in ").takeWhile(c => c.isDigit || c == '.')
        .toDouble * 1000).toLong)
  }
  def compileMs: Double = micros.get / 1000.0
}

object CompileTap {
  def install(): CompileTap = {
    val tap = new CompileTap
    tap.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(tap, Level.INFO, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
    tap
  }
}

/** Listener-side counters for the traced run. Spark delivers listener
  * events asynchronously; `drain` waits until every event posted so far
  * has been handled, so the counters read after it belong to the op that
  * just finished. Events arrive while `active` only in traced rounds, so
  * the untraced rounds of a traced run measure the tracing overhead. */
final class Tracer(spark: SparkSession) {
  @volatile var active = false
  private val counters = new ConcurrentHashMap[String, Double]()
  val spans = ArrayBuffer.empty[Span]
  val tap: CompileTap = CompileTap.install()

  private def add(k: String, v: Double): Unit = counters.merge(k, v, (a: Double, b: Double) => a + b)

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.PhaseKey))).getOrElse("other")
      add(s"$phase.jobs", 1)
      // A reader call (`spark.read.parquet(...)`) runs a job only to infer
      // the schema from file footers; its call site is the reader itself.
      if (e.stageInfos.exists(_.details.startsWith("org.apache.spark.sql.classic.DataFrameReader.")))
        add(s"$phase.schema_jobs", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active && e.taskMetrics != null) {
      val m = e.taskMetrics
      add("tasks", 1)
      add("run_ms", m.executorRunTime)
      add("cpu_ms", m.executorCpuTime / 1e6)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("input_rows", m.inputMetrics.recordsRead)
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (active) phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      for ((phase, key) <- Seq(QueryPlanningTracker.ANALYSIS -> "analysis_ms",
          QueryPlanningTracker.OPTIMIZATION -> "optimization_ms",
          QueryPlanningTracker.PLANNING -> "planning_ms"))
        p.get(phase).foreach(s => add(key, s.durationMs.toDouble))
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (active) {
      val p = e.progress
      val d = p.durationMs.asScala
      add("stream_batches", 1)
      add("stream_add_batch_ms", d.get("addBatch").map(_.doubleValue).getOrElse(0.0))
      add("stream_log_commit_ms", Seq("walCommit", "commitOffsets")
        .flatMap(d.get).map(_.doubleValue).sum)
      p.stateOperators.foreach { s =>
        add("stream_state_commit_ms", s.commitTimeMs.toDouble)
        add("stream_state_rows", s.numRowsTotal.toDouble)
      }
    }
  })

  def drain(): Unit = org.apache.spark.GraftBenchBridge.drain(spark.sparkContext)

  /** Counters accumulated since the last call, then reset. */
  def take(): Map[String, Double] = {
    drain()
    val out = counters.asScala.toMap
    counters.clear()
    out
  }

  /** Record `body` as a span; `body` receives the span's index, so
    * spans opened inside it can name it as their parent. */
  def span[T](op: Long, name: String, parent: Int)(body: Int => T): T = {
    val idx = spans.size
    spans += Span(op, name, parent, System.nanoTime(), 0L)
    try body(idx)
    finally spans(idx) = spans(idx).copy(endNs = System.nanoTime())
  }

  /** Self time per span name: each span minus the part its children cover. */
  def selfMs(op: Long): Map[String, Double] = {
    val mine = spans.zipWithIndex.filter(_._1.op == op)
    mine.map { case (s, i) =>
      s.name -> (s.ms - mine.filter(_._1.parent == i).map(_._1.ms).sum)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

object Tracer {
  val PhaseKey = "graftbench.phase"
}
