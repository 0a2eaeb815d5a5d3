package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics

import graft.GraftSession
import graft.SparkEntry

/** One benchmark run in a fresh JVM, driven by `run.py`: set up, one cold
  * pass, one warm-up round, then timed rounds for `seconds`. One client
  * runs the ops as a closed loop, in a seeded order per round. Every
  * execution's full output is digested and compared with the expected
  * digest; an execution that throws or mismatches is counted as failed and
  * never enters a timing.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace (0|1),
  * tables (the table directory), in_dir (generated inputs), run_dir (this
  * run's fresh state root), t0_us (epoch micros when set-up began),
  * expected (digest file), record (1: one pass, keep outputs for the
  * oracle check), faults (1: add the ops that must be counted as failed),
  * timed_rounds (a fixed number of timed rounds, for the self-test),
  * setup_only (1: stop where the first op would start). Writes
  * run_dir/result.json. */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Exec(id: Long, round: Int, phase: String, op: String, ms: Double, ok: Boolean,
                        error: String, digest: Seq[Long], traced: Boolean,
                        layers: Map[String, Double])
  final case class Round(index: Int, phase: String, passMs: Double, jitMs: Double,
                         gcMs: Double, traced: Boolean, host: HostLoad.Sample) {
    def quiet: Boolean = host.quiet
  }

  private def nowUs: Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  private def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
  private def median(xs: Seq[Double]): Double = Probes.median(xs)

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val record = a.get("record").contains("1")
    val runDir = a("run_dir")
    val inDir = a("in_dir")
    val tables = a("tables")
    val expected: Map[String, Seq[Long]] = a.get("expected").map { p =>
      json.readValue(new File(p), classOf[Map[String, Seq[Any]]])
        .map { case (k, v) => k -> v.map(_.asInstanceOf[Number].longValue) }
    }.getOrElse(Map.empty)
    val meta = json.readValue(new File(s"$inDir/drops.json"), classOf[Map[String, Any]])
    val period = meta("period").asInstanceOf[Seq[Any]].map(_.asInstanceOf[Number].intValue)

    // Two executor threads on the 4-vCPU box the benchmark was built on:
    // at these input sizes a third and fourth thread gained little, and
    // the spare cores keep the JIT, GC and the host's other tenants from
    // stalling every task of a stage.
    val sessionT = System.nanoTime()
    val spark = GraftSession.builder("2")
      .config("spark.graft.lake.root", s"$runDir/lake")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$runDir/checkpoints")
      .getOrCreate()
    val sessionMs = (System.nanoTime() - sessionT) / 1e6
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, tables, inDir, runDir, (period(0), period(1)), meta("format").toString)
    val ops = Workloads(workload) ++ (if (a.get("faults").contains("1")) Workloads.faults else Nil)
    val rng = new scala.util.Random(seed)
    val execs = ArrayBuffer.empty[Exec]
    val rounds = ArrayBuffer.empty[Round]
    var opId = 0L
    var firstOpUs = 0L

    def execute(op: Op, round: Int, phase: String, traceThis: Boolean): Exec = {
      opId += 1
      val t = System.nanoTime()
      val sc = spark.sparkContext
      var layers = Map.empty[String, Double]
      val outcome: Either[String, (Long, Long)] = try {
        tracer.filter(_ => traceThis) match {
          case None =>
            val df = op.run(ctx)
            if (record && df.columns.nonEmpty)
              df.write.parquet(s"$runDir/out/${op.name}")
            Right(Digest.read(Digest.frame(df)))
          case Some(tr) =>
            tr.take()
            tr.active = true
            val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
            val ms0 = tr.tap.compileMs
            try {
              val d = tr.span(opId, "op", -1) { root =>
                sc.setLocalProperty(Tracer.PhaseKey, "build")
                val df = tr.span(opId, "build", root)(_ => op.run(ctx))
                sc.setLocalProperty(Tracer.PhaseKey, "exec")
                val digestDf = Digest.frame(df)
                tr.span(opId, "plan", root)(_ => digestDf.queryExecution.executedPlan)
                tr.span(opId, "exec", root)(_ => Digest.read(digestDf))
              }
              val c = tr.take()
              val spanMs = tr.spans.filter(_.op == opId).map(s => s.name -> s.ms).toMap
              layers = Map(
                "queries.build_ms" -> spanMs("build"),
                "queries.build_jobs" -> c.getOrElse("build.jobs", 0.0),
                "sources.schema_jobs" -> (c.getOrElse("build.schema_jobs", 0.0) +
                  c.getOrElse("exec.schema_jobs", 0.0)),
                "plans.analysis_ms" -> c.getOrElse("analysis_ms", 0.0),
                "plans.optimization_ms" -> c.getOrElse("optimization_ms", 0.0),
                "plans.planning_ms" -> c.getOrElse("planning_ms", 0.0),
                "exec.compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0).toDouble,
                "exec.compile_ms" -> (tr.tap.compileMs - ms0),
                "exec.ms" -> spanMs("exec"),
                "exec.jobs" -> c.getOrElse("exec.jobs", 0.0),
                "result_rows" -> d._1.toDouble) ++
                Seq("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes", "input_rows").map(k => s"exec.$k" -> c.getOrElse(k, 0.0)) ++
                Seq("batches", "add_batch_ms", "log_commit_ms", "state_commit_ms", "state_rows")
                  .map(k => s"streaming.$k" -> c.getOrElse(s"stream_$k", 0.0))
              Right(d)
            } finally {
              tr.active = false
              sc.setLocalProperty(Tracer.PhaseKey, null)
            }
        }
      } catch {
        case e: Throwable => Left(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val ms = (System.nanoTime() - t) / 1e6
      outcome match {
        case Left(err) => Exec(opId, round, phase, op.name, ms, ok = false, err, Nil, traceThis, layers)
        case Right((rows, hash)) =>
          val d = Seq(rows, hash)
          val ok = record || expected.get(op.name).contains(d)
          Exec(opId, round, phase, op.name, ms, ok, if (ok) "" else s"digest $d != expected ${expected.get(op.name)}",
            d, traceThis, layers)
      }
    }

    // Rows and parquet bytes the ingest of a traced round landed.
    val landed = ArrayBuffer.empty[(Double, Double)]
    def ingestLanded(): Unit = {
      val bytes = Files.walk(Paths.get(ctx.lake)).iterator.asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).map(p => new File(p).length).sum
      landed += ((spark.read.parquet(ctx.lake).count().toDouble, bytes.toDouble))
    }

    def runRound(index: Int, phase: String, traceThis: Boolean): Round = {
      ctx.round = index
      val (ind, dep) = ops.partition(!_.dependent)
      val jit0 = jitMs
      val gc0 = gcMs
      val host0 = HostLoad.read()
      val mine = (rng.shuffle(ind) ++ rng.shuffle(dep)).map { op =>
        if (firstOpUs == 0L) firstOpUs = nowUs
        execute(op, index, phase, traceThis)
      }
      execs ++= mine
      if (traceThis && workload == "lake_write") ingestLanded()
      Workloads.deleteTree(new File(ctx.roundDir))
      val r = Round(index, phase, mine.map(_.ms).sum, jitMs - jit0, gcMs - gc0, traceThis,
        HostLoad.since(host0))
      rounds += r
      r
    }

    if (a.get("setup_only").contains("1")) {
      // A set-up measurement only: the moment the first op would start.
      json.writeValue(new File(s"$runDir/result.json"),
        Map("setup_s" -> (nowUs - a("t0_us").toLong) / 1e6))
      spark.stop()
      return
    }
    runRound(0, "cold", traced)
    val setupS = (firstOpUs - a("t0_us").toLong) / 1e6
    // Untraced timed rounds the end-to-end numbers need: with fewer, the
    // tail below has no percentile with ten samples beyond it.
    val minQuiet = 4
    if (!record) {
      // One warm-up round; every round's pass and JIT time is recorded,
      // and the trend over the timed rounds is reported, so a run that is
      // still warming shows it.
      runRound(1, "warmup", traceThis = false)
      // Timed window: at least `seconds`, and until `minQuiet` untraced
      // rounds ran on a quiet host (see HostLoad), with at most
      // `extraRounds` rounds added for rounds the host disturbed. A
      // traced run alternates untraced and traced rounds, so the same run
      // measures its tracing overhead; it needs two of each at least.
      val fixed = a.get("timed_rounds").map(_.toInt)
      val extraRounds = 2
      def untraced = rounds.filter(r => r.phase == "measured" && !r.traced)
      def enough: Boolean =
        if (traced) rounds.count(_.phase == "measured") >= 4
        else untraced.count(_.quiet) >= minQuiet || untraced.size >= minQuiet + extraRounds
      val start = System.nanoTime()
      var idx = 2
      var m = 0
      while (fixed.fold(!enough || (System.nanoTime() - start) / 1e9 < seconds)(m < _)) {
        runRound(idx, "measured", traced && m % 2 == 1); idx += 1; m += 1
      }
    }

    // The end-to-end numbers come from the untraced timed rounds the host
    // left quiet; if fewer than `minQuiet` were, from the `minQuiet` with
    // the least interference, and the run is marked suspect.
    val timedUntraced = rounds.filter(r => r.phase == "measured" && !r.traced).toSeq
    val quietRounds = timedUntraced.filter(_.quiet)
    val used = (if (quietRounds.size >= minQuiet) quietRounds
      else timedUntraced.sortBy(_.host.interference).take(minQuiet)).map(_.index).toSet
    val failures = execs.filterNot(_.ok)
    val measured = execs.filter(e => used(e.round) && e.ok)
    val opMedian = measured.groupBy(_.op).map { case (k, v) => k -> median(v.map(_.ms).toSeq) }
    val ratios = measured.map(e => e.ms / opMedian(e.op)).sorted.toSeq
    val n = ratios.size
    // The highest percentile with at least ten samples beyond it; none
    // (too few executions) leaves the tail unmeasured, and the run invalid.
    val pct = (50 to 99).reverse.find(p => n - math.ceil(p * n / 100.0).toInt >= 10)
    val tail = pct.map(p => ratios(math.ceil(p * n / 100.0).toInt - 1))
    val measuredRounds = timedUntraced.map(_.passMs)
    val trend = {
      val xs = measuredRounds.indices.map(_.toDouble)
      val mx = xs.sum / xs.size
      val my = measuredRounds.sum / measuredRounds.size
      val den = xs.map(x => (x - mx) * (x - mx)).sum
      if (den == 0) 0.0 else 100 * xs.zip(measuredRounds).map { case (x, y) => (x - mx) * (y - my) }.sum / den / my
    }
    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    val leakedViews = spark.catalog.listTables().collect()
      .count(t => t.isTemporary && t.name.startsWith("graft_stream_"))

    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed,
      "attempted" -> execs.size, "failed" -> failures.size,
      "failures" -> failures.map(f => Map("op" -> f.op, "round" -> f.round, "error" -> f.error)),
      "end_to_end" -> Map(
        "setup_s" -> setupS,
        "cold_pass_s" -> execs.filter(e => e.phase == "cold" && e.ok).map(_.ms).sum / 1000,
        "warm_pass_s" -> opMedian.values.sum / 1000,
        "warm_tail_slowdown" -> tail,
        "peak_rss_mb" -> rssMb),
      "tail" -> Map("percentile" -> pct, "n" -> n),
      "suspect" -> (quietRounds.size < math.min(minQuiet, timedUntraced.size)),
      "trend_pct_per_round" -> trend,
      "session_start_ms" -> sessionMs,
      "rounds" -> rounds.map(r => Map("round" -> r.index, "phase" -> r.phase, "pass_ms" -> r.passMs,
        "jit_ms" -> r.jitMs, "gc_ms" -> r.gcMs, "traced" -> r.traced,
        "steal_pct" -> r.host.stealPct, "competing_cores" -> r.host.competingCores,
        "used" -> used(r.index))),
      "ops" -> ops.map(_.name).map { o =>
        o -> Map("cold_ms" -> execs.find(e => e.op == o && e.phase == "cold" && e.ok).map(_.ms).getOrElse(0.0),
          "warm_median_ms" -> opMedian.getOrElse(o, 0.0),
          "measured" -> measured.count(_.op == o))
      }.toMap,
      "digests" -> execs.filter(_.digest.nonEmpty).groupBy(_.op).map { case (k, v) => k -> v.head.digest },
      "leaked_views" -> leakedViews)
    if (record) result("oracle_sql") = SparkEntry.oracleSql.filter { case (k, _) => ops.exists(_.name == k) }

    for (tr <- tracer) {
      val t = execs.filter(e => e.phase == "measured" && e.ok && e.traced)
      val perOp = t.groupBy(_.op).map { case (op, es) =>
        op -> es.head.layers.keys.map(k => k -> median(es.map(_.layers(k)).toSeq)).toMap
      }
      def total(k: String): Double = perOp.values.map(_.getOrElse(k, 0.0)).sum
      val tracedPass = perOp.keys.map(o => median(t.filter(_.op == o).map(_.ms).toSeq)).sum / 1000
      val warm = rounds.filter(_.phase == "measured")
      val sums = Seq("queries.build_ms", "queries.build_jobs", "plans.analysis_ms",
        "plans.optimization_ms", "plans.planning_ms", "exec.compiles", "exec.compile_ms",
        "exec.ms", "exec.jobs", "exec.tasks", "exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
        "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
        "streaming.batches", "streaming.add_batch_ms", "streaming.log_commit_ms",
        "streaming.state_commit_ms", "streaming.state_rows").map(k => k -> total(k))
      val ingestMs = median(t.filter(_.op == "ingest").map(_.ms).toSeq)
      val xmlBytes = meta("xml_bytes").asInstanceOf[Number].doubleValue
      val probes = Probes.run(ctx, tr)
      System.gc()
      val perLayer = Map(
        "session.start_ms" -> sessionMs,
        "exec.cpu_share" -> (if (total("exec.run_ms") > 0) total("exec.cpu_ms") / total("exec.run_ms") else 0.0),
        "exec.input_rows_per_result_row" ->
          (if (total("result_rows") > 0) total("exec.input_rows") / total("result_rows") else 0.0),
        "streaming.leaked_views" -> leakedViews.toDouble,
        "jvm.jit_ms" -> median(warm.map(_.jitMs).toSeq),
        "jvm.gc_ms" -> median(warm.map(_.gcMs).toSeq),
        "jvm.heap_after_gc_mb" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0,
        "pipeline.ingest_rows_per_s" ->
          (if (landed.isEmpty) 0.0 else landed.map(_._1).sum / landed.size / (ingestMs / 1000)),
        "sinks.lake_bytes_per_input_byte" ->
          (if (landed.isEmpty) 0.0 else landed.map(_._2).sum / landed.size / xmlBytes),
        "trace.warm_pass_s" -> tracedPass,
        "trace.overhead_pct" -> 100 * (tracedPass / (opMedian.values.sum / 1000) - 1)
      ) ++ sums ++ probes
      result("per_layer") = perLayer
      result("per_op_layers") = perOp
      result("per_op_layers_cold") = execs.filter(e => e.phase == "cold" && e.ok && e.traced)
        .map(e => e.op -> e.layers).toMap
      result("self_ms") = t.groupBy(_.op).map { case (o, es) =>
        val selves = es.map(e => tr.selfMs(e.id)).toSeq
        o -> selves.head.keys.map(k => k -> median(selves.map(_.getOrElse(k, 0.0)))).toMap
      }
      result("spans") = tr.spans.map(s => Map("op" -> s.op, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    json.writeValue(new File(s"$runDir/result.json"), result)
    spark.stop()
  }
}
