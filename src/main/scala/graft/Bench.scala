package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query against
  * SPARK_GRAFT_SF_DIR through [[QueryRun]] (build + full-output digest)
  * and prints two JSON lines of per-query seconds. A query that throws is
  * listed in `failed` with its exception class, stays out of every sum,
  * and the run reads `"correct":false`. */
object Bench {
  /** Every execution of one run, per query in run order: the first is the
    * cold one, later ones are interleaved trials and end-of-run retries. */
  final case class Measured(runs: Seq[(String, Seq[QueryRun.Outcome])], retried: Int) {
    /** Each query that threw in any execution, with the first exception's class. */
    val failed: Seq[(String, String)] = runs.flatMap { case (n, os) =>
      os.flatMap(_.result.left.toOption).headOption.map(e => n -> e.getClass.getName) }
    val timed: Seq[(String, Seq[QueryRun.Outcome])] = runs.filter(_._2.forall(_.result.isRight))
    val mins: Seq[(String, Double)] = timed.map { case (n, os) => n -> os.map(_.sec).min }
    def minSum: Double = mins.map(_._2).sum
    def correct: Boolean = failed.isEmpty
  }

  /** `trials` interleaved passes over `queries`, then one more execution of
    * up to `retryCap` queries whose warm trials disagree the most. */
  def measure(spark: SparkSession, queries: Seq[(String, QueryRun.Query)], sfDir: String,
              trials: Int, retryCap: Int, trace: Option[QueryRun.Trace]): Measured = {
    val runs = collection.mutable.LinkedHashMap(queries.map(_._1 -> Vector.empty[QueryRun.Outcome]): _*)
    def time(name: String, fn: QueryRun.Query): Unit =
      runs(name) = runs(name) :+ QueryRun.run(spark, fn, sfDir, trace)
    // Trials are interleaved round-robin (trial pass 1 runs every query,
    // then pass 2, ...): a transient load burst degrades ONE trial of
    // many queries — recoverable via per-query min — rather than every
    // trial of a few.
    for (_ <- 1 to trials; (name, fn) <- queries) time(name, fn)
    // Post-pass retry: a load burst that spans ALL interleaved trials
    // defeats the per-query min, so the queries whose warm trials
    // disagree the most (and aren't trivially fast) get one more timing
    // at the end, when the burst has most likely passed. Minima only
    // improve. The cold first execution is left out of the spread: it
    // pays lake-state builds and memo prologues, not load.
    def ratio(n: String): Double = {
      val xs = runs(n).tail.map(_.sec)
      xs.max / math.max(xs.min, 1e-9)
    }
    val suspects = queries.filter { case (n, _) =>
      runs(n).size > 2 && runs(n).forall(_.result.isRight) && runs(n).map(_.sec).min > 0.15 &&
        ratio(n) > 2.5
    }.sortBy { case (n, _) => -ratio(n) }.take(math.max(0, retryCap))
    suspects.foreach { case (n, fn) => time(n, fn) }
    Measured(runs.toSeq, suspects.size)
  }

  private def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
  private def num(v: Double): String = if (v == math.rint(v)) v.toLong.toString else f(v)
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  private def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")

  /** The detail, per-query and canonical JSON lines of `m`; `stamp` holds
    * the run's shared `"key":value` fields (machine load, sf, trials). */
  def lines(m: Measured, stamp: String): (String, String, String) = {
    val medians = m.timed.map { case (n, os) => n -> median(os.map(_.sec)) }
    val verdict = s""""correct":${m.correct},"n_failed":${m.failed.size}"""
    val detail = s"""{"metric":"detail","unit":"sec","queries":${obj(medians.map { case (n, v) => n -> f(v) })},""" +
      s""""queries_min":${obj(m.mins.map { case (n, v) => n -> f(v) })},""" +
      s""""failed":${obj(m.failed.map { case (n, c) => n -> Json.str(c) })},$verdict,$stamp}"""
    // Per query: its digest, the cold first execution, [min, median, max]
    // and the trace layers of its fastest execution; or what it threw.
    val failed = m.failed.toMap
    val entries = obj(m.runs.map { case (n, os) =>
      n -> (failed.get(n) match {
        case Some(e) => s"""{"error":${Json.str(e)}}"""
        case None =>
          val xs = os.map(_.sec)
          val best = os.minBy(_.sec)
          val (rows, hash) = best.result.toOption.get
          s"""{"rows":$rows,"hash":$hash,"cold":${f(xs.head)},""" +
            s""""spread":[${f(xs.min)},${f(median(xs))},${f(xs.max)}],""" +
            s""""layers":${obj(best.layers.toSeq.sorted.map { case (k, v) => k -> num(v) })}}"""
      })
    })
    // The output-tail capture holds the LAST 2000 characters only, and the
    // build tool's closing status line consumes ~76 of them. A full
    // per-query map can never fit, so the canonical machine-readable line
    // carries the total plus a fixed HEADLINE subset (per-query min, the
    // canonical estimator) and always parses; the full maps ride the
    // detail line above it and the sidecar.
    val headline = Seq(
      "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
      "q9_product_profit", "q18_big_orders", "xml_ingest", "ev_sessionize",
      "dedup_exact", "dedup_minhash", "dedup_survivors", "dedup_corpus",
      "ann_bruteforce", "ann_ivf", "text_tfidf", "mm_video_frames")
    val minMap = m.mins.toMap
    val hq = obj(headline.filter(minMap.contains).map(k => k -> f(minMap(k))))
    // CANONICAL value = min-sum over the queries that never threw. A load
    // burst can only inflate a trial, so per-query min across interleaved
    // trials converges on the quiet-machine time; the median sum rides
    // alongside as value_median.
    val total = s"""{"metric":"total","value":${f(m.minSum)},"value_median":${f(medians.map(_._2).sum)},""" +
      s""""unit":"sec","queries":$hq,"n_queries":${m.timed.size},$verdict,$stamp,"detail":"BENCH_SIDECAR.json"}"""
    (detail, s"""{"metric":"queries","unit":"sec","queries":$entries}""", total)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // One /proc/loadavg reader serves the gate loop and both stamps.
    def loads(): Array[Double] =
      try scala.util.Using.resource(scala.io.Source.fromFile("/proc/loadavg"))(
        _.mkString.split(" ").take(3).map(_.toDouble))
      catch { case _: Throwable => Array(0.0, 0.0, 0.0) }
    def loadavg(): String = loads().mkString("[", ",", "]")
    def load1(): Double = loads()(0)
    def load5(): Double = loads()(1)
    // Wait a bounded time for the machine to go quiet, BEFORE the session
    // and warm-up, so load1 here measures only competing processes (a
    // loadavg of 2.45 inflated untouched queries by 25-30%). The accepted
    // bound is stamped into the artifact.
    val quietLoad = sys.env.getOrElse("SPARK_GRAFT_QUIET_LOAD", "1.5").toDouble
    val quietWait = sys.env.getOrElse("SPARK_GRAFT_QUIET_WAIT_SEC", "300").toInt
    // The 5-min average catches a machine still settling from earlier
    // heavy work; it decays slowly, so its gate is twice the bound.
    val quiet5 = quietLoad * 2
    var waitedSec = 0
    while ((load1() > quietLoad || load5() > quiet5) && waitedSec < quietWait) {
      Thread.sleep(5000); waitedSec += 5
    }
    // If the machine never went quiet, the run proceeds but the artifact
    // says so. ONE reading feeds both the stamp and the verdict.
    val loadPre = load1()
    val loadPre5 = load5()
    // A burst that starts mid-run is invisible to the pre-run gate, and
    // loadavg is useless mid-run (our executors saturate it), so a
    // sampler thread tracks competing cores: summed utime+stime of every
    // OTHER user-space process (kernel threads excluded, so our own
    // writeback in kworkers is not charged as competition). Ticks are
    // smoothed with a 1-minute rolling mean, and the MAX of that mean is
    // stamped and OR'd into the verdict: a sustained competitor trips
    // it, a 2-second blip cannot.
    val ncpu = Runtime.getRuntime.availableProcessors
    val selfPid = ProcessHandle.current().pid()
    val UserHz = 100.0 // Linux USER_HZ for /proc starttime ticks
    /** (pid -> (cumulative utime+stime, starttime ticks)) for every live
      * non-kernel-thread process except this JVM, plus the machine's
      * total jiffy clock, its steal jiffies and the current uptime
      * seconds. */
    def readJiffies(): Option[(Map[Long, (Long, Long)], Long, Long, Double)] =
      try {
        val sys = scala.util.Using.resource(
          scala.io.Source.fromFile("/proc/stat"))(_.getLines().next())
          .trim.split("\\s+").drop(1).map(_.toLong)
        val up = scala.util.Using.resource(
          scala.io.Source.fromFile("/proc/uptime"))(
          _.mkString.split(" ")(0).toDouble)
        val others = Map.newBuilder[Long, (Long, Long)]
        val procs = new java.io.File("/proc").listFiles()
        if (procs != null) procs.foreach { f =>
          val name = f.getName
          if (name.forall(_.isDigit) && name.toLong != selfPid) {
            try {
              val st = scala.util.Using.resource(
                scala.io.Source.fromFile(s"/proc/$name/stat"))(_.mkString)
              val after = st.substring(st.lastIndexOf(')') + 2).split(" ")
              val flags = after(6).toLong
              if ((flags & 0x00200000L) == 0L) // not PF_KTHREAD
                others += name.toLong ->
                  (after(11).toLong + after(12).toLong, after(19).toLong)
            } catch { case _: Throwable => () } // pid exited mid-walk
          }
        }
        // cpu: user nice system idle iowait irq softirq steal guest..;
        // guest time is already inside user, so the clock stops at steal.
        Some((others.result(), sys.take(8).sum, sys(7), up))
      } catch { case _: Throwable => None }
    @volatile var maxCompeting = 0.0
    // Steal: CPU time the hypervisor gave to other guests. On a shared VM
    // it is the noise that moves timings most; the same 1-minute mean,
    // bounded at graftbench's quiet bound.
    val MaxStealPct = 5.0
    @volatile var maxSteal = 0.0
    @volatile var sampling = true
    val sampler = new Thread(() => {
      val window = scala.collection.mutable.Queue.empty[(Double, Double)]
      var prev = readJiffies()
      while (sampling) {
        Thread.sleep(2000)
        val cur = readJiffies()
        for ((p, c) <- prev.zip(cur)) {
          val (pPids, pTotal, pSteal, pUptime) = p
          val (cPids, cTotal, cSteal, _) = c
          val dTotal = (cTotal - pTotal).toDouble
          if (dTotal > 0) {
            // PER-PID deltas, not a delta of sums: a pid that exits
            // between ticks must not cancel real competition. A pid
            // first seen this tick is credited its cumulative time
            // ONLY when it started inside the window; a long-lived pid
            // whose read failed last tick is skipped for one tick
            // rather than dumping its lifetime into one delta.
            var d = 0L
            cPids.foreach { case (pid, (j, startTicks)) =>
              pPids.get(pid) match {
                // per-pid clamp: a reused pid number (wrap) must not
                // subtract the dead process's larger counter
                case Some((pj, _)) => d += math.max(0L, j - pj)
                case None => if (startTicks / UserHz >= pUptime) d += j
              }
            }
            // dTotal spans all cpus; per-core time base = dTotal/ncpu.
            val competing = d / (dTotal / ncpu)
            window.enqueue((competing, 100.0 * (cSteal - pSteal) / dTotal))
            if (window.size > 30) window.dequeue() // 30 x 2 s = 1 min
            // Fewer than 5 ticks (10 s) would latch a startup blip.
            if (window.size >= 5) {
              maxCompeting = math.max(maxCompeting, window.map(_._1).sum / window.size)
              maxSteal = math.max(maxSteal, window.map(_._2).sum / window.size)
            }
          }
        }
        prev = cur
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup outside the timed loop
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // Run-to-run variance at sf0.1 is ~±20%, so a single trial is not a
    // trustworthy number: run >=4 interleaved passes; the canonical
    // number is the per-query MIN sum (load can only inflate a trial),
    // with medians alongside. The 4th pass costs ~1 suite minute and
    // measurably tightens the min-sum toward the quiet-machine figure.
    val trials = math.max(1, sys.env.getOrElse("SPARK_GRAFT_TRIALS", "4").toInt)
    // optional comma-separated name filter for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Machine-load stamps bracketing the run. loadavg_start is taken
    // after session + warmup, so it includes our own decaying warmup
    // load; the quiet gate above ran before both.
    val loadStart = loadavg()
    val retryCap = sys.env.getOrElse("SPARK_GRAFT_RETRY_WORST", "12").toInt
    val m = measure(spark, names, sfDir, trials, retryCap, Some(new QueryRun.Trace(spark)))
    val loadEnd = loadavg()
    sampling = false
    // The verdict now covers the WHOLE run: quiet at entry AND no
    // competing process above the bound, and no steal above its bound,
    // at any sampled moment inside it. loadPre5 is OR'd in: if the
    // bounded wait expired while the 5-min average was still above its
    // gate, the machine was not settled and the artifact must say so
    // (the sampler cannot see ALREADY-EXITED heavy work, only its decay).
    val contaminated = loadPre > quietLoad || loadPre5 > quiet5 ||
      maxCompeting > quietLoad || maxSteal > MaxStealPct
    val stamp = s""""sf":"$sfDir","cpus":"$cpus","trials":$trials,"loadavg_start":$loadStart,""" +
      s""""loadavg_end":$loadEnd,"loadavg_pre":${f(loadPre)},"loadavg_pre5":${f(loadPre5)},""" +
      s""""max_competing_cores":${f(maxCompeting)},"max_steal_pct":${f(maxSteal)},""" +
      s""""quiet_load_bound":$quietLoad,"quiet_wait_sec":$waitedSec,"retried":${m.retried},""" +
      s""""contaminated":$contaminated"""
    val (detailLine, queriesLine, line) = lines(m, stamp)
    // Sidecar: all three lines, for any consumer that prefers a file to
    // stdout scraping (full per-query medians, digests, layers, total).
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_SIDECAR.json"),
      detailLine + "\n" + queriesLine + "\n" + line + "\n")
    catch { case _: Throwable => () }
    // Stop Spark BEFORE printing: nothing (no executor shutdown logging)
    // may follow the canonical line, so a tail capture always contains it
    // whole. Detail first, canonical short line LAST.
    spark.stop()
    println(detailLine)
    println(line)
    System.out.flush()
  }
}
