package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line of per-query seconds. */
object Bench {
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
    // Defend the artifact against a loaded machine (r7's driver run
    // recorded a phantom 1.6x regression under loadavg 4.8-6.5): wait a
    // bounded time for the 1-min load to drop below a quiet threshold.
    // This runs BEFORE the session/warmup so our own Spark work can
    // never trigger a spurious wait — load1 here measures only
    // competing processes.
    // r9 lesson: loadavg 2.45 passed the old 2.5 bound yet inflated
    // untouched queries ~25-30% vs r8's quieter run — the bound must be
    // tight enough that "not contaminated" implies round-over-round
    // comparability, and the ACCEPTED BOUND must be stamped into the
    // artifact so a reader can judge the trend signal without
    // reconstructing env defaults from git history.
    val quietLoad = sys.env.getOrElse("SPARK_GRAFT_QUIET_LOAD", "1.5").toDouble
    val quietWait = sys.env.getOrElse("SPARK_GRAFT_QUIET_WAIT_SEC", "300").toInt
    // r11 lesson: the 1-min gate alone passed a run whose 5-min load was
    // 3.34 — the machine was still settling from earlier heavy work and
    // the headline came out ~23% above the same surface's quiet leg.
    // Gate on the 5-min average too (at 2x the bound: it decays slowly,
    // demanding < quietLoad outright would burn the whole wait on decay
    // arithmetic even on an already-idle machine) within the same
    // bounded wait.
    val quiet5 = quietLoad * 2
    var waitedSec = 0
    while ((load1() > quietLoad || load5() > quiet5) && waitedSec < quietWait) {
      Thread.sleep(5000); waitedSec += 5
    }
    // If the machine never went quiet, the run proceeds but the artifact
    // says so: a contaminated number must not masquerade as a regression.
    // ONE reading feeds both the stamp and the verdict (r10's artifact
    // read load1() twice and the second read raced past the bound, so
    // contaminated=false shipped next to loadavg_start=1.60).
    val loadPre = load1()
    val loadPre5 = load5()
    // The pre-wait gate only sees load BEFORE the run; a burst that
    // starts mid-run would still ship as a quiet number. Raw loadavg is
    // useless mid-run (our own executors saturate it by design), so a
    // sampler thread tracks a competing-core estimate across the whole
    // run. DEFINITION (r12): competing = summed utime+stime of every
    // OTHER user-space process (kernel threads excluded via the
    // PF_KTHREAD flag, this JVM excluded by pid). The previous
    // system-busy-minus-self subtraction charged our own asynchronous
    // kernel work — shuffle-file and lake-write writeback running in
    // kworkers — to "competition", stamping an sf1 full-suite run
    // contaminated at 2-3.5 phantom cores on a machine with nothing
    // else running; per-pid accounting cannot be fooled that way, and
    // self-inflicted kernel I/O scales with the suite so it never
    // breaks run-to-run comparability. Both readings come from one
    // pass over /proc per tick. Ticks are smoothed with a 1-minute
    // rolling mean — the same smoothing the 1-min loadavg bound
    // implies — and the MAX of that mean is stamped into the artifact
    // and OR'd into the contamination verdict: a sustained competitor
    // trips it, a 2-second blip cannot.
    val ncpu = Runtime.getRuntime.availableProcessors
    val selfPid = ProcessHandle.current().pid()
    val UserHz = 100.0 // Linux USER_HZ for /proc starttime ticks
    /** (pid -> (cumulative utime+stime, starttime ticks)) for every live
      * non-kernel-thread process except this JVM, plus the machine's
      * total jiffy clock and the current uptime seconds. */
    def readJiffies(): Option[(Map[Long, (Long, Long)], Long, Double)] =
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
        Some((others.result(), sys.sum, up))
      } catch { case _: Throwable => None }
    @volatile var maxCompeting = 0.0
    @volatile var sampling = true
    val sampler = new Thread(() => {
      val window = scala.collection.mutable.Queue.empty[Double]
      var prev = readJiffies()
      while (sampling) {
        Thread.sleep(2000)
        val cur = readJiffies()
        for ((p, c) <- prev.zip(cur)) {
          val (pPids, pTotal, pUptime) = p
          val (cPids, cTotal, _) = c
          val dTotal = (cTotal - pTotal).toDouble
          if (dTotal > 0) {
            // PER-PID deltas, not a delta of sums: a pid that exits
            // between ticks would otherwise subtract its whole
            // lifetime from the sum and cancel real competition in
            // the same tick (and a global sum can go negative, which
            // the clamp would silently zero). A pid first seen this
            // tick is credited its full cumulative time ONLY when its
            // starttime falls inside the window — a long-lived pid
            // whose /proc read transiently failed last tick would
            // otherwise reappear as "new" and dump its whole CPU
            // lifetime into one 2 s delta, a single-tick spike big
            // enough to latch a false contaminated=true; such a pid
            // is skipped for one tick instead (prev unknown). A pid
            // that exits mid-window loses only its final partial
            // tick: short-lived fork-heavy competitors are
            // UNDER-counted by at most one tick each, the documented
            // residual blind spot of per-pid accounting.
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
            window.enqueue(competing)
            if (window.size > 30) window.dequeue() // 30 x 2 s = 1 min
            // A mean over fewer than 5 ticks is not "1-minute
            // smoothed" in any sense — a single startup blip would
            // latch at full value, the exact false positive the
            // window exists to prevent. 10 s of sustained competition
            // is the minimum signal worth stamping.
            if (window.size >= 5) {
              val mean = window.sum / window.size
              if (mean > maxCompeting) maxCompeting = mean
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
    // --- headline/scale-leg convergence (one number, one procedure):
    // per-query minima CAN be merged from a prior sidecar of the same
    // sf, the same core count, and the same SOURCE revision, so two
    // quiet runs of this same procedure (the round's headline run and
    // the scale artifact's sf0.1 leg) converge on one number by
    // construction — the min estimator fed more interleaved trials,
    // not a different estimator (a load burst can only inflate a
    // sample, so min-merging is one-sided safe). The merge is OPT-IN
    // (SPARK_GRAFT_MERGE_SIDECAR=<path>): a default-on merge would let
    // a stale sidecar leak a DIFFERENT configuration's minima into an
    // unsuspecting run — in particular the driver's lower-core scaling
    // leg, which must never inherit 32-core times. A sidecar from
    // OTHER code must never mask a real regression either, so the
    // merge is additionally keyed on a content hash of src/main/scala
    // — not the git head, which moves on artifact-only commits between
    // the two runs — and on the run's core count.
    def srcRev(): String =
      try {
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val root = java.nio.file.Paths.get("src/main/scala")
        val files = java.nio.file.Files.walk(root).iterator()
        val paths = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
        while (files.hasNext) {
          val p = files.next()
          if (p.toString.endsWith(".scala")) paths += p
        }
        paths.sortBy(_.toString).foreach { p =>
          md.update(p.toString.getBytes("UTF-8"))
          md.update(java.nio.file.Files.readAllBytes(p))
        }
        md.digest().take(8).map("%02x".format(_)).mkString
      } catch { case _: Throwable => "unknown" }
    val codeRev = srcRev()
    val mergeSidecar = sys.env.getOrElse("SPARK_GRAFT_MERGE_SIDECAR", "0")
    // An explicitly requested merge that silently lands nothing is an
    // operator trap (a typo'd path or stale sidecar would only show as
    // merged_prior_queries:0) — every rejection states its reason once
    // on stderr; the merge itself stays opt-in and fully keyed.
    def mergeReject(reason: String): Map[String, Double] = {
      System.err.println(s"[bench] sidecar merge REJECTED ($mergeSidecar): $reason")
      Map.empty
    }
    val priorMin: Map[String, Double] =
      if (mergeSidecar == "0" || mergeSidecar.isEmpty) Map.empty
      else if (codeRev == "unknown") mergeReject("could not hash src/main/scala")
      else try {
        val detail = scala.util.Using.resource(
          scala.io.Source.fromFile(mergeSidecar))(
          _.getLines().find(_.contains("\"metric\":\"detail\"")).getOrElse(""))
        def field(k: String): Option[String] =
          ("\"" + k + "\":\"([^\"]*)\"").r.findFirstMatchIn(detail).map(_.group(1))
        if (detail.isEmpty) mergeReject("no detail line in sidecar")
        else if (!field("sf").contains(sfDir))
          mergeReject(s"sf mismatch: sidecar=${field("sf").getOrElse("?")} run=$sfDir")
        else if (!field("code_rev").contains(codeRev))
          mergeReject(s"code_rev mismatch: sidecar=${field("code_rev").getOrElse("?")} run=$codeRev")
        else if (!field("cpus").contains(cpus))
          mergeReject(s"cpus mismatch: sidecar=${field("cpus").getOrElse("?")} run=$cpus")
        else {
          val i = detail.indexOf("\"queries_min\":{")
          if (i < 0) mergeReject("sidecar detail line has no queries_min map")
          else {
            val body = detail.substring(i + 15, detail.indexOf('}', i))
            "\"([^\"]+)\":([0-9.eE+-]+)".r.findAllMatchIn(body)
              .map(m => m.group(1) -> m.group(2).toDouble).toMap
          }
        }
      } catch {
        case e: Throwable => mergeReject(s"unreadable sidecar: ${e.getMessage}")
      }
    // optional comma-separated name filter for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Machine-load stamps bracketing the run: a contaminated artifact
    // (another process competing for the cores) is visible in the
    // sidecar instead of masquerading as a regression. r5's official
    // medians were 3-10x inflated on three queries this way.
    // (loadavg_start is taken after session + warmup, so it includes our
    // own decaying warmup load — the quiet gate above ran before both.)
    val loadStart = loadavg()
    // Trials are interleaved round-robin (trial pass 1 runs every query,
    // then pass 2, ...): a transient load burst degrades ONE trial of
    // many queries — recoverable via per-query min — rather than every
    // trial of a few.
    val times = collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    for (_ <- 1 to trials; (name, fn) <- names) {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      times(name) = ((System.nanoTime() - t0) / 1e9) :: times(name)
    }
    // Post-pass retry: a load burst that spans ALL interleaved trials
    // defeats the per-query min, so the queries whose trials disagree
    // the most (and aren't trivially fast) get one more timing at the
    // end, when the burst has most likely passed. Minima only improve.
    val retryCap = sys.env.getOrElse("SPARK_GRAFT_RETRY_WORST", "12").toInt
    val suspects = names.filter { case (n, _) =>
      val xs = times(n)
      xs.size > 1 && xs.min > 0.15 && xs.max / math.max(xs.min, 1e-9) > 2.5
    }.sortBy { case (n, _) => -(times(n).max / math.max(times(n).min, 1e-9)) }
      .take(math.max(0, retryCap))
    for ((name, fn) <- suspects) {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      times(name) = ((System.nanoTime() - t0) / 1e9) :: times(name)
    }
    val loadEnd = loadavg()
    sampling = false
    // The verdict now covers the WHOLE run: quiet at entry AND no
    // competing process above the bound at any sampled moment inside it.
    // loadPre5 is OR'd in: if the bounded wait expired while the 5-min
    // average was still above its gate, the machine was not settled and
    // the artifact must say so (the sampler cannot see ALREADY-EXITED
    // heavy work, only its decay).
    val contaminated =
      loadPre > quietLoad || loadPre5 > quiet5 || maxCompeting > quietLoad
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val results = names.map { case (name, _) => name -> median(times(name)) }
    // Canonical minima fold in the prior same-source sidecar (see
    // srcRev above); medians/spreads reflect THIS run's trials only.
    val mins = names.map { case (name, _) =>
      name -> priorMin.get(name).fold(times(name).min)(p => math.min(times(name).min, p))
    }
    val mergedPrior = names.count { case (n, _) =>
      priorMin.get(n).exists(_ < times(n).min) }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val qsMin = mins.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Sum of per-query minima: the machine-load-immune headline — a
    // load burst can only INFLATE a trial, so the min across
    // interleaved trials is the cleanest quiet-machine estimate.
    val totalMin = if (mins.nonEmpty) mins.map(_._2).sum else 0.0
    // Per-query [min, median, max] across trials, so a regression in one
    // round can be told apart from run-to-run noise without re-running.
    val spread = names.map { case (name, _) =>
      val xs = times(name)
      "\"" + name + "\":[" + f(xs.min) + "," + f(median(xs)) + "," + f(xs.max) + "]"
    }.mkString("{", ",", "}")
    val detailLine =
      s"""{"metric":"detail","unit":"sec","queries":$qs,"queries_min":$qsMin,"sf":"$sfDir","cpus":"$cpus","trials":$trials,"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"loadavg_pre":${f(loadPre)},"loadavg_pre5":${f(loadPre5)},"max_competing_cores":${f(maxCompeting)},"quiet_load_bound":$quietLoad,"quiet_wait_sec":$waitedSec,"retried":${suspects.size},"code_rev":"$codeRev","merged_prior_queries":$mergedPrior,"contaminated":$contaminated}"""
    // The output-tail capture holds the LAST 2000 characters only, and the
    // build tool's closing status line consumes ~76 of them. A full
    // per-query map (80+ entries, ~24 chars each) can never fit, so the
    // canonical machine-readable line carries the total plus a fixed
    // HEADLINE subset and always parses; the full map rides the detail
    // line above it (complete in the sidecar even when tail-truncated).
    val headline = Seq(
      "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
      "q9_product_profit", "q18_big_orders", "xml_ingest", "ev_sessionize",
      "dedup_exact", "dedup_minhash", "dedup_survivors", "dedup_corpus",
      "ann_bruteforce", "ann_ivf", "text_tfidf", "mm_video_frames")
    // Headline subset uses the same estimator as the canonical value
    // (per-query min), so the two are mutually consistent.
    val minMap = mins.toMap
    val hq = headline.filter(minMap.contains)
      .map(k => "\"" + k + "\":" + f(minMap(k))).mkString("{", ",", "}")
    // CANONICAL value = min-sum. The load-immune estimator is the gate
    // number (a load burst can only inflate a trial, so per-query min
    // across interleaved trials converges on the quiet-machine time and
    // is reproducible within ~10% where the median sum swung 2-3x with
    // background load); the median sum stays alongside as value_median.
    val line =
      s"""{"metric":"total","value":${f(totalMin)},"value_median":${f(total)},"unit":"sec","queries":$hq,"n_queries":${results.size},"sf":"$sfDir","trials":$trials,"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"loadavg_pre":${f(loadPre)},"loadavg_pre5":${f(loadPre5)},"max_competing_cores":${f(maxCompeting)},"quiet_load_bound":$quietLoad,"quiet_wait_sec":$waitedSec,"retried":${suspects.size},"code_rev":"$codeRev","merged_prior_queries":$mergedPrior,"contaminated":$contaminated,"detail":"BENCH_SIDECAR.json"}"""
    // Sidecar: all three lines, for any consumer that prefers a file to
    // stdout scraping (full per-query medians, spreads, canonical total).
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_SIDECAR.json"),
      detailLine + "\n" +
        s"""{"metric":"spread","unit":"sec","queries":$spread}""" + "\n" +
        line + "\n")
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
