package graft

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one timing path: its digest is graftbench's, and Bench's loop
  * keeps a throwing query out of every timing. */
class QueryRunSpec extends SparkSpec {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private lazy val repoRoot: File = Iterator.iterate(new File(sys.props("user.dir")).getAbsoluteFile)(_.getParentFile)
    .takeWhile(_ != null).find(d => new File(d, "build.sbt").exists)
    .getOrElse(fail("could not locate the repo root (build.sbt) above user.dir"))

  /** graftbench's recorded digests of one workload key (read only). */
  private def expected(key: String): Map[String, (Long, Long)] =
    json.readValue(new File(repoRoot, "graftbench/expected.json"), classOf[Map[String, Any]])(key)
      .asInstanceOf[Map[String, Any]]("0").asInstanceOf[Map[String, Seq[Any]]]
      .map { case (q, Seq(r, h)) => q -> (r.asInstanceOf[Number].longValue, h.asInstanceOf[Number].longValue) }

  private val lakeServe = Seq("q2_min_cost_supplier", "q_topk_per_group", "q_delta_mom", "q_rollup",
    "q_running_total", "ev_sessionize", "ev_funnel")

  for ((sf, key) <- Seq("/root/testdata/sf0.001" -> "lake_serve@tiny", "/root/testdata/sf0.01" -> "lake_serve"))
    test(s"QueryRun.digest equals graftbench's $key digests at ${new File(sf).getName}") {
      val want = expected(key)
      assert(want.keySet === lakeServe.toSet)
      for (q <- lakeServe)
        assert(QueryRun.digest(SparkEntry.queries(q)(spark, sf)) === want(q), q)
    }

  test("Bench fails closed: a throwing query is failed, untimed, and the run reads correct=false") {
    val ok = Seq("q_rollup", "q2_min_cost_supplier")
    val boom: QueryRun.Query = (_, _) => throw new IllegalStateException("injected")
    val queries = Seq(ok(0) -> SparkEntry.queries(ok(0)), "boom" -> boom, ok(1) -> SparkEntry.queries(ok(1)))
    val trace = new QueryRun.Trace(spark)
    val m = try Bench.measure(spark, queries, Sf, trials = 2, retryCap = 0, Some(trace)) finally trace.close()
    assert(m.failed === Seq("boom" -> "java.lang.IllegalStateException"))
    assert(!m.correct)
    // The others are timed: two executions each, every one digested to
    // graftbench's value, with the trace's layers.
    val want = expected("lake_serve@tiny")
    assert(m.timed.map(_._1) === ok)
    for ((q, os) <- m.timed) {
      assert(os.size === 2)
      assert(os.forall(_.result.contains(want(q))), q)
      assert(os.forall(o => o.layers("exec_jobs") >= 1 && o.layers.contains("build_ms")), q)
    }
    assert(m.mins.map(_._1) === ok)
    assert(m.minSum === m.timed.map(_._2.map(_.sec).min).sum)
    val (detail, perQuery, total) = Bench.lines(m, "\"sf\":\"test\"")
    val lines = Seq(detail, perQuery, total).map(l => json.readValue(l, classOf[Map[String, Any]]))
    for (l <- Seq(lines(0), lines(2))) {
      assert(l("correct") === false)
      assert(l("n_failed") === 1)
    }
    assert(lines(0)("failed") === Map("boom" -> "java.lang.IllegalStateException"))
    assert(lines(0)("queries_min").asInstanceOf[Map[String, Any]].keySet === ok.toSet)
    assert(lines(2)("n_queries") === 2)
    val entries = lines(1)("queries").asInstanceOf[Map[String, Map[String, Any]]]
    assert(entries("boom") === Map("error" -> "java.lang.IllegalStateException"))
    for (q <- ok)
      assert(Seq("rows", "hash", "cold", "spread", "layers").forall(entries(q).contains), q)
  }
}
