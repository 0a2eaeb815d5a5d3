package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Driver-contract wiring guards: catch entry/oracle mismatches in the
  * spec suite instead of in the driver's correctness run. */
class ContractSpec extends SparkSpec {

  /** Resolve from the repo root, not the CWD: a forked test JVM can run
    * with a different working directory, so walk up from user.dir until
    * build.sbt appears. */
  private lazy val repoRoot: Path = Iterator.iterate(
      Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
    .takeWhile(_ != null).take(5)
    .find(p => Files.exists(p.resolve("build.sbt")))
    .getOrElse(fail("could not locate the repo root (build.sbt) above user.dir"))

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)

  test("the TopKPerGroup strategy is planned exactly once per session") {
    for (s <- Seq(spark, spark.newSession()))
      assert(s.sessionState.planner.strategies.count(_ eq graft.plans.TopKPerGroupStrategy) === 1)
  }

  test("GraftExtensions is the only way functions, strategies and rules enter a session") {
    // One session configuration (GraftSession.builder) and one function
    // catalog (GraftExtensions): no second builder, no runtime install.
    val sources = Files.walk(repoRoot.resolve("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = for {
      p <- sources
      (line, i) <- read(p).linesIterator.zipWithIndex
      if line.contains("createOrReplaceTempFunction") || line.contains("experimental.extra") ||
        (line.contains("SparkSession.builder()") && p.getFileName.toString != "GraftSession.scala")
    } yield s"${repoRoot.relativize(p)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("parquet schemas are inferred only in TableLoader; q2 pins nothing") {
    // Every inferred parquet schema goes through TableLoader.schemaOf's
    // cache; q2's per-part minimum is a window, not a checkpointed self-join.
    val inference = """read\.parquet\([^)]*\)\.schema""".r
    val offenders = for {
      p <- Files.walk(repoRoot.resolve("src/main")).iterator().asScala.toSeq
      if p.toString.endsWith(".scala") && p.getFileName.toString != "TableLoader.scala"
      (line, i) <- read(p).linesIterator.zipWithIndex
      if inference.findFirstIn(line).isDefined
    } yield s"${repoRoot.relativize(p)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    val relational = read(repoRoot.resolve("src/main/scala/graft/queries/RelationalQueries.scala"))
    val q2 = relational.substring(relational.indexOf("def q2MinCostSupplier"))
    val q2Body = q2.substring(0, q2.indexOf("\n  /**"))
    assert(q2Body.contains("Window.partitionBy"))
    assert(!q2Body.contains("localCheckpoint"))
  }

  test("stream queries swap no session conf; sessions share one codegen classloader") {
    // No query sets session conf: GraftSession.scoped, on a cloned
    // child, is the one way to scope a setting. State partitions follow
    // spark.sql.shuffle.partitions, and no knob overrides them.
    val confSets = Seq(".conf.set(", ".conf.unset(", "setConfString")
    val offenders = for {
      p <- Files.walk(repoRoot.resolve("src/main")).iterator().asScala.toSeq
      if p.toString.endsWith(".scala")
      file = p.getFileName.toString
      (line, i) <- read(p).linesIterator.zipWithIndex
      if line.contains("withStatePartitions") || line.contains("spark.graft.stream.statePartitions") ||
        line.contains("withoutAqe") ||
        (confSets.exists(line.contains) && file != "GraftSession.scala") ||
        (line.contains("cloneSession") && !Set("GraftSession.scala", "GraftSqlBridge.scala")(file))
    } yield s"${repoRoot.relativize(p)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // Artifact isolation off: a stream start's cloned session then keeps
    // the thread's classloader and hits the shared codegen cache.
    val session = read(repoRoot.resolve("src/main/scala/graft/GraftSession.scala"))
    assert(session.contains(""".config("spark.sql.artifact.isolation.enabled", "false")"""))
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") === "false")
  }

  test("Pin is the only materialization site; PlanCache is the only memo") {
    // Every pin follows spark.graft.checkpoint.reliable only if it goes
    // through Pin; a second memo would be a second LRU and lifecycle.
    // A plan-keyed memo keys on semanticHash(), so outside PlanCache the
    // hash may appear only as the key of a PlanCache call.
    val raw = Seq("localCheckpoint(", ".checkpoint(", ".persist(", ".unpersist(")
    val offenders = for {
      p <- Files.walk(repoRoot.resolve("src/main")).iterator().asScala.toSeq
      if p.toString.endsWith(".scala")
      file = p.getFileName.toString
      (line, i) <- read(p).linesIterator.zipWithIndex
      if (file != "Pin.scala" && raw.exists(line.contains)) ||
        line.contains("memoPersisted") || line.contains("ccCache") ||
        (file != "PlanCache.scala" && line.contains("semanticHash()") &&
          !line.contains("PlanCache."))
    } yield s"${repoRoot.relativize(p)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("one measurement listener and one timing path; Bench and ClusterSmoke never count a result") {
    // The trace in QueryRun is the only listener that measures; PlanCache's
    // is its application-end purge. Bench and ClusterSmoke time the full
    // output through QueryRun, never a count() Catalyst can prune.
    val listen = Seq("addSparkListener", "listenerManager.register", "streams.addListener")
    val gone = Seq("object Explain", "ExplainDump", "JobProfile", "priorMin", "SPARK_GRAFT_MERGE_SIDECAR")
    val offenders = for {
      p <- Files.walk(repoRoot.resolve("src/main")).iterator().asScala.toSeq
      if p.toString.endsWith(".scala")
      file = p.getFileName.toString
      (line, i) <- read(p).linesIterator.zipWithIndex
      if (listen.exists(line.contains) && !Set("QueryRun.scala", "PlanCache.scala")(file)) ||
        gone.exists(line.contains) ||
        (Set("Bench.scala", "ClusterSmoke.scala")(file) && line.contains(".count()") &&
          !line.contains("""read.parquet(s"$sfDir/lineitem.parquet").count()"""))
    } yield s"${repoRoot.relativize(p)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    val planCache = read(repoRoot.resolve("src/main/scala/graft/operators/PlanCache.scala"))
    assert(planCache.split("addSparkListener", -1).length === 2 && planCache.contains("onApplicationEnd"))
    val queryRun = read(repoRoot.resolve("src/main/scala/graft/QueryRun.scala"))
    for (call <- listen)
      assert(queryRun.split(java.util.regex.Pattern.quote(call), -1).length <= 2, call)
  }

  test("PlanCache.Max holds every memoized query family plus the CC label tables") {
    // One entry per memo call site (each keyed on one dir): a session
    // that touches them all must not evict-thrash its CC label tables.
    val sites = Files.walk(repoRoot.resolve("src/main/scala/graft/queries")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => """PlanCache\.memo\(""".r.findAllIn(read(p)).size).sum
    assert(sites > 0)
    assert(sites < graft.operators.PlanCache.Max - graft.operators.PlanCache.CcTables,
      s"$sites PlanCache.memo sites under queries/: raise PlanCache.Max")
  }

  test("the README lists every catalog function") {
    val readme = read(repoRoot.resolve("README.md"))
    val missing = GraftExtensions.functions.map(_._1).filterNot(n => readme.contains(s"`$n("))
    assert(missing.isEmpty, s"README does not list: $missing")
  }

  test("every oracle SQL entry has a matching query entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("flagship entry returns rows (driver smoke check)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("events ts normalization accepts both long-nanos and timestamp layouts") {
    // The testdata has shipped `ts` both as raw epoch-nanos BIGINT and
    // as TIMESTAMP(MICROS); every consumer goes through
    // TableLoader.normalizeEventTs, which must produce the identical
    // (ts TIMESTAMP, ts_us BIGINT) pair from either physical layout.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType}
    import spark.implicits._
    val us = Seq(1700000000000000L, 1700000123456789L)
    val longNanos = us.map(_ * 1000L).toDF("ts").withColumn("user_id", lit(1L))
    val tsMicros = us.toDF("us").select(timestamp_micros(col("us")).as("ts"), lit(1L).as("user_id"))
    val a = graft.sources.TableLoader.normalizeEventTs(longNanos)
    val b = graft.sources.TableLoader.normalizeEventTs(tsMicros)
    for (df <- Seq(a, b)) {
      assert(df.schema("ts").dataType === TimestampType)
      assert(df.schema("ts_us").dataType === LongType)
    }
    val ua = a.select("ts_us").as[Long].collect().sorted
    val ub = b.select("ts_us").as[Long].collect().sorted
    assert(ua.toSeq === us.sorted && ub.toSeq === us.sorted)
  }

  test("query count matches the SURVEY inventory claim") {
    // SURVEY §2 is the coverage contract: every driver query entry has
    // exactly one checked `[q]`/`[q+o]` line there (r11 closed the
    // last off-by-one — ev_streaming_parity now has its own line), so
    // the pin is read FROM the document instead of a hand-updated
    // number that can drift from it.
    val survey = read(repoRoot.resolve("SURVEY.md"))
    val claimed = survey.linesIterator
      .count(l => l.startsWith("- [x]") &&
        ("""\[(q|q\+o)\]""".r.findFirstIn(l).isDefined))
    assert(SparkEntry.queries.size === claimed,
      s"SparkEntry has ${SparkEntry.queries.size} queries but SURVEY §2 " +
        s"checks $claimed [q]/[q+o] items — add/remove the §2 line")
    assert(SparkEntry.queries.size === 194, s"got ${SparkEntry.queries.size}")
  }

  test("no-oracle entries are exactly covered by row-bound + schema gates") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(SparkEntry.rowBoundSql.keySet === noOracle,
      s"rowBoundSql drift: missing=${noOracle -- SparkEntry.rowBoundSql.keySet} " +
        s"extra=${SparkEntry.rowBoundSql.keySet -- noOracle}")
    assert(SparkEntry.expectedSchema.keySet === noOracle,
      s"expectedSchema drift: missing=${noOracle -- SparkEntry.expectedSchema.keySet} " +
        s"extra=${SparkEntry.expectedSchema.keySet -- noOracle}")
    // The declared DDLs are live contracts, not stale copies: each
    // must equal the actual output schema at the spec SF.
    for ((name, ddl) <- SparkEntry.expectedSchema.toSeq.sortBy(_._1)
         if Set("q_distinct_approx", "q_heavy_hitters_approx",
           "q_percentiles_approx", "q_distinct_hll_sketch",
           "text_bpe_vocab", "text_term_freq_cms").contains(name)) {
      // (cheap subset — the full surface is exercised by the driver
      // gate, which compares every actual DDL against these strings)
      assert(SparkEntry.queries(name)(spark, Sf).schema.toDDL === ddl, name)
    }
  }
}
