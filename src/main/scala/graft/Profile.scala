package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: time declared queries the way Bench does ([[QueryRun]], build
  * + full-output digest) under the trace, and print per trial the time,
  * the digest, the layers and the top stages by wall time — where a
  * query's time went: build, Catalyst, compiles, executors or shuffle.
  * With an explain directory, also writes each query's
  * `explain("formatted")` to `<explainDir>/<query>.txt` (trials may be 0).
  * Usage: runMain graft.Profile <sfDir> <q1,q2,...> [trials] [explainDir]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args.lift(1).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (names.isEmpty || unknown.nonEmpty) {
      println("usage: runMain graft.Profile <sfDir> <q1,q2,...> [trials] [explainDir]" +
        (if (unknown.isEmpty) "" else unknown.mkString("; unknown queries: ", ",", "")))
      sys.exit(2)
    }
    val sfDir = args(0)
    val trials = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.getOrCreate()
    val trace = new QueryRun.Trace(spark)
    for (t <- 1 to trials; name <- names) {
      val o = QueryRun.run(spark, SparkEntry.queries(name), sfDir, Some(trace))
      val result = o.result.fold(e => s"FAILED ${e.getClass.getName}: ${e.getMessage}",
        d => s"(rows, hash) = $d")
      println(f"== $name trial $t: ${o.sec}%.3f s, $result")
      println(o.layers.toSeq.sorted.map { case (k, v) => f"$k=$v%.0f" }.mkString("  ", " ", ""))
      println("  top stages by wall ms (stage, wall ms, exec-run ms, shuf-read, shuf-write, tasks, name):")
      o.stages.sortBy(-_.wallMs).take(20).foreach { s =>
        println(f"  stage ${s.id}%4d ${s.wallMs}%6d ms run=${s.runMs}%6d ms sr=${s.shuffleRead}%9d B " +
          f"sw=${s.shuffleWrite}%9d B tasks=${s.tasks}%3d  ${s.name.take(90)}")
      }
    }
    for (dir <- args.lift(3); name <- names) {
      Files.createDirectories(Paths.get(dir))
      val txt =
        try SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"ERROR building $name: ${e.getMessage}" }
      Files.writeString(Paths.get(dir, s"$name.txt"), txt)
      println(s"[profile] wrote $dir/$name.txt")
    }
    spark.stop()
  }
}
