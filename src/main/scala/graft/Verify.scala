package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Actual output schema (Spark DDL) per query, captured from the
    // DataFrame itself — the no-oracle schema gate compares these
    // strings against SparkEntry.expectedSchema, so schema drift in a
    // sketch/approx query fails the gate instead of passing rows-only.
    val schemas = collection.mutable.Map.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        schemas(name) = df.schema.toDDL
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    def jmap(m: collection.Map[String, String]): String =
      m.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jmap(SparkEntry.oracleSql))
    // No-oracle minimum gates + captured actual schemas (all queries).
    Files.writeString(Paths.get(s"$outDir/row_bounds.json"),
      jmap(SparkEntry.rowBoundSql))
    Files.writeString(Paths.get(s"$outDir/expected_schema.json"),
      jmap(SparkEntry.expectedSchema))
    Files.writeString(Paths.get(s"$outDir/schemas.json"), jmap(schemas))
    spark.stop()
  }
}
