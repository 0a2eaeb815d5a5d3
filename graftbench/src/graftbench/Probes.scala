package graftbench

import java.io.{ByteArrayInputStream, File}
import java.nio.file.{Files, Paths}
import java.util.zip.ZipInputStream

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

import graft.expressions.CmsMergeAgg
import graft.operators.{Bloom, Conform, Validate}
import graft.pipeline.{RatingsPipeline, TaskRunner}
import graft.sinks.PartitionedWriter
import graft.sources.{TableLoader, XmlRecordSource}

/** Layer probes for the traced run: each calls one public entry point of
  * one graft module on the run's own inputs and times it alone, outside
  * the op loop. Every probe runs on every workload, so a layer's number
  * can be compared across workloads. */
object Probes {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timeMs(body: => Any): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e6
  }

  private def rep(n: Int)(body: => Double): Double = median((1 to n).map(_ => body))

  def run(c: Ctx, tracer: Tracer): Map[String, Double] = {
    val spark = c.spark
    import spark.implicits._
    val dir = s"${c.runDir}/probes"
    tracer.take()
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def probeSpan(name: String)(body: => Double): Double =
      tracer.span(-1L, s"probe.$name", -1)(_ => body)

    tracer.active = true
    spark.sparkContext.setLocalProperty(Tracer.PhaseKey, "probe")
    out("sources.bind_ms") = probeSpan("sources.bind")(rep(3)(timeMs(
      TableLoader.tables.foreach(t => TableLoader.load(spark, c.tables, t).schema))))
    out("sources.schema_jobs") = tracer.take().getOrElse("probe.schema_jobs", 0.0) / 3

    val xml = {
      val zip = new File(c.dropGlob.stripSuffix("/*.zip")).listFiles().head
      val zin = new ZipInputStream(new ByteArrayInputStream(Files.readAllBytes(zip.toPath)))
      zin.getNextEntry
      new String(zin.readAllBytes(), "UTF-8")
    }
    var records = 0
    val parseMs = probeSpan("sources.xml_parse")(rep(5)(timeMs {
      records = XmlRecordSource.parseRecords(xml, "player").size
    }))
    out("sources.xml_parse_ms") = parseMs
    out("sources.xml_records_per_s") = records / (parseMs / 1000)

    val fields = Seq("fideid", "name", "country", "sex", "title", "rating", "games", "k", "birthday")
    val spec = RatingsPipeline.ConformRatings.copy(enrich = Seq(
      "period_year" -> lit(c.period._1), "period_month" -> lit(c.period._2)))
    val raw = XmlRecordSource.read(Seq(xml).toDS(), "player", fields).cache()
    raw.count()
    out("operators.conform_ms") = probeSpan("operators.conform")(rep(3)(timeMs(
      Digest.read(Digest.frame(Conform(raw, spec))))))
    val conformed = Conform(raw, spec).cache()
    conformed.count()
    out("operators.validate_ms") = probeSpan("operators.validate")(rep(3)(timeMs(
      Digest.read(Digest.frame(Validate.report("ratings", conformed, RatingsPipeline.RatingRules))))))
    var written = ""
    out("sinks.write_ms") = probeSpan("sinks.write")(median((1 to 3).map { i =>
      written = s"$dir/write$i"
      timeMs(PartitionedWriter.write(conformed, written, Seq("period_year", "period_month")))
    }))
    val files = Files.walk(Paths.get(written)).toArray.map(_.toString).filter(_.endsWith(".parquet"))
    out("sinks.bytes_written") = files.map(f => new File(f).length).sum.toDouble
    out("sinks.files_written") = files.length.toDouble
    raw.unpersist()
    conformed.unpersist()

    out("pipeline.fingerprint_ms") = probeSpan("pipeline.fingerprint")(rep(5)(timeMs(
      TaskRunner.inputFingerprint(spark, c.dropGlob))))
    TaskRunner.memoize(spark, s"$dir/memo", "probe", "fp")(())
    out("pipeline.skip_ms") = probeSpan("pipeline.skip")(rep(5)(timeMs(
      TaskRunner.memoize(spark, s"$dir/memo", "probe", "fp")(sys.error("memo did not skip")))))

    out ++= tracer.span(-1L, "probe.expressions", -1)(_ => kernels(spark, c))
    spark.sparkContext.setLocalProperty(Tracer.PhaseKey, null)
    tracer.take()
    tracer.active = false
    out.toMap
  }

  /** Nanoseconds per row of each native kernel, evaluated by a generated
    * projection over rows already collected into this JVM, so neither
    * scans nor Spark scheduling are in the time. */
  private def kernels(spark: SparkSession, c: Ctx): Map[String, Double] = {
    val docs = TableLoader.load(spark, c.tables, "documents").select("doc_id", "text")
    val nDocs = docs.count()
    val vec = (f: Column => Column) => transform(sequence(lit(1), lit(64)), i => f(i).cast("float"))
    val input = spark.range(2000).join(broadcast(docs), col("id") % nDocs === col("doc_id"))
      .select(col("id").as("key"),
        vec(i => sin(col("id") * i)).as("a"), vec(i => cos(col("id") + i)).as("b"),
        col("text"), substring(col("text"), 1, 40).as("s1"),
        concat(substring(col("text"), 2, 38), lit("xy")).as("s2"),
        transform(sequence(lit(0), lit(15)), i => col("id") * 16 + i).as("keys"))
      .select(col("*"), transform(col("a"), x => (x * 127).cast("tinyint")).as("qa"),
        transform(col("b"), x => (x * 127).cast("tinyint")).as("qb"))
    val rows: Array[InternalRow] = input.queryExecution.toRdd.map(_.copy()).collect()
    val attrs = input.queryExecution.analyzed.output

    val cms = CountMinSketch.create(0.001, 0.99, 42)
    (0L until 20000L).foreach(k => cms.add(k % 5000))
    val bitset = Bloom.buildBitset(spark.range(5000).toDF("k"), "k")

    def nsPerRow(k: Column): Double = {
      val e = input.select(k.as("k")).queryExecution.analyzed.asInstanceOf[Project].projectList.head
      val proj = UnsafeProjection.create(Seq(BindReferences.bindReference(e, attrs)), attrs)
      def pass(): Unit = rows.foreach(proj(_))
      pass(); pass()
      median((1 to 3).map { _ =>
        var passes = 0
        val t = System.nanoTime()
        while (System.nanoTime() - t < 100e6) { pass(); passes += 1 }
        (System.nanoTime() - t).toDouble / (passes.toLong * rows.length)
      })
    }
    Seq(
      "vec_dot" -> expr("vec_dot(a, b)"),
      "vec_dot_i8" -> expr("vec_dot_i8(qa, qb)"),
      "simhash64" -> expr("simhash64(text)"),
      "shingle_hashes" -> expr("shingle_hashes(text, 3)"),
      "deflate_len" -> expr("deflate_len(text)"),
      "lev_within" -> expr("lev_within(s1, s2, 3)"),
      "cms_estimate_all" -> CmsMergeAgg.estimateAllCol(spark, lit(cms.toByteArray), col("keys")),
      "bloom_might_contain" -> Bloom.mightContain(spark, col("key"), bitset, 3)
    ).map { case (name, k) => s"expressions.${name}_ns_per_row" -> nsPerRow(k) }.toMap
  }
}
