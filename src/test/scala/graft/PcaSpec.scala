package graft

import org.apache.spark.sql.functions._
import graft.operators.Pca
import graft.sources.TableLoader

/** Pins the PCA operator's sharp ends against an in-memory reference:
  * the fitted components satisfy the eigen equation of the reference
  * covariance, are orthonormal, dominate the spectrum, are invariant to
  * repartitioning (the fixed-point moment pass), and the DISTRIBUTED
  * projection's per-component variance equals the driver-side
  * eigenvalue — the check that ties the map-only projection back to
  * the eigensolve.
  */
class PcaSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = TableLoader.load(spark, Sf, "embeddings")

  private lazy val rows: Array[Array[Double]] =
    emb.select(col("embedding")).as[Seq[Float]].collect()
      .map(_.toArray.map(_.toDouble))

  // Reference mean/covariance in plain double arithmetic.
  private lazy val (refMean, refCov) = {
    val n = rows.length
    val d = rows.head.length
    val mean = Array.tabulate(d)(i => rows.map(_(i)).sum / n)
    val cov = Array.tabulate(d, d) { (i, j) =>
      rows.map(v => (v(i) - mean(i)) * (v(j) - mean(j))).sum / n
    }
    (mean, cov)
  }

  private lazy val model = Pca.fit(emb, r = 8)

  test("components are orthonormal and the spectrum is sane") {
    val d = model.comps.head.length
    for (a <- model.comps.indices; b <- a until model.comps.length) {
      val dot = (0 until d).map(i =>
        model.comps(a)(i).toDouble * model.comps(b)(i).toDouble).sum
      val expect = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-3,
        s"comp $a . comp $b = $dot, expected $expect")
    }
    // Descending, non-negative (covariance is PSD), and bounded by the
    // total variance.
    assert(model.eigvals.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    assert(model.eigvals.forall(_ > -1e-9))
    val trace = refCov.indices.map(i => refCov(i)(i)).sum
    assert(model.eigvals.sum <= trace + 1e-6)
    // Top components must beat the average direction, else PCA found
    // no structure worth projecting onto.
    assert(model.eigvals.head > trace / refCov.length)
  }

  test("fitted pairs satisfy the eigen equation of the reference covariance") {
    val d = refCov.length
    model.comps.zip(model.eigvals).foreach { case (w, lambda) =>
      val res = (0 until d).map { i =>
        val cwi = (0 until d).map(j => refCov(i)(j) * w(j).toDouble).sum
        math.abs(cwi - lambda * w(i).toDouble)
      }.max
      // w is the float32-cast eigenvector of the fixed-point covariance,
      // checked against the pure-double reference: tolerance covers both
      // representation gaps, not solver error.
      assert(res < 1e-3, s"||cov w - lambda w||_inf = $res for lambda=$lambda")
    }
    val meanGap = refMean.zip(model.mean).map { case (a, b) => math.abs(a - b) }.max
    assert(meanGap < 1e-6)
  }

  test("the model is invariant to repartitioning (fixed-point moments)") {
    val again = Pca.fit(emb.repartition(7), r = 8)
    assert(again.n === model.n)
    assert(again.mean.sameElements(model.mean))
    assert(again.eigvals.sameElements(model.eigvals))
    assert(again.comps.zip(model.comps).forall { case (a, b) => a.sameElements(b) })
  }

  test("stored model round-trips bit-exactly; stored projection equals fresh") {
    val root = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_pca_model").toFile,
      "model").getAbsolutePath
    val back = Pca.modelFromDf(
      graft.sinks.VersionedTable.frozen(spark, root)(Pca.modelDf(spark, model)))
    // float32 comps and double mean/eigvals round-trip parquet exactly.
    assert(back.n === model.n)
    assert(back.mean.sameElements(model.mean))
    assert(back.eigvals.sameElements(model.eigvals))
    assert(back.comps.length === model.comps.length)
    assert(back.comps.zip(model.comps).forall { case (a, b) => a.sameElements(b) })
    // Projection against the reloaded model is the SAME map-only plan
    // (components ride as literals), so outputs match row for row.
    val fresh = Pca.project(emb, model).orderBy(col("vec_id"), col("comp"))
      .collect().map(_.toSeq).toSeq
    val stored = Pca.project(emb, back).orderBy(col("vec_id"), col("comp"))
      .collect().map(_.toSeq).toSeq
    assert(stored.nonEmpty)
    assert(stored === fresh)
  }

  test("empty corpus and inconsistent dimensions fail with descriptive errors") {
    val empty = emb.where(lit(false))
    val e1 = intercept[IllegalArgumentException](Pca.fit(empty, r = 2))
    assert(e1.getMessage.contains("corpus is empty"))
    val mixed = emb.select(col("embedding"))
      .union(spark.range(1).select(array(lit(1.0f), lit(2.0f)).as("embedding")))
    val e2 = intercept[org.apache.spark.SparkException](Pca.fit(mixed, r = 2))
    assert(e2.getMessage.contains("inconsistent embedding dimension") ||
      Option(e2.getCause).exists(_.getMessage.contains("inconsistent embedding dimension")))
  }

  test("distributed projection variance per component equals the eigenvalue") {
    val proj = Pca.project(emb, model)
    val stats = proj.groupBy(col("comp"))
      .agg(count(lit(1)).as("n"),
        avg(col("proj_micro")).as("m"),
        avg(col("proj_micro") * col("proj_micro")).as("m2"))
      .collect().map { r =>
        val m = r.getAs[Double]("m"); val m2 = r.getAs[Double]("m2")
        r.getAs[Int]("comp") -> ((m2 - m * m) / 1e12, r.getAs[Long]("n"))
      }.toMap
    assert(stats.size === 8)
    model.eigvals.zipWithIndex.foreach { case (lambda, i) =>
      val (v, n) = stats(i)
      assert(n === model.n)
      assert(math.abs(v - lambda) / math.max(lambda, 1e-9) < 0.02,
        s"comp $i: projected variance $v vs eigenvalue $lambda")
    }
  }
}
