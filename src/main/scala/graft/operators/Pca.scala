package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expressions.FloatVecDot.vecDot

/** Principal-component analysis of an embedding corpus — the
  * dimensionality-reduction / whitening step an embedding pipeline runs
  * before indexing or clustering, realized in the only shape that
  * survives 100 TB: the corpus is touched in ONE distributed pass that
  * reduces to a dim x dim moment matrix (partial per-partition
  * accumulators, ~2 KB each, combined associatively), the eigensolve
  * runs on the DRIVER over that tiny matrix (the same
  * train-small/apply-distributed regime as the k-means and PQ
  * trainers — no engine iterates an eigensolver over 10^11 rows), and
  * the projection is MAP-ONLY (components ride the plan as literals).
  *
  * Bit-stability: the moment pass accumulates fixed-point longs
  * (round(x * 2^24) for sums, round(x_i * x_j * 2^24) for products), so
  * the moments — and therefore the fitted model and every projection —
  * are identical across partitionings and row orders. The Jacobi
  * eigensolve is cyclic with a fixed sweep order, eigenpairs sort by
  * (eigenvalue desc, index asc), and each component's sign is
  * canonicalized (largest-|coordinate| positive, lowest index on ties),
  * so the model is a pure function of the corpus.
  */
object Pca {

  /** Fitted model: `comps` are the top-r eigenvectors CAST TO FLOAT32 —
    * the representation a serving layer stores and the one the map-only
    * projection uses; `eigvals` (descending) and `mean` stay double. */
  case class Model(mean: Array[Double], comps: Array[Array[Float]],
                   eigvals: Array[Double], n: Long)

  private val Fp = 16777216.0 // 2^24 fixed-point scale

  /** Fit the top-`r` principal components (memoized per analyzed plan
    * through [[PlanCache.valueMemo]], like the k-means/PQ trainers). */
  def fit(corpus: DataFrame, r: Int): Model =
    PlanCache.valueMemo(corpus, s"pca:$r")(train(corpus, r))

  private def train(corpus: DataFrame, r: Int): Model = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col("embedding")).as[Seq[Float]]
    // One distributed pass: per-partition fixed-point moment
    // accumulators (count, per-dim sums, upper-triangle products),
    // combined associatively — long addition is order-independent, so
    // the moments are bit-stable under any partitioning.
    val (n, sumFp, prodFp) = vecs.mapPartitions { it =>
      var n = 0L
      var sums: Array[Long] = null
      var prods: Array[Long] = null
      it.foreach { v =>
        val d = v.length
        if (sums == null) {
          sums = new Array[Long](d)
          prods = new Array[Long](d * (d + 1) / 2)
        } else require(d == sums.length,
          s"pca: inconsistent embedding dimension — expected ${sums.length}, got $d")
        val a = new Array[Double](d)
        var i = 0
        while (i < d) { a(i) = v(i).toDouble; i += 1 }
        n += 1
        var k = 0
        i = 0
        while (i < d) {
          sums(i) += math.round(a(i) * Fp)
          var j = i
          while (j < d) {
            prods(k) += math.round(a(i) * a(j) * Fp)
            j += 1; k += 1
          }
          i += 1
        }
      }
      if (n == 0) Iterator.empty
      else Iterator.single((n, sums, prods))
    // Fold with a None zero (rdd.fold needs a neutral element and
    // Dataset.reduce throws an opaque "empty collection" on an empty
    // corpus): dimensions are cross-checked at every combine, and an
    // empty corpus surfaces as the intended descriptive failure below.
    }.rdd.map(Option(_)).fold(None) {
      case (None, b) => b
      case (a, None) => a
      case (Some((na, sa, pa)), Some((nb, sb, pb))) =>
        require(sa.length == sb.length,
          s"pca: inconsistent embedding dimension across partitions — ${sa.length} vs ${sb.length}")
        var i = 0
        while (i < sa.length) { sa(i) += sb(i); i += 1 }
        i = 0
        while (i < pa.length) { pa(i) += pb(i); i += 1 }
        Some((na + nb, sa, pa))
    }.getOrElse(throw new IllegalArgumentException(
      "pca needs at least 2 rows; the corpus is empty"))
    val d = sumFp.length
    require(n > 1, "pca needs at least 2 rows")
    val mean = sumFp.map(_ / Fp / n)
    val cov = Array.ofDim[Double](d, d)
    var k = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val e = prodFp(k) / Fp / n - mean(i) * mean(j)
        cov(i)(j) = e; cov(j)(i) = e
        j += 1; k += 1
      }
      i += 1
    }
    val (eigvals, eigvecs) = jacobiEigen(cov)
    // Order by (eigenvalue desc, index asc); canonicalize signs.
    val order = eigvals.indices.sortBy(i => (-eigvals(i), i)).take(r)
    val comps = order.map { ci =>
      val w = Array.tabulate(d)(row => eigvecs(row)(ci))
      var best = 0
      var i = 1
      while (i < d) { if (math.abs(w(i)) > math.abs(w(best))) best = i; i += 1 }
      val s = if (w(best) < 0) -1.0 else 1.0
      w.map(x => (x * s).toFloat)
    }.toArray
    Model(mean, comps, order.map(eigvals(_)).toArray, n)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: fixed
    * (p, q) sweep order, so the result is deterministic. Returns
    * (eigenvalues, eigenvector COLUMNS). */
  private[operators] def jacobiEigen(
      m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = m.length
    val a = Array.tabulate(n, n)((i, j) => m(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0; var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    var sweep = 0
    while (off() > 1e-18 && sweep < 64) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (apq != 0.0) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              (if (theta >= 0) 1.0 else -1.0) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < n) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < n) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              i += 1
            }
            i = 0
            while (i < n) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** MAP-ONLY projection of a corpus onto the model's components:
    * each component rides the plan as a float32 literal and the
    * centering offset `mean . w` as a double literal, so projecting a
    * batch costs one scan of the batch (no shuffle — the same
    * frozen-model contract as IVF assignment / PQ encoding). Emits
    * (vec_id, comp, proj_micro): floor micro-units of the centered
    * projection, from the same in-order double fold every other vector
    * query uses. */
  def project(corpus: DataFrame, model: Model): DataFrame = {
    val spark = corpus.sparkSession
    val projCols = model.comps.map { w =>
      // mean . w in index order, double — a plan literal both engines
      // would share; w is the stored float32 component.
      var c = 0.0
      var i = 0
      while (i < w.length) { c += model.mean(i) * w(i).toDouble; i += 1 }
      floor(lit(1e6) * (vecDot(spark, col("embedding"), typedLit(w.toSeq)) - lit(c)))
        .cast("long")
    }
    corpus.select(col("vec_id"), posexplode(array(projCols: _*)))
      .select(col("vec_id"), col("pos").cast("int").as("comp"),
        col("col").as("proj_micro"))
  }

  /** The fitted model as a tiny single-row lake table. Components stay
    * float32 and mean/eigvals double — both round-trip parquet exactly,
    * so a reloaded model is bit-identical to the trained one
    * (spec-asserted, same contract as the IVF quantizer and PQ
    * codebooks). The frozen model is committed and reloaded through
    * this codec ([[graft.sinks.VersionedTable.frozen]]). */
  def modelDf(spark: SparkSession, m: Model): DataFrame = {
    import spark.implicits._
    Seq((m.mean.toSeq, m.comps.map(_.toSeq).toSeq, m.eigvals.toSeq, m.n))
      .toDF("mean", "comps", "eigvals", "n")
  }

  def modelFromDf(df: DataFrame): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    val (mean, comps, eigvals, n) = df
      .select(col("mean"), col("comps"), col("eigvals"), col("n"))
      .as[(Seq[Double], Seq[Seq[Float]], Seq[Double], Long)].head()
    Model(mean.toArray, comps.map(_.toArray).toArray, eigvals.toArray, n)
  }
}
