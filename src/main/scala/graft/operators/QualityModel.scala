package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed training of a tiny logistic-regression quality
  * classifier — the fastText-style "does this document look like the
  * curated slice" filter a training-data pipeline runs after the exact
  * gates.
  *
  * Full-batch gradient descent where ONE training step is ONE
  * partial-agg aggregation: every row contributes its per-feature
  * gradient as an order-independent fixed-point long
  * (`floor(err * x * 2^24)`), so the aggregated sums — and therefore
  * the learned weights — are bit-identical across partitionings and
  * cluster sizes (the same mechanism that makes the k-means/centroid
  * paths bit-stable). Weights live driver-side (k+1 doubles) and
  * re-enter the next step as literals; driver pacing is `steps` jobs
  * over the feature projection — the documented bounded regime, like
  * `Bpe.trainVocab`.
  *
  * Fixed-point overflow headroom: per-row gradient magnitude is
  * bounded by |err|·|x|·2^24 ≲ 2^27 for basis-point-scaled features,
  * so the long sums hold to ~2^36 rows (~7e10). Beyond that, shrink
  * Scale or average per-partition partials first.
  */
object QualityModel {
  final val Scale = 16777216.0 // 2^24 fixed point

  /** Run `f` with AQE disabled on the session. The trainer's driver
    * pacing is `steps` tiny 1-row aggregations over an
    * already-materialized feature table: AQE re-plans each one as two
    * query-stage jobs with an optimizer round between them — pure
    * per-step driver latency (~90 ms/step measured at sf0.1, identical
    * on a cluster driver) with nothing to adapt (the exchange is a
    * single-partition global agg either way). Values are unchanged by
    * construction: the gradient sums are order-independent fixed-point
    * longs. Set/restore mutates the shared session conf, so training
    * must not run concurrently with other queries of the same session
    * (the sequential Verify/Bench drive shape). */
  private def withoutAqe[T](spark: org.apache.spark.sql.SparkSession)(f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, prev)
  }

  /** The exact per-row forward pass both the distributed step and the
    * in-memory reference evaluate: left-associated dot, then the
    * standard logistic. Shared here so the spec's reference loop is
    * the same arithmetic by construction. */
  def forward(w: Array[Double], x: Array[Double]): Double = {
    var m = w(0)
    var j = 0
    while (j < x.length) { m = m + w(j + 1) * x(j); j += 1 }
    1.0 / (1.0 + math.exp(-m))
  }

  /** Per-feature z-scoring, computed with the same order-independent
    * fixed-point machinery as the gradients (ONE aggregation of
    * floor(x·2^24) / floor(x²·2^24) long sums): raw basis-point
    * features are tiny all-positive values whose gradient steps crawl;
    * standardized they condition full-batch GD properly. Returns the
    * transformed frame plus the (mean, sd) pairs so a reference loop
    * can replicate the exact arithmetic. */
  def standardize(feats: DataFrame, featCols: Seq[String]): (DataFrame, Array[(Double, Double)]) = {
    val k = featCols.size
    val aggCols = featCols.map(f => sum(floor(col(f) * Scale).cast("long")).as(s"s_$f")) ++
      featCols.map(f => sum(floor(col(f) * col(f) * Scale).cast("long")).as(s"s2_$f")) :+
      count(lit(1)).as("n")
    val row = feats.agg(aggCols.head, aggCols.tail: _*).head() // one bounded row
    val n = row.getLong(2 * k).toDouble
    val stats = Array.tabulate(k) { j =>
      val m = (row.getLong(j) / Scale) / n
      val e2 = (row.getLong(k + j) / Scale) / n
      val v = e2 - m * m
      (m, if (v > 0) math.sqrt(v) else 1.0)
    }
    val out = featCols.zipWithIndex.foldLeft(feats) { case (df, (f, j)) =>
      df.withColumn(f, (col(f) - lit(stats(j)._1)) / lit(stats(j)._2))
    }
    (out, stats)
  }

  /** Train on `feats` (one row per example; `featCols` double columns,
    * `labelCol` 0.0/1.0 double). Returns k+1 weights (bias first). */
  def train(feats: DataFrame, featCols: Seq[String], labelCol: String,
            lr: Double, steps: Int): Array[Double] = withoutAqe(feats.sparkSession) {
    val k = featCols.size
    val n = feats.count().toDouble
    require(n > 0, "cannot train on an empty feature set")
    val w = Array.fill(k + 1)(0.0)
    var step = 0
    while (step < steps) {
      // margin: left-associated fold, matching `forward`
      val margin = featCols.zipWithIndex.foldLeft(lit(w(0)): Column) {
        case (acc, (f, j)) => acc + lit(w(j + 1)) * col(f)
      }
      val p = lit(1.0) / (lit(1.0) + exp(-margin))
      val err = col(labelCol) - p
      val gradCols = floor(err * Scale).cast("long").as("g0") +:
        featCols.zipWithIndex.map { case (f, j) =>
          floor(err * col(f) * Scale).cast("long").as(s"g${j + 1}")
        }
      val sums = feats.select(gradCols: _*)
        .agg(sum(col("g0")).as("s0"),
          (1 to k).map(j => sum(col(s"g$j")).as(s"s$j")): _*)
        .head() // ONE row of k+1 longs — bounded by design, not data
      var j = 0
      while (j <= k) {
        w(j) = w(j) + lr * (sums.getLong(j) / Scale) / n
        j += 1
      }
      step += 1
    }
    w
  }

  /** Batch drift in STORED standardized units: max_j
    * |mean_batch(x_j) - mean_j| / sd_j against the (mean, sd) pairs a
    * committed model standardizes with — ONE bounded aggregation over
    * the batch of the same order-independent fixed-point sums
    * [[standardize]] uses, so the verdict is bit-stable under any
    * partitioning. This is the refresh trigger of the stored quality
    * lifecycle: a batch whose feature means sit within the training
    * distribution serves the frozen model; a shifted batch (z past the
    * caller's threshold) is evidence the corpus moved and the model's
    * standardization no longer describes the data it scores. */
  def driftZ(batch: DataFrame, featCols: Seq[String],
             stats: Array[(Double, Double)]): Double = {
    val aggCols = featCols.map(f =>
      sum(floor(col(f) * Scale).cast("long")).as(s"s_$f")) :+ count(lit(1)).as("n")
    val row = batch.agg(aggCols.head, aggCols.tail: _*).head() // one bounded row
    val n = row.getLong(featCols.size).toDouble
    if (n == 0) 0.0
    else featCols.indices.map { j =>
      val m = (row.getLong(j) / Scale) / n
      math.abs(m - stats(j)._1) / stats(j)._2
    }.max
  }

  /** Map-only scoring with trained weights: the per-row probability in
    * floor micro-units plus the thresholded keep/drop decision. */
  def score(feats: DataFrame, featCols: Seq[String], w: Array[Double]): DataFrame = {
    val margin = featCols.zipWithIndex.foldLeft(lit(w(0)): Column) {
      case (acc, (f, j)) => acc + lit(w(j + 1)) * col(f)
    }
    val p = lit(1.0) / (lit(1.0) + exp(-margin))
    feats.withColumn("p_micro", floor(lit(1e6) * p).cast("long"))
      .withColumn("pred", (p >= 0.5).cast("long"))
  }
}
