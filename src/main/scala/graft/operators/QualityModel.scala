package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed training of a tiny logistic-regression quality
  * classifier — the fastText-style "does this document look like the
  * curated slice" filter a training-data pipeline runs after the exact
  * gates.
  *
  * Full-batch gradient descent where ONE training step is ONE RDD
  * `treeAggregate` (how Spark's MLlib trainers run theirs): every row
  * contributes its per-feature gradient as an order-independent
  * fixed-point long (`floor(err * x * 2^24)`), so the aggregated sums —
  * and therefore the learned weights — are bit-identical across
  * partitionings and cluster sizes (the same mechanism that makes the
  * k-means/centroid paths bit-stable). Weights live driver-side (k+1
  * doubles) and ship with each step's closure; the feature projection
  * is planned once, so driver pacing is `steps` jobs with no Catalyst
  * round between them — the documented bounded regime, like
  * `Bpe.trainVocab`.
  *
  * Fixed-point overflow headroom: per-row gradient magnitude is
  * bounded by |err|·|x|·2^24 ≲ 2^27 for basis-point-scaled features,
  * so the long sums hold to ~2^36 rows (~7e10). Beyond that, shrink
  * Scale or average per-partition partials first.
  */
object QualityModel {
  final val Scale = 16777216.0 // 2^24 fixed point

  /** The exact per-row forward pass both the distributed step and the
    * in-memory reference evaluate: left-associated dot, then the
    * standard logistic. Shared here so the spec's reference loop is
    * the same arithmetic by construction. `StrictMath.exp` is what
    * Catalyst's `exp` calls ([[score]]); `Math.exp` may be a JIT
    * intrinsic that differs from it in the last bit. */
  def forward(w: Array[Double], x: Array[Double]): Double = {
    var m = w(0)
    var j = 0
    while (j < x.length) { m = m + w(j + 1) * x(j); j += 1 }
    1.0 / (1.0 + java.lang.StrictMath.exp(-m))
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
    * `labelCol` 0.0/1.0 double). Returns k+1 weights (bias first). A
    * row with a null feature or label contributes no gradient. */
  def train(feats: DataFrame, featCols: Seq[String], labelCol: String,
            lr: Double, steps: Int): Array[Double] = {
    val k = featCols.size
    // Planned once: a projection over the pinned feature table, with no
    // exchange for AQE to re-plan.
    val rows = feats.select((featCols :+ labelCol).map(c => col(c).cast("double")): _*).rdd
    val n = rows.count().toDouble
    require(n > 0, "cannot train on an empty feature set")
    val w = Array.fill(k + 1)(0.0)
    for (_ <- 1 to steps) {
      val sums = rows.treeAggregate(new Array[Long](k + 1))(
        (acc, r) => gradient(w, r, acc),
        (a, b) => { for (j <- 0 to k) a(j) += b(j); a })
      for (j <- 0 to k) w(j) = w(j) + lr * (sums(j) / Scale) / n
    }
    w
  }

  /** Add one row's fixed-point gradient (features, then label) to `acc`. */
  private def gradient(w: Array[Double], r: Row, acc: Array[Long]): Array[Long] = {
    if (!r.anyNull) {
      val x = Array.tabulate(acc.length - 1)(r.getDouble)
      val err = r.getDouble(x.length) - forward(w, x)
      acc(0) += math.floor(err * Scale).toLong
      var j = 0
      while (j < x.length) { acc(j + 1) += math.floor(err * x(j) * Scale).toLong; j += 1 }
    }
    acc
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
