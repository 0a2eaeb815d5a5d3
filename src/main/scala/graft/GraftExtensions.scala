package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expressions._

/** The one way graft's native functions, the `TopKPerGroup` planner
  * strategy and the `TopKRewrite` optimizer rule enter a session:
  * `spark.sql.extensions=graft.GraftExtensions` (GraftSession sets it;
  * `newSession()` children inherit it). The Column builders on the
  * expression companions only `call_udf` these names, so a session
  * built without the extension fails at analysis with Spark's
  * unresolved-routine error. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    // inert unless spark.graft.topk.autoRewrite=true
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    for ((name, usage, build) <- GraftExtensions.functions)
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in"),
        build))
  }
}

object GraftExtensions {
  /** The function catalog: (SQL name, usage, builder). */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", "vec_dot(a, b) - in-order double dot product of two float arrays",
      FloatVecDot.build _),
    ("vec_q8", "vec_q8(v) - per-vector symmetric int8 quantization of array<float>",
      Int8Vec.buildQ8 _),
    ("vec_dot_i8", "vec_dot_i8(a, b) - integer dot product of two array<tinyint>",
      Int8Vec.buildDot _),
    ("lsh_bands", "lsh_bands(v, n_bands, band_bits, plane_offset) - hyperplane-LSH band keys of an array<float>",
      LshBands.build _),
    ("nearest_centroid", "nearest_centroid(v, centroids) - index of the nearest centroid in a literal array<array<float>>",
      NearestCentroid.build _),
    ("shingle_hashes", "shingle_hashes(text, n) - distinct rolling hashes of word n-grams",
      ShingleHashes.build _),
    ("rolling_hash", "rolling_hash(text, base, mod) - polynomial rolling hash over char codes",
      RollingHash.build _),
    ("rolling_hash_all", "rolling_hash_all(text, k, base, mod) - rolling hashes of every k-char window",
      RollingHashAll.build _),
    ("simhash_bits", "simhash_bits(text) - 64 SimHash bits over word 3-gram shingles",
      SimHashBits.build _),
    ("simhash64", "simhash64(text) - packed 64-bit SimHash (bit j == simhash_bits(text)[j])",
      SimHashPacked.build _),
    ("deflate_len", "deflate_len(s) - zlib-deflate compressed length of a string/binary",
      DeflateLen.build _),
    ("lev_within", "lev_within(a, b, k) - thresholded levenshtein: distance when <= k, -1 over",
      LevWithin.build _),
    ("charbag64", "charbag64(s) - packed 16x4-bit code-point-class histogram of a string",
      CharBag64.buildBag _),
    ("bag_dist_lb", "bag_dist_lb(a, b) - edit-distance lower bound from two packed char bags",
      CharBag64.buildLb _),
    ("bloom_probe", "bloom_probe(key, bitset, n_hashes) - bigint key membership in a literal array<bigint> Bloom bitset",
      BloomProbe.build _),
    ("cms_merge", "cms_merge(sk) - distributed merge of serialized count-min sketches",
      CmsMergeAgg.buildMerge _),
    ("cms_estimate", "cms_estimate(sk, key) - CMS point count estimate for a bigint key",
      CmsMergeAgg.buildEstimate _),
    ("cms_estimate_all", "cms_estimate_all(sk, keys) - CMS point estimates for an array<bigint>",
      CmsMergeAgg.buildEstimateAll _))
}
