package graft

import org.apache.spark.sql.functions._
import graft.expressions.SimHashBits.simhashBitsNative
import graft.functions.TextFunctions.wordShingles

class SimHashNativeSpec extends SparkSpec {

  test("native simhash_bits equals the Column-composition reference on the corpus") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    // reference: distinct word-3-gram shingle strings (whole doc when <3
    // words) -> xxhash64 -> +-1 votes per bit
    val features = array_distinct(
      when(size(wordShingles(col("text"))) > 0, wordShingles(col("text")))
        .otherwise(array(col("text"))))
    val featHashes = transform(features, t => xxhash64(t))
    val refBits = array((0 until 64).map { j =>
      when(aggregate(featHashes, lit(0L),
        (acc, t) => acc + when(shiftrightunsigned(t, j).bitwiseAND(1) === 1, 1L).otherwise(-1L)) > 0,
        1L).otherwise(0L)
    }: _*)
    val both = docs.select(refBits.as("ref"), simhashBitsNative(spark, col("text")).as("fast"))
    assert(both.where(not(col("ref") === col("fast"))).count() === 0)
    // short-doc edge cases
    import spark.implicits._
    val edge = Seq("one", "a b", "a b c").toDF("text")
    val eb = edge.select(refBits.as("ref"), simhashBitsNative(spark, col("text")).as("fast"))
    assert(eb.where(not(col("ref") === col("fast"))).count() === 0)
  }

  test("packed simhash64 is bit-for-bit the packing of simhash_bits") {
    import graft.expressions.SimHashPacked.simhash64Native
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    // pack the array form and compare to the packed kernel:
    // bit j of simhash64 == simhash_bits[j]
    val packedFromBits = expr(
      "aggregate(zip_with(simhash_bits(text), sequence(0, 63), " +
        "(b, j) -> shiftleft(b, j)), 0L, (acc, v) -> acc | v)")
    val both = spark.read.parquet(s"$Sf/documents.parquet")
      .select(packedFromBits.as("ref"), simhash64Native(spark, col("text")).as("fast"))
    assert(both.where(not(col("ref") === col("fast"))).count() === 0)
  }
}
