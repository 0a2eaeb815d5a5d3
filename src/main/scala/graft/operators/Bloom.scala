package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-filter semi-join pruning — the 100 TB shuffle reducer for
  * fact⋈dim joins whose dim is too large to broadcast as ROWS but whose
  * KEY SET fits a few hundred KB of bits: build a Bloom filter over the
  * dim keys, filter the fact scan with it BEFORE the shuffle, then run
  * the real join to remove the false positives. The result is exactly
  * the plain join (Bloom filters have no false negatives — spec'd), but
  * the fact side shuffles only rows whose key *might* match, cutting
  * shuffled bytes by the selectivity of the dim key set at ~1% false
  * positive overhead.
  *
  * This is the user-facing twin of Spark's own runtime row-level
  * filtering (`spark.sql.optimizer.runtime.bloomFilter.enabled`), which
  * only triggers on selective scan filters the optimizer can see; here
  * the build side can be ANY DataFrame (an aggregate, yesterday's hot
  * keys, a dedup survivor set), and the filter composes with every join
  * type downstream.
  *
  * Everything stays in whole-stage codegen: bit positions come from
  * `nHashes` salted `xxhash64` calls, the build is an explode +
  * `bit_or` aggregation over (word, mask) pairs (shuffles at most
  * nBits/64 rows, with map-side partial OR), and the probe tests bits
  * against the bitset compiled into the plan as an array literal —
  * no UDF, no driver-side row loop (the bitset collect is bounded by
  * nBits/64 longs, e.g. 16 KiB at nBits=2^17, the same order as the
  * broadcast Spark's runtime filter ships).
  */
object Bloom {

  /** Bit positions for a key: h_i = xxhash64(key, i) mod nBits. Salting
    * by the hash index makes the nHashes probes independent. */
  private def positions(key: Column, nBits: Int, nHashes: Int): Seq[Column] =
    (0 until nHashes).map(i => pmod(xxhash64(key, lit(i)), lit(nBits.toLong)))

  /** xxhash64 hashes INT and BIGINT values differently, so a 32-bit
    * fact key probed against a 64-bit dim key (or vice versa) would
    * silently yield false negatives. Widen every integral key to long
    * before hashing so build and probe always agree. */
  private def canonKey(df: DataFrame, keyCol: String): Column =
    df.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
        col(keyCol).cast("long")
      case _ => col(keyCol)
    }

  private def canonType(df: DataFrame, keyCol: String): org.apache.spark.sql.types.DataType =
    df.select(canonKey(df, keyCol)).schema.head.dataType

  /** The bitset as ROWS (word index, 64-bit word) — the STORABLE shape:
    * bitsets over the same (nBits, nHashes) geometry OR-merge by word
    * index, so a lake-committed Bloom filter is incrementally
    * maintainable (a new key batch appends its own word rows; serving
    * `bit_or`s per word across versions) without ever rescanning the
    * historical key set. Distributed explode + map-side-partial OR;
    * at most nBits/64 rows survive the aggregation. */
  def bitsetWords(build: DataFrame, keyCol: String,
                  nBits: Int = 1 << 17, nHashes: Int = 3): DataFrame = {
    require(nBits % 64 == 0, s"nBits=$nBits must be a multiple of 64")
    build.select(explode(array(
        positions(canonKey(build, keyCol), nBits, nHashes): _*)).as("pos"))
      .select((col("pos") / 64).cast("int").as("word"),
        // functions.shiftleft only takes a literal shift; the SQL
        // function accepts a column one.
        call_function("shiftleft", lit(1L), (col("pos") % 64).cast("int")).as("mask"))
      .groupBy(col("word")).agg(bit_or(col("mask")).as("bits"))
  }

  /** Assemble (word, bits) rows into the dense Array[Long] the probe
    * compiles into the plan. The collect is bounded by nBits/64 longs
    * (16 KiB at nBits=2^17) regardless of key-set size. */
  def bitsetFromWords(words: Array[(Int, Long)], nBits: Int): Array[Long] = {
    require(nBits % 64 == 0, s"nBits=$nBits must be a multiple of 64")
    val bitset = new Array[Long](nBits / 64)
    words.foreach { case (w, b) => bitset(w) = b }
    bitset
  }

  /** Build the bitset for the distinct keys of `build(keyCol)`:
    * Array[Long] of length nBits/64, little-endian bit order within a
    * word. Distributed OR-aggregation; only the finished words reach
    * the driver. */
  def buildBitset(build: DataFrame, keyCol: String,
                  nBits: Int = 1 << 17, nHashes: Int = 3): Array[Long] = {
    val spark = build.sparkSession
    import spark.implicits._
    bitsetFromWords(
      bitsetWords(build, keyCol, nBits, nHashes).as[(Int, Long)].collect(), nBits)
  }

  /** Membership test against a bitset: true iff every salted hash
    * position is set. False positives possible (rate ~(1-e^{-kn/m})^k),
    * false negatives never. `buildBitset` widens integral build keys to
    * long before hashing, so an integral probe `key` must be cast to
    * long too (`prune` does this automatically; direct callers passing
    * an int column must cast).
    *
    * For BIGINT keys (every current consumer) the probe is the native
    * [[graft.expressions.BloomProbe]] kernel, whose bitset rides the
    * expression as a plain JVM array: the former Column formulation
    * inlined the bits as an `array<long>` literal REPEATED once per
    * salted hash, and catalyst + plan rendering paid for megabytes of
    * literal on every execution (~1.2-1.6 s driver latency per probing
    * query at the 2^17-bit default, growing with filter size). Bit
    * positions are identical (BloomProbeSpec pins equality against the
    * literal formulation), so stored bitsets keep matching. Non-long
    * keys keep the literal formulation. */
  def mightContain(key: Column, bitset: Array[Long], nHashes: Int = 3): Column =
    mightContainLiteral(key, bitset, nHashes)

  /** [[mightContain]] for BIGINT keys through the native `bloom_probe`
    * kernel. */
  def mightContain(spark: org.apache.spark.sql.SparkSession, key: Column,
                   bitset: Array[Long], nHashes: Int): Column =
    graft.expressions.BloomProbe.bloomProbe(spark, key, bitset, nHashes)

  /** The legacy literal-array formulation — kept for non-BIGINT keys
    * and as the spec's reference semantics. */
  private[graft] def mightContainLiteral(key: Column, bitset: Array[Long],
                                         nHashes: Int = 3): Column = {
    val nBits = bitset.length * 64
    val bitsetLit = typedLit(bitset.toSeq)
    positions(key, nBits, nHashes).map { pos =>
      (element_at(bitsetLit, (pos / 64).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), (pos % 64).cast("int")))) =!= 0L
    }.reduce(_ && _)
  }

  /** Fact rows whose `factKey` passes the Bloom filter built over
    * `build(buildKey)`'s keys — the pre-shuffle pruning step. Apply the
    * real join afterwards for exact semantics. */
  def prune(fact: DataFrame, factKey: String,
            build: DataFrame, buildKey: String,
            nBits: Int = 1 << 17, nHashes: Int = 3): DataFrame = {
    val ft = canonType(fact, factKey)
    val bt = canonType(build, buildKey)
    require(ft == bt,
      s"bloom prune key types must agree after integral widening: " +
        s"$factKey is $ft, $buildKey is $bt — xxhash64 would disagree " +
        s"and the no-false-negative contract would break silently")
    val bits = buildBitset(build, buildKey, nBits, nHashes)
    val key = canonKey(fact, factKey)
    fact.where(
      if (ft == org.apache.spark.sql.types.LongType)
        mightContain(fact.sparkSession, key, bits, nHashes)
      else mightContainLiteral(key, bits, nHashes))
  }
}
