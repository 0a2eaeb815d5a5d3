package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{Dedup, PlanCache}

/** Pins the session lifecycle of the DataFrame-pinning cache: a
  * retired child session's entries are purged (explicitly via
  * onSessionEnd — Spark has no per-child-session stop event) while a
  * live session's entries survive, and the context-stop listener path
  * empties everything for a stopping SparkContext.
  */
class SessionCacheLifecycleSpec extends SparkSpec {

  test("onSessionEnd purges the retired session's entries; live sessions survive") {
    PlanCache.clear()
    val s2 = spark.newSession()
    val live = PlanCache.memo(spark, "lifecycle:live") {
      spark.range(3).toDF("id")
    }
    PlanCache.memo(s2, "lifecycle:dead")(s2.range(5).toDF("id"))
    assert(PlanCache.size === 2)

    GraftSession.onSessionEnd(s2)
    assert(PlanCache.size === 1)
    // The live session still HITS (same memoized frame back)...
    val hit = PlanCache.memo(spark, "lifecycle:live") {
      fail("live session's entry must not have been purged")
    }
    assert(hit eq live)
    // ...and the dead session's key is gone: a re-memo rebuilds.
    var rebuilt = false
    PlanCache.memo(s2, "lifecycle:dead") {
      rebuilt = true; s2.range(5).toDF("id")
    }
    assert(rebuilt)
    GraftSession.onSessionEnd(s2)
    PlanCache.clear()
  }

  test("onSessionEnd purges the retired session's CC label tables; live survive") {
    PlanCache.clear()
    val s2 = spark.newSession()
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val pairs2 = {
      import s2.implicits._
      Seq((1L, 2L), (5L, 6L)).toDF("id1", "id2")
    }
    Dedup.connectedComponents(pairs).count()
    Dedup.connectedComponents(pairs2).count()
    assert(PlanCache.size === 2)
    GraftSession.onSessionEnd(s2)
    assert(PlanCache.size === 1)
    // live session's entry still present (memo hit leaves size at 1)
    Dedup.connectedComponents(pairs).count()
    assert(PlanCache.size === 1)
    PlanCache.clear()
  }

  test("clear releases a persisted entry's cached blocks") {
    import graft.operators.Pin.PinOps
    PlanCache.clear()
    val df = PlanCache.memo(spark, "lifecycle:persisted") {
      spark.range(137).toDF("lifecycle_clear").pinPartitioned
    }
    df.count()
    assert(df.storageLevel === StorageLevel.MEMORY_AND_DISK)
    // The CacheManager is shared by every session of the context: an
    // entry dropped without a release would hold its blocks until the
    // context stops.
    PlanCache.clear()
    assert(df.storageLevel === StorageLevel.NONE)
  }

  test("a retired child session that used every Column builder is collectable") {
    val ref = useEveryBuilderInChild()
    var rounds = 0
    while (ref.get != null && rounds < 20) {
      System.gc(); Thread.sleep(100); rounds += 1
    }
    assert(ref.get == null, s"child session still reachable after $rounds GC rounds")
  }

  /** Resolves every public native-function Column builder in a fresh
    * child session, then lets the child go; only a weak reference
    * escapes. */
  private def useEveryBuilderInChild(): java.lang.ref.WeakReference[SparkSession] = {
    import graft.expressions._
    val s2 = spark.newSession()
    val in = s2.range(2).select(
      array(lit(1f), lit(2f)).as("v"), array(lit(1.toByte), lit(2.toByte)).as("q"),
      lit("a b c d").as("t"), col("id").as("k"), lit(Array.emptyByteArray).as("sk"))
    val cols = Seq(
      FloatVecDot.vecDot(s2, col("v"), col("v")),
      Int8Vec.vecQ8(s2, col("v")),
      Int8Vec.vecDotI8(s2, col("q"), col("q")),
      LshBands.lshBands(s2, col("v"), 2, 4),
      NearestCentroid.nearestCol(s2, col("v"), Array(Array(1f, 0f), Array(0f, 1f))),
      ShingleHashes.shingleHashesNative(s2, col("t")),
      RollingHash.rollingHashNative(s2, col("t"), 31L, 1000000007L),
      RollingHashAll.rollingHashAllNative(s2, col("t"), 3, 31L, 1000000007L),
      SimHashBits.simhashBitsNative(s2, col("t")),
      SimHashPacked.simhash64Native(s2, col("t")),
      DeflateLen.deflateLenNative(s2, col("t")),
      LevWithin.levCol(s2, col("t"), col("t"), 2),
      CharBag64.bagCol(s2, col("t")),
      CharBag64.lbCol(s2, col("k"), col("k")),
      BloomProbe.bloomProbe(s2, col("k"), Array(1L, 2L), 3),
      graft.operators.Bloom.mightContain(s2, col("k"), Array(1L, 2L), 3),
      CmsMergeAgg.estimateCol(s2, col("sk"), col("k")),
      CmsMergeAgg.estimateAllCol(s2, col("sk"), array(col("k"))))
    // analysis runs in the child: each name resolves from its registry
    assert(in.select(cols: _*).schema.size === cols.size)
    assert(in.agg(CmsMergeAgg.mergeCol(s2, col("sk"))).schema.size === 1)
    new java.lang.ref.WeakReference(s2)
  }

  test("a stopping SparkContext purges every entry of its sessions (listener path)") {
    PlanCache.clear()
    PlanCache.memo(spark, "lifecycle:ctx")(spark.range(2).toDF("id"))
    assert(PlanCache.size === 1)
    // The listener is registered on the shared test context; drive its
    // purge action directly (actually stopping the context would kill
    // every other suite sharing it).
    PlanCache.purgeContext(spark.sparkContext)
    assert(PlanCache.size === 0)
  }
}
