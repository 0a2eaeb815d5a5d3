package graft

import graft.sinks.Compactor

class CompactorSpec extends SparkSpec {
  import spark.implicits._

  test("compactLake shrinks fragmented partitions, preserves data, then no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/lake"
    val df = (0 until 2000).map(i => (i.toLong, i % 3, s"row_$i")).toDF("id", "p", "payload")
    // fragment: 16 files per partition (a streaming sink's typical debris)
    df.repartition(16).write.partitionBy("p").parquet(dir)
    val parts = Compactor.partitionDirs(spark, dir)
    assert(parts.length === 3)
    val before = spark.read.parquet(dir)
      .select("id", "p", "payload").as[(Long, Int, String)].collect().toSet
    val results = Compactor.compactLake(spark, dir, targetBytes = 512L * 1024 * 1024)
    assert(results.length === 3)
    assert(results.forall(r => r.compacted && r.filesBefore === 16 && r.filesAfter === 1),
      results.mkString("; "))
    val after = spark.read.parquet(dir)
      .select("id", "p", "payload").as[(Long, Int, String)].collect().toSet
    assert(after === before, "compaction must not change a single row")
    // second run: already compact, nothing read or rewritten
    val again = Compactor.compactLake(spark, dir, targetBytes = 512L * 1024 * 1024)
    assert(again.forall(r => !r.compacted && r.filesAfter === 1))
  }

  test("under reliable pins compaction snapshots the partition into the checkpoint dir") {
    val rs = SparkSpec.reliableSession()
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_rel").toString + "/lake"
    val df = rs.createDataFrame((0 until 600).map(i => (i.toLong, i % 2, s"row_$i")))
      .toDF("id", "p", "payload")
    df.repartition(8).write.partitionBy("p").parquet(dir)
    def rows() = rs.read.parquet(dir)
      .select("id", "p", "payload").as[(Long, Int, String)].collect().toSet
    def checkpointFiles(): Int = spark.sparkContext.getCheckpointDir.fold(0) { d =>
      val root = new org.apache.hadoop.fs.Path(d)
      val it = root.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(root, true)
      var n = 0
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
    val before = rows()
    val filesBefore = checkpointFiles()
    val results = Compactor.compactLake(rs, dir, targetBytes = 512L * 1024 * 1024)
    assert(results.length === 2)
    assert(results.forall(r => r.compacted && r.filesBefore === 8 && r.filesAfter === 1),
      results.mkString("; "))
    assert(rows() === before, "compaction must not change a single row")
    assert(checkpointFiles() > filesBefore,
      "the pre-overwrite snapshot must be a reliable checkpoint under reliable=true")
  }
}
