package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.operators.Pin
import graft.operators.Pin.PinOps

/** Small-files compaction for a partitioned parquet lake.
  *
  * Streaming micro-batches and incremental backfills leave partitions
  * with many small files; every subsequent scan then pays per-file
  * open/footer/list costs and loses row-group locality — at 100 TB the
  * object-store LIST and GET overheads of a million tiny files dominate
  * entire queries. Compaction rewrites a partition directory to
  * ceil(bytes / targetBytes) files and nothing else: partition values
  * are encoded in the directory path, so untouched partitions are never
  * read, listed, or rewritten (cost ∝ the partitions compacted, like
  * UpsertWriter).
  *
  * The rewrite is self-overwriting, so the partition's rows are
  * materialized (an eager [[graft.operators.Pin]]) BEFORE the overwrite
  * severs them from the source files — bounded by one partition's data
  * by construction. Under `spark.graft.checkpoint.reliable=true` that
  * snapshot is a reliable checkpoint, so an executor lost during the
  * write cannot take the partition's only copy with it.
  * Swap-via-rename is no safer on object stores (rename is not atomic
  * there either) and costs a second copy.
  */
object Compactor {

  case class CompactionResult(dir: String, filesBefore: Int, filesAfter: Int,
                              bytes: Long, compacted: Boolean)

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Leaf partition directories (those containing data files, not
    * subdirectories) under a lake root. */
  def partitionDirs(spark: SparkSession, root: String): Seq[String] = {
    val f = fs(spark, root)
    def walk(p: Path): Seq[Path] = {
      val entries = f.listStatus(p).filterNot(_.getPath.getName.startsWith("_"))
      val (dirs, files) = entries.partition(_.isDirectory)
      if (dirs.isEmpty) { if (files.nonEmpty) Seq(p) else Seq.empty }
      else dirs.flatMap(d => walk(d.getPath)).toSeq
    }
    walk(new Path(root)).map(_.toString)
  }

  /** Compact ONE partition directory to ~targetBytes files. No-op (and
    * no data read) when the directory already has few enough files. */
  def compactPartition(spark: SparkSession, dir: String,
                       targetBytes: Long = 128L * 1024 * 1024,
                       codec: String = "zstd"): CompactionResult = {
    val f = fs(spark, dir)
    val files = f.listStatus(new Path(dir))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
    val bytes = files.map(_.getLen).sum
    val targetFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    if (files.length <= targetFiles)
      return CompactionResult(dir, files.length, files.length, bytes, compacted = false)
    // Materialize before overwriting the files being read.
    val df = spark.read.parquet(dir).pin(true)
    df.repartition(targetFiles).write
      .mode("overwrite").option("compression", codec).parquet(dir)
    Pin.release(df)
    val after = f.listStatus(new Path(dir))
      .count(s => s.isFile && !s.getPath.getName.startsWith("_"))
    CompactionResult(dir, files.length, after, bytes, compacted = true)
  }

  /** Compact every leaf partition of a lake that exceeds its target
    * file count. Returns one result per partition visited. */
  def compactLake(spark: SparkSession, root: String,
                  targetBytes: Long = 128L * 1024 * 1024,
                  codec: String = "zstd"): Seq[CompactionResult] =
    partitionDirs(spark, root).map(compactPartition(spark, _, targetBytes, codec))
}
