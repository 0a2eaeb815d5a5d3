package graft.streaming

import graft.sources.TableLoader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Structured Streaming surface over the events table: the same tumbling
  * window aggregation the batch query `ev_tumbling_agg` declares, run
  * incrementally with a watermark so state is bounded — the plan shape
  * is identical batch vs stream, which is the point of declaring it
  * with DataFrame ops.
  *
  * At scale: watermark bounds state store size; the aggregation is
  * partial-agg friendly; the sink below uses `foreachBatch` so each
  * micro-batch lands with the same idempotent partitioned writer the
  * batch path uses.
  */
object EventStream {

  /** Tumbling hourly aggregation with a 1-hour watermark. Works on any
    * events-shaped DataFrame, batch or streaming. */
  def tumblingAgg(events: DataFrame, windowDur: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("value_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_cents"))

  /** Stream the tumbling aggregation into the partitioned lake via
    * foreachBatch: each micro-batch lands through the same idempotent
    * dynamic-partition-overwrite writer the batch path uses.
    *
    * The partition key MUST uniquely identify the window (window_time
    * = formatted window_start), not just event_type: in a continuous
    * stream, windows for the same event_type finalize across different
    * micro-batches, and overwriting an event_type-only (or day-only —
    * two batches can emit different hours of the same day) partition
    * would delete windows landed by earlier batches. With partition ==
    * window identity, a dynamic overwrite can only ever replace a
    * replay of the same finalized window — exactly-once landing on top
    * of at-least-once delivery, with no cross-batch data loss. Append
    * mode + watermark guarantees each window is emitted in exactly one
    * batch, so distinct windows never share a partition write. */
  def runLakeSink(spark: SparkSession, eventsDir: String, lakePath: String,
                  checkpointDir: Option[String] = None): StreamingQuery = {
    val stream = spark.readStream.schema(TableLoader.schemaOf(spark, eventsDir)).parquet(eventsDir)
    val writer = tumblingAgg(stream)
      .withColumn("window_time", date_format(col("window_start"), "yyyy-MM-dd'T'HH-mm-ss"))
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sinks.PartitionedWriter.write(batch, lakePath, Seq("window_time", "event_type"))
        ()
      }
      .trigger(Trigger.AvailableNow())
    // With a checkpoint, a restarted sink resumes from the last committed
    // source offsets (incremental landing) and a replayed batch rewrites
    // exactly its own window partitions.
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** Streaming MERGE sink: the tumbling aggregation in UPDATE mode,
    * each micro-batch's refreshed rows upserted into the lake by window
    * identity (last-writer-wins on batch id). Unlike the append sink,
    * the lake always holds the CURRENT value of every window — in-flight
    * windows are refreshed in place as late-but-within-watermark events
    * arrive, and a checkpointed restart keeps aggregation state, so the
    * lake converges to exactly the batch answer. Merge cost per batch
    * follows the touched day-partitions, not lake size. */
  def runUpsertSink(spark: SparkSession, eventsDir: String, lakePath: String,
                    checkpointDir: Option[String] = None): StreamingQuery = {
    val stream = spark.readStream.schema(TableLoader.schemaOf(spark, eventsDir)).parquet(eventsDir)
    val writer = tumblingAgg(stream)
      .withColumn("window_date", to_date(col("window_start")))
      .writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sinks.UpsertWriter.upsert(
          batch.withColumn("_v", lit(batchId)), lakePath,
          keyCols = Seq("window_start", "event_type"),
          partitionCols = Seq("window_date"), versionCol = "_v")
        ()
      }
      .trigger(Trigger.AvailableNow())
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** File-based streaming read of an events parquet directory, processed
    * with availableNow (bounded backfill) into an in-memory sink;
    * returns the query for the caller to await. */
  def runFileStream(spark: SparkSession, eventsDir: String, queryName: String): StreamingQuery = {
    val stream = spark.readStream.schema(TableLoader.schemaOf(spark, eventsDir)).parquet(eventsDir)
    tumblingAgg(stream)
      .writeStream
      .queryName(queryName)
      .outputMode(OutputMode.Append)
      .format("memory")
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
