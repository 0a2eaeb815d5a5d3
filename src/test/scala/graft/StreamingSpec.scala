package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.streaming.EventStream
import graft.queries.EventQueries

class StreamingSpec extends SparkSpec {

  test("file-streamed hopping agg is a subset-consistent twin of the batch one") {
    // ev_hopping_agg's claim is "batch twin of a sliding-window
    // stream": drive the SAME window(ts, 1h, 30m) aggregation through
    // a watermarked stream and require every emitted window to match
    // the batch answer exactly.
    val tmp = java.nio.file.Files.createTempDirectory("grafthop").toFile.getAbsolutePath
    val batchEvents = graft.sources.TableLoader.loadEvents(spark, Sf)
    batchEvents.write.mode("overwrite").parquet(tmp)
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n_events"))
    val q = agg(spark.readStream.schema(batchEvents.schema).parquet(tmp)
        .withWatermark("ts", "2 hours"))
      .writeStream.format("memory").queryName("graft_hop_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("graft_hop_test").collect().map(_.toSeq).toSet
    val batch = agg(batchEvents).collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch))
    // only trailing windows still inside watermark + window may be held
    val maxStart = batch.map(_.head.asInstanceOf[java.sql.Timestamp].getTime).max
    assert((batch -- streamed).forall(
      _.head.asInstanceOf[java.sql.Timestamp].getTime >= maxStart - 3L * 3600 * 1000))
  }

  test("file-streamed tumbling agg equals the batch aggregation") {
    // Stream the events table (ts normalized to micros first, written as
    // proper timestamps so readStream sees a supported type).
    val tmp = java.nio.file.Files.createTempDirectory("graftstream").toFile.getAbsolutePath
    val batchEvents = graft.sources.TableLoader.loadEvents(spark, Sf)
    batchEvents.write.mode("overwrite").parquet(tmp)

    val q = EventStream.runFileStream(spark, tmp, "graft_stream_test")
    q.awaitTermination(120000)

    val streamed = spark.table("graft_stream_test")
      .select("window_start", "event_type", "n_events", "value_cents")
      .collect().map(_.toSeq).toSet
    val batch = EventStream.tumblingAgg(batchEvents)
      .collect().map(_.toSeq).toSet
    // Append mode emits a window only once the watermark passes its end:
    // everything emitted must match batch exactly, and the only missing
    // windows are the trailing ones still within watermark+window of the
    // stream's end.
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch))
    val maxStart = batch.map(_.head.asInstanceOf[java.sql.Timestamp].getTime).max
    val missing = batch -- streamed
    assert(missing.forall(
      _.head.asInstanceOf[java.sql.Timestamp].getTime >= maxStart - 2L * 3600 * 1000))
  }

  test("foreachBatch lake sink lands micro-batches via the idempotent writer") {
    val tmp = java.nio.file.Files.createTempDirectory("graftstream2").toFile.getAbsolutePath
    val lake = java.nio.file.Files.createTempDirectory("graftlake2").toFile.getAbsolutePath + "/agg"
    graft.sources.TableLoader.loadEvents(spark, Sf)
      .write.mode("overwrite").parquet(tmp)
    val q = EventStream.runLakeSink(spark, tmp, lake)
    q.awaitTermination(120000)
    val landed = spark.read.parquet(lake)
    assert(landed.count() > 0)
    assert(landed.columns.contains("event_type")) // partition column survives
    // Partition layout: window identity is the outer partition level so a
    // later batch's dynamic overwrite can never clobber earlier windows.
    assert(new java.io.File(lake).listFiles().exists(_.getName.startsWith("window_time=")))
  }

  test("lake sink does not lose earlier windows when later batches land") {
    // Two sink runs over a growing source simulate a continuous stream
    // where windows for the same event_type finalize in different
    // micro-batches. With event_type-only partitioning the second run's
    // dynamic overwrite would delete the first run's windows; with
    // window-identity partitioning everything survives.
    val src = java.nio.file.Files.createTempDirectory("graftstream3").toFile.getAbsolutePath
    val lake = java.nio.file.Files.createTempDirectory("graftlake3").toFile.getAbsolutePath + "/agg"
    // Checkpointed: the second run resumes from committed offsets and its
    // batch contains ONLY the new windows — exactly the case where an
    // event_type-keyed overwrite would delete the first run's windows.
    val ckpt = Some(java.nio.file.Files.createTempDirectory("graftckpt3").toFile.getAbsolutePath)
    val events = graft.sources.TableLoader.loadEvents(spark, Sf)
    val cut = events.selectExpr("timestamp_micros((unix_micros(min(ts)) + unix_micros(max(ts))) DIV 2) AS c")
      .collect()(0).getTimestamp(0)
    events.filter(col("ts") <= lit(cut)).write.mode("overwrite").parquet(src)
    EventStream.runLakeSink(spark, src, lake, ckpt).awaitTermination(120000)
    val firstRun = spark.read.parquet(lake)
      .select("window_start", "event_type", "n_events", "value_cents")
      .collect().map(_.toSeq).toSet
    assert(firstRun.nonEmpty)
    events.filter(col("ts") > lit(cut)).write.mode("append").parquet(src)
    EventStream.runLakeSink(spark, src, lake, ckpt).awaitTermination(120000)
    val afterSecond = spark.read.parquet(lake)
      .select("window_start", "event_type", "n_events", "value_cents")
      .collect().map(_.toSeq).toSet
    assert(firstRun.subsetOf(afterSecond), "windows landed by the first run were lost")
    assert(afterSecond.size > firstRun.size, "second run landed no new windows")
  }

  test("streaming upsert sink converges the lake to the exact batch answer") {
    val src = java.nio.file.Files.createTempDirectory("graftstream4").toFile.getAbsolutePath
    val lake = java.nio.file.Files.createTempDirectory("graftlake4").toFile.getAbsolutePath + "/agg"
    val ckpt = Some(java.nio.file.Files.createTempDirectory("graftckpt4").toFile.getAbsolutePath)
    val events = graft.sources.TableLoader.loadEvents(spark, Sf)
    val cut = events.selectExpr("timestamp_micros((unix_micros(min(ts)) + unix_micros(max(ts))) DIV 2) AS c")
      .collect()(0).getTimestamp(0)
    // two checkpointed incremental runs: update-mode state carries over,
    // so windows straddling the cut are REFRESHED in place by run 2
    events.filter(col("ts") <= lit(cut)).write.mode("overwrite").parquet(src)
    EventStream.runUpsertSink(spark, src, lake, ckpt).awaitTermination(120000)
    events.filter(col("ts") > lit(cut)).write.mode("append").parquet(src)
    EventStream.runUpsertSink(spark, src, lake, ckpt).awaitTermination(120000)
    val lakeRows = spark.read.parquet(lake)
      .select("window_start", "event_type", "n_events", "value_cents")
      .collect().map(_.toSeq).toSet
    val batch = EventStream.tumblingAgg(events)
      .collect().map(_.toSeq).toSet
    assert(lakeRows === batch,
      s"lake diverged: missing=${(batch -- lakeRows).size} extra=${(lakeRows -- batch).size}")
  }

  test("batch streamingParity query shape matches tumblingAgg query") {
    val a = EventQueries.streamingParity(spark, Sf).collect().map(_.toSeq)
    val b = EventQueries.tumblingAgg(spark, Sf).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("a repeated stream drain commits one state partition per slot and compiles nothing") {
    // State partitions follow the session's shuffle partitions (no
    // per-query override), and the second start of the same stream
    // reuses the first one's generated classes. The context's listener
    // bus carries the stream events of every session; a listener on the
    // caller's `spark.streams` must hear the dedup stream too, so the
    // stream runs in the caller's session, not in a child.
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val partitions = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val progress = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Integer]()
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: QueryStartedEvent =>
          if (e.name.startsWith("graft_stream_dedup_")) started.add(e.runId)
        case e: QueryProgressEvent =>
          if (e.progress.name.startsWith("graft_stream_dedup_")) {
            progress.merge(e.progress.runId, 1, (a: Integer, b: Integer) => a + b)
            e.progress.stateOperators.foreach(op => partitions.add(op.numShufflePartitions))
          }
        case e: QueryTerminatedEvent => ended.add(e.runId)
        case _ =>
      }
    }
    val heard = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val sessionListener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (e.name.startsWith("graft_stream_dedup_")) heard.add(e.runId)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(sessionListener)
    val compiles = try {
      val first = EventQueries.streamDedup(spark, Sf).collect().toSeq
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val second = EventQueries.streamDedup(spark, Sf)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(first.nonEmpty && second.collect().toSeq === first)
      eventually(timeout(60.seconds)) {
        assert(started.size === 2 && ended.containsAll(started))
        assert(heard.asScala === started.asScala)
      }
      compiled
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.streams.removeListener(sessionListener)
    }
    val slots = spark.conf.get("spark.sql.shuffle.partitions").toLong
    assert(!partitions.isEmpty)
    assert(partitions.asScala.forall(_ == slots), partitions.asScala.mkString(", "))
    assert(compiles === 0)
    // one micro-batch per call, with no session setting changed: the
    // trailing no-data batch is skipped by this stream's trigger only
    assert(progress.keySet.asScala === started.asScala)
    assert(progress.values.asScala.forall(_ == 1), progress.asScala.mkString(", "))
    assert(spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") === "true")
    // the sessionizer still needs its no-data batch to close the last
    // session of every user: it must equal its batch twin
    val sessions = EventQueries.streamSessions(spark, Sf)
      .select("user_id", "session_seq", "n_events", "start_us", "end_us", "value_cents")
      .collect().map(_.toSeq).toSeq
    assert(sessions.nonEmpty && sessions === EventQueries.sessionize(spark, Sf).collect().map(_.toSeq).toSeq)
  }

  test("a stream drain leaves no checkpoint under a configured location") {
    val key = "spark.sql.streaming.checkpointLocation"
    val location = java.nio.file.Files.createTempDirectory("graftckptloc").toFile
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, location.getAbsolutePath)
    try assert(EventQueries.streamDedup(spark, Sf).count() > 0)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(location.list().isEmpty, location.list().mkString(", "))
  }
}
