package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.model.PagesSynth
import graft.pipeline.QualityPipeline

/** Streaming face (SURVEY §2.9): the pipeline is stateless per-row, so the
  * same transform runs unchanged under Structured Streaming; plus a
  * watermarked windowed aggregation over the events table. Batch parquet
  * drives the streams synchronously via the memory sink.
  */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Await an AvailableNow query's self-termination; on timeout STOP it
    * before failing — a still-running zombie instance would otherwise race
    * the next query on the same checkpoint's state store (observed as
    * failedToCommitStateFileError flakes under full-suite load). */
  private def awaitDone(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val done = q.awaitTermination(300000)
    if (!done) {
      q.stop()
      fail("streaming query did not terminate within 300s")
    }
  }

  test("quality pipeline runs unchanged as a streaming query") {
    val dir = Files.createTempDirectory("stream_pages").toString
    val pages = PagesSynth.pages(spark, 200, 4)
    pages.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(pages.schema).parquet(dir)
    val q = QualityPipeline(stream).writeStream
      .outputMode("append").format("memory").queryName("pipe_stream")
      .trigger(Trigger.AvailableNow()).start()
    awaitDone(q)

    val streamed = spark.table("pipe_stream")
      .select("url", "scrubbed_text", "keep")
    val batch = QualityPipeline(pages).select("url", "scrubbed_text", "keep")
    assert(streamed.count() == 200)
    assert(streamed.exceptAll(batch).count() == 0L)
    assert(batch.exceptAll(streamed).count() == 0L)
  }

  test("watermarked tumbling-window aggregation over events") {
    val dir = Files.createTempDirectory("stream_events").toString
    // driver parquet carries TIMESTAMP_NTZ; watermarks need TIMESTAMP (LTZ)
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    events.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(events.schema).parquet(dir)
    val agg = stream
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("ev_stream")
      .trigger(Trigger.AvailableNow()).start()
    awaitDone(q)

    // append mode emits only closed windows; compare against the batch agg
    // restricted to the same closed windows
    val streamed = spark.table("ev_stream")
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    val batch = events
      .groupBy(window(col("ts"), "5 minutes").getField("start").as("ws"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0L,
      "closed streamed windows must match batch aggregation")
  }
}
