package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._

/** StreamShape's batch queries pin window SEMANTICS against the DuckDB
  * oracle; this spec proves the same logical program runs as a real
  * Structured Streaming query over the same parquet (file stream source +
  * watermark) and produces the identical result — the "batch-pins-
  * streaming" contract claimed in StreamShape's scaladoc.
  */
class StreamShapeStreamingSpec extends SparkSpec {

  test("tumbling window over a file stream == x01 batch result") {
    // as-written schema (ts physical type varies by fixture generation —
    // Catalog.normalizeEventTs owns the mapping to TimestampType)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // the file stream source wants a directory — stage the fixture file
    val dir = java.nio.file.Paths.get(graft.operators.Artifacts.newDir("graft_events_stream"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    // one parquet file = one micro-batch; maxFilesPerTrigger exercises
    // incremental processing even on a single file
    val stream = graft.operators.Catalog.normalizeEventTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir.toString))
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"))
    val q = stream.writeStream.format("memory").queryName("x01_stream")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000L)

    val streamed = spark.table("x01_stream").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.operators.Catalog.byName("x01_tumbling_window")
      .build(spark, sfDir)
      .select("win_start", "event_type", "n").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // append mode withholds windows the watermark hasn't closed; with
    // AvailableNow + 1-minute watermark only the final window can be open
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch), s"stream rows absent from batch: ${streamed.diff(batch).take(3)}")
    val openable = batch.map(_._2).size
    assert(streamed.size >= batch.size - batch.map(_._2).toSeq.distinct.size,
      s"too few closed windows: ${streamed.size} of ${batch.size}")
  }

  test("x13 streaming decontamination report == d16 batch report") {
    val stream = graft.operators.Catalog.byName("x13_stream_decontaminate")
      .build(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val batch = graft.operators.Catalog.byName("d16_contamination_report")
      .build(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(stream === batch)
    assert(stream.nonEmpty, "fixture has no contamination — spec exercises nothing")
  }
}
