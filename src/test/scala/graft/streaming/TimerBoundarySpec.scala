package graft.streaming

import graft.SparkSpec
import graft.operators.Artifacts
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Pins the timer-expiry comparison of transformWithState event-time
  * timers at EXACT equality — the one boundary x46's fixture sweeps can
  * never exercise (its timers and watermarks differ by hours). MEASURED:
  * a timer registered at T FIRES in a batch whose watermark is exactly T
  * — expiry is NON-STRICT (timer ≤ watermark), and x46's oracle arms use
  * `timer_ms <= wm` to match. Constructed input: watermark delay 0 s,
  * one tracked user whose timer lands exactly ON the final watermark,
  * and one user safely BELOW it (the control that must always fire).
  */
class TimerBoundarySpec extends SparkSpec {

  test("event-time timer at exactly the watermark FIRES (non-strict <=)") {
    val s = spark
    import s.implicits._
    val srcDir = Artifacts.newDir("timer_src")
    val ckpt = Artifacts.newDir("timer_ckpt")
    // user 1: first event at 10,000 ms → timer at 15,000 ms (= horizon 5 s)
    // user 2: first event at 5,000 ms → timer at 10,000 ms (control, < wm)
    // carrier: max event time 15,000 ms, delay 0 s → final wm = 15,000 ms
    val b0 = Seq((1L, 101L, 10000000L), (2L, 102L, 5000000L))
    val b1 = Seq((3L, 103L, 15000000L))
    def write(rows: Seq[(Long, Long, Long)], sub: String): Unit =
      rows.toDF("user_id", "event_id", "us")
        .withColumn("ts", timestamp_micros(col("us")))
        .coalesce(1).write.parquet(s"$srcDir/$sub")
    write(b0, "b0"); write(b1, "b1")
    new java.io.File(s"$srcDir/b0").listFiles()
      .foreach(_.setLastModified(System.currentTimeMillis() - 120000L))
    val providerConf = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(providerConf)
    s.conf.set(providerConf,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val schema = s.read.parquet(s"$srcDir/b0").schema
      val in = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(srcDir)
        .withWatermark("ts", "0 seconds")
        .as[StreamOps.SnapEvent]
      val sq = StreamOps.snapshotStream(in, horizonMs = 5000L).toDF()
        .writeStream.format("memory").queryName("timer_boundary")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      sq.awaitTermination()
      val fired = s.table("timer_boundary").select("user_id").collect()
        .map(_.getLong(0)).toSet
      assert(fired.contains(2L),
        "control user below the watermark must fire — the timer machinery itself is broken")
      // THE BOUNDARY PIN: timer_ms == watermark_ms FIRES (measured on
      // Spark 4.1.2). If a Spark upgrade flips this to strict <, x46's
      // oracle arms (timer_ms <= wm) must flip with it — this assertion
      // is the tripwire.
      assert(fired.contains(1L),
        "timer at EXACTLY the watermark did NOT fire — expiry became strict (<); flip x46's oracle comparisons")
    } finally {
      prev match {
        case Some(p) => s.conf.set(providerConf, p)
        case None => s.conf.unset(providerConf)
      }
    }
  }
}
