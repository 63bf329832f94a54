package graft.streaming

import graft.SparkSpec
import graft.operators.Drain
import org.apache.spark.sql.functions._

/** Stream/batch parity: the same logical program over the same synthetic
  * chain must produce identical results in micro-batch streaming (many
  * small triggers) and one-shot batch. This is the strongest form of the
  * reference's ordering/no-loss subscription tests
  * (SubscriptionTest.java:123-145) — and also covers the §8.3 duplicate
  * window the reference gets wrong.
  */
class StreamOpsSpec extends SparkSpec {

  private val head = 1500L

  private def batchLogs = spark.read.format("graft-eth")
    .option("dataset", "logs").option("startBlock", "0").option("endBlock", head)
    .option("head", head).load()

  test("windowed signature counts: streaming == batch") {
    val streamed = Drain.memory("sig_counts_stream",
      StreamOps.signatureCountsPerWindow(
        StreamOps.ethStream(spark, "logs", 200, head = head, options = Map("maxBlockRange" -> "100")),
        "1 hour", "1 minute"),
      "append")

    val batch = StreamOps.signatureCountsPerWindow(batchLogs, "1 hour", "0 seconds")

    val s = streamed.select("win_start", "sig", "n").collect()
      .map(r => (r.get(0).toString, r.getString(1), r.getLong(2))).toSet
    val b = batch.select("win_start", "sig", "n").collect()
      .map(r => (r.get(0).toString, r.getString(1), r.getLong(2))).toSet
    // append-mode emits only watermark-closed windows: with a 1-minute
    // watermark everything except (at most) the final in-progress window
    // closes. Every emitted row must match batch exactly.
    val openWindows = 2 // last window + watermark slack
    val sigsPerWindow = math.max(1, b.map(_._2).toSeq.distinct.size)
    assert(s.nonEmpty)
    assert(s.subsetOf(b), s"streamed rows not in batch: ${s.diff(b).take(5)}")
    assert(s.size >= b.size - openWindows * sigsPerWindow,
      s"too few closed windows: ${s.size} vs ${b.size}")
  }

  test("client filter parity with reference semantics on the stream") {
    val rpc = new graft.sources.SyntheticRpc(42, 1500)
    val all = rpc.getLogs(0, 1500, Seq.empty, Seq.empty)
    val someAddr = all.head.address
    val someTopic = all.find(_.topics.nonEmpty).get.topics.head

    val filtered = Drain.memory("client_filter_stream",
      StreamOps.clientFilter(
        StreamOps.ethStream(spark, "logs", 500, head = head),
        Seq(someAddr.toUpperCase), Seq(someTopic)),
      "append")

    val expected = all.filter(l =>
      l.address.equalsIgnoreCase(someAddr) &&
        (l.topics.isEmpty || l.topics.head == someTopic))
    assert(filtered.count() === expected.size)
  }

  test("streaming dedup passes each (block, logIndex) exactly once") {
    val deduped = Drain.memory("dedup_stream",
      StreamOps.dedupStream(
        StreamOps.ethStream(spark, "logs", 300, head = 900), "1 hour"),
      "append")
    val keys = deduped.select("blockNumber", "logIndex").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(keys.length === keys.distinct.length, "duplicates leaked through dedup")
    val expected = new graft.sources.SyntheticRpc(42, 900).getLogs(0, 900, Seq.empty, Seq.empty)
    assert(keys.length === expected.size)
  }

  test("stream-stream join enriches logs with block headers, both unbounded") {
    val logs = StreamOps.ethStream(spark, "logs", 300, head = 600)
    val blocks = StreamOps.ethStream(spark, "blocks", 300, head = 600)
    val joined = Drain.memory("ss_join_stream",
      StreamOps.logsWithBlocks(logs, blocks, "1 hour"),
      "append")
    val rpc = new graft.sources.SyntheticRpc(42, 600)
    val expectedLogs = rpc.getLogs(0, 600, Seq.empty, Seq.empty)
    assert(joined.count() === expectedLogs.size, "every log must find its block header")
    val r = joined.where(col("blockNumber") === 50).select("gasUsed").head
    assert(r.getLong(0) === rpc.getBlock(50).get.gasUsed)
  }

  test("typed mapGroupsWithState address activity matches batch aggregate") {
    val sessions = Drain.memory("addr_activity_stream",
      StreamOps.addressActivity(
        StreamOps.ethStream(spark, "logs", 400, head = 800).toDF()).toDF(),
      "update")

    // update-mode memory sink keeps every update; the last row per address
    // is the final state. Compare against the batch groupBy.
    val finalPerAddr = sessions.groupBy("address")
      .agg(max("n").as("n"), min("firstBlock").as("firstBlock"), max("lastBlock").as("lastBlock"))
    val batch = spark.read.format("graft-eth")
      .option("dataset", "logs").option("startBlock", "0").option("endBlock", "800")
      .option("head", "800").load()
      .groupBy("address")
      .agg(count(lit(1)).as("n"), min("blockNumber").as("firstBlock"), max("blockNumber").as("lastBlock"))
    val s = finalPerAddr.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val b = batch.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(s === b)
  }
}
