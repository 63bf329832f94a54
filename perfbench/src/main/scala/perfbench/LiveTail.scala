package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api.RequestRouter
import graft.arrow.ArrowEdge
import graft.sources.SyntheticRpc
import graft.streaming.StreamOps

/** A live subscription: backfill, then tail an advancing head.
  *
  * `{"dataset":"logs","startBlock":H0-50000,"topics":[2 of 4],"batch_size":2000}`
  * goes through `RequestRouter.route` against the loopback node, whose head
  * starts at H0 and then advances at 20 blocks/s on its own clock (open
  * loop). The `foreachBatch` sink re-applies `StreamOps.clientFilter`, as
  * the reference re-filters per client, and writes each batch with
  * `ArrowEdge.writeIpc`. Latency runs from a block's creation stamp at the
  * node to the return of the sink call of the batch that carried it.
  */
object LiveTail {
  val ChainSeed = 42L
  val ServiceMs = 5L
  val HeadRate = 20.0
  val Backfill = 50000L
  val BatchSize = 2000L

  def run(ctx: Ctx): Unit = {
    import ctx._
    val rng = new scala.util.Random(seed)
    val h0 = 30000000L + (seed.abs % 1000) * 100000L
    val start = h0 - Backfill
    val topics = rng.shuffle(TicketScan.topic0s).take(2).sorted
    val node = new Node(ChainSeed, h0, ServiceMs, Int.MaxValue, HeadRate, threads = cores)
    res.info("node") = s"SyntheticRpc(seed $ChainSeed), head $h0 then +$HeadRate blocks/s, " +
      s"service ${ServiceMs}ms/call, no cap, $cores handler threads"
    val sinkReturn = new ConcurrentHashMap[Long, Long]() // batch id → epoch µs
    val sinkMs = new ConcurrentHashMap[Long, (Double, Boolean)]() // batch id → (sink ms, traced)
    val batchOp = new ConcurrentHashMap[Long, Long]() // batch id → operation id

    def subscribe(from: Long, name: String, url: String): StreamingQuery = {
      val ticket = s"""{"dataset":"logs","startBlock":$from,""" +
        s""""topics":${topics.map("\"" + _ + "\"").mkString("[", ",", "]")},"batch_size":$BatchSize}"""
      val df = RequestRouter.route(spark, RequestRouter.parseTicket(ticket), Map("rpc" -> "http", "url" -> url))
      val out = ctx.dir(s"$name-out")
      df.writeStream.queryName(name)
        .option("checkpointLocation", ctx.dir(s"$name-ckpt"))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val traced = Trace.enabled
          val (_, ms) = Main.timeMs(Trace.op("batch") {
            batchOp.put(id, Trace.currentOp)
            probes.tagThread()
            val client = Trace.span("stream.clientFilter")(StreamOps.clientFilter(batch, Nil, topics))
            Trace.span("arrow.writeIpc")(ArrowEdge.writeIpc(client, s"$out/b$id"))
          })
          sinkReturn.put(id, Trace.nowUs())
          sinkMs.put(id, (ms, traced))
          ()
        }.start()
    }

    // warm-up: the same subscription code over 2,500 blocks below the
    // measured range (a second node whose head ends there), drained and
    // stopped before anything is timed
    val warmNode = new Node(ChainSeed, start - 2000, ServiceMs, Int.MaxValue, HeadRate, threads = cores)
    val warm = subscribe(start - 4500, "warm", warmNode.url)
    warm.processAllAvailable()
    warm.stop()
    warmNode.stop()
    probes.drain()
    probes.progress.clear()
    sinkReturn.clear(); sinkMs.clear()
    res.ready()

    val q = subscribe(start, "live", node.url)
    node.startAdvancing()
    val t0 = Trace.nowUs()
    val deadline = System.nanoTime() + 100L * 1000000000L
    def committedEnd = probes.progress.asScala.map(_.endOffset).maxOption.getOrElse(-1L)
    while (committedEnd < h0 && q.exception.isEmpty && System.nanoTime() < deadline) Thread.sleep(5)
    val catchupBatch = probes.progress.asScala.find(_.endOffset >= h0).map(_.batchId)
    val catchupUs = catchupBatch.flatMap(b => Option(sinkReturn.get(b))).map(_.longValue)

    val node0 = mutable.Map.empty[String, Double]
    var tracedFromUs = Long.MaxValue
    var gc0 = 0.0
    if (trace) {
      node0 ++= node.snapshot()
      gc0 = Jvm.gcMs
      Jvm.resetPeak()
      tracedFromUs = Trace.nowUs()
      Trace.enabled = true
    }
    Thread.sleep((seconds * 1000).toLong)
    Trace.enabled = false
    val tracedToUs = Trace.nowUs()
    val failure = q.exception.map(_.toString)
    q.stop()
    probes.drain()
    failure.foreach(f => System.err.println(s"[live_tail] query failed: $f"))

    // ---- correctness: every block in [start, last committed] exactly once ----
    val batches = probes.progress.asScala.toSeq.filter(p => sinkReturn.containsKey(p.batchId))
      .groupBy(_.batchId).map(_._2.head).toSeq.sortBy(_.batchId)
    val last = batches.map(_.endOffset).maxOption.getOrElse(start - 1)
    val expectedBlocks = math.max(1L, last - start + 1)
    val covered = new Array[Int](expectedBlocks.toInt)
    def first(b: BatchProgress) = if (b.startOffset == Long.MinValue) start else b.startOffset + 1
    batches.foreach(b => (first(b) to b.endOffset).foreach { blk =>
      if (blk >= start && blk <= last) covered((blk - start).toInt) += 1
    })
    val delivered = mutable.HashMap.empty[(Long, Int), Int]
    batches.foreach { b =>
      ArrowEdge.readIpc(s"$root/live-out/b${b.batchId}").foreach { r =>
        val key = (r(3).asInstanceOf[Long], r(7).asInstanceOf[Int])
        delivered(key) = delivered.getOrElse(key, 0) + 1
      }
    }
    val chain = new SyntheticRpc(ChainSeed, Long.MaxValue)
    val expectedKeys = if (last < start) Set.empty[(Long, Int)]
      else chain.getLogs(start, last, Nil, topics).map(l => (l.blockNumber, l.logIndex)).toSet
    val badBlocks = mutable.Set.empty[Long]
    covered.zipWithIndex.foreach { case (c, i) => if (c != 1) badBlocks += start + i }
    expectedKeys.foreach(k => if (delivered.getOrElse(k, 0) != 1) badBlocks += k._1)
    delivered.keys.foreach(k => if (!expectedKeys.contains(k)) badBlocks += k._1)
    res.attempted = expectedBlocks
    res.failed = if (failure.isDefined || catchupUs.isEmpty) expectedBlocks else badBlocks.size.toLong
    if (badBlocks.nonEmpty)
      System.err.println(s"[live_tail] ${badBlocks.size} blocks missing or duplicated, e.g. ${badBlocks.take(5)}")

    // ---- latency of blocks created after catch-up ----
    val from = catchupUs.getOrElse(Long.MaxValue)
    val lat = mutable.ArrayBuffer.empty[(Long, Double)] // (created µs, latency ms)
    batches.foreach { b =>
      val ret = sinkReturn.get(b.batchId)
      (first(b) to b.endOffset).foreach { blk =>
        if (blk > h0 && node.createdAtUs(blk) >= from) lat += ((node.createdAtUs(blk), (ret - node.createdAtUs(blk)) / 1000.0))
      }
    }
    catchupUs.foreach(c => res.values("throughput_per_s") = (h0 - start + 1) / ((c - t0) / 1e6))
    res.values("throughput_samples") = 1
    lat.foreach { case (_, ms) => res.sample("latency_ms", ms) }
    if (trace) {
      val tracedLat = lat.filter(_._1 >= tracedFromUs).map(_._2).toSeq
      val tb = batches.filter(b => sinkMs.get(b.batchId)._2)
      val windowMs = (tracedToUs - tracedFromUs) / 1000.0
      val n = math.max(1, tb.size).toDouble
      def phase(k: String) = tb.map(_.durations.getOrElse(k, 0L).toDouble).sum / n
      val blocksPer = tb.map(b => (b.endOffset - first(b) + 1).toDouble)
      res.values("stream.batches") = tb.size
      res.values("stream.blocks_per_batch_p50") = Stats.percentile(blocksPer, 50)
      Seq("latestOffset" -> "latest_offset", "getBatch" -> "get_batch", "queryPlanning" -> "query_planning",
        "addBatch" -> "add_batch", "walCommit" -> "wal_commit").foreach { case (k, m) =>
        res.values(s"stream.${m}_ms") = phase(k)
      }
      res.values("stream.trigger_ms_p50") = Stats.percentile(tb.map(_.durations.getOrElse("triggerExecution", 0L).toDouble), 50)
      res.values("stream.idle_ms") = math.max(0.0, windowMs - tb.map(_.durations.getOrElse("triggerExecution", 0L)).sum) / n
      res.values("stream.backlog_max_blocks") =
        tb.map(b => (node.headAt(b.receivedUs) - b.endOffset).toDouble).maxOption.getOrElse(0.0)
      res.values("stream.latency_p99_ms") = Stats.percentile(tracedLat, 99)
      val d = node.snapshot().map { case (k, v) => k -> (v - node0(k)) }
      val rowsWritten = tb.map(_.rows.toDouble).sum
      Rpc.values(res, d, n, windowMs, rowsWritten)
      res.values("rpc.polls_per_block") = d("block_number_calls") / math.max(1.0, windowMs / 1000.0 * HeadRate)
      val ops = tb.flatMap(b => Option(batchOp.get(b.batchId)).map(op => op.longValue -> sinkMs.get(b.batchId)._1)).toMap
      val layers = Probes.layerValues(probes, ops, cores)
      layers.foreach { case (k, v) => res.values(k) = v }
      res.values("scan.partitions") = layers("exec.tasks")
      res.values("scan.task_ms") = layers("exec.task_ms")
      res.values("scan.fetched_blocks") = blocksPer.sum / n
      res.values("plan.physical_ms") = phase("queryPlanning")
      res.values("arrow.write_ms") = Trace.all.filter(_.name == "arrow.writeIpc").map(s => (s.endUs - s.startUs) / 1000.0).sum / n
      res.values("jvm.heap_peak_mb") = Jvm.heapPeakMb
      res.values("jvm.gc_ms") = Jvm.gcMs - gc0
    }
    node.stop()
  }
}
