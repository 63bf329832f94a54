package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.api.RequestRouter
import graft.arrow.ArrowEdge
import graft.sources.{EthSchemas, EthScan, SyntheticRpc}

/** Historical tickets, as the reference serves them: one closed-loop
  * client sends JSON tickets; each goes parse → route (`rpc=http` to the
  * loopback node) → `ArrowEdge.writeIpc`, and its latency runs from the
  * parse call to the last Arrow file closed.
  *
  * Tickets come in cycles of 20 with a fixed mix — 10 unfiltered `logs`
  * (1k–10k blocks), 3 `logs` filtered by contract addresses that exist in
  * the range, 3 `logs` filtered by 1–2 of the chain's 4 topic0 values,
  * 3 `blocks` (200–2,000 blocks) and 1 `logs` sent to the capped endpoint.
  * Spans sit at fixed strata of their ranges; the seed sets the ranges'
  * positions, the filters and the order, so every seed gives the same mix
  * of work. Ranges never repeat within a run.
  */
object TicketScan {
  val ChainSeed = 42L
  val Head = 50000000L
  val ServiceMs = 5L
  val Cap = 1000

  final case class Ticket(json: String, dataset: String, start: Long, end: Long,
      addresses: Seq[String], topics: Seq[String], capped: Boolean) {
    def blocks: Long = end - start + 1
  }

  private val chain = new SyntheticRpc(ChainSeed, Head)

  /** The chain's topic0 values, found by reading its logs. */
  lazy val topic0s: Seq[String] =
    Iterator.from(0).flatMap(b => chain.deliveredAt(b.toLong)).flatMap(_.topics.headOption)
      .scanLeft(Set.empty[String])(_ + _).find(_.size == 4).get.toSeq.sorted

  final class Gen(seed: Long) {
    private val rng = new scala.util.Random(seed)
    private var cursor = 1000000L + (seed.abs % 1000) * 1000

    private def range(span: Long): (Long, Long) = {
      val s = cursor + rng.nextInt(1000)
      cursor = s + span
      (s, s + span - 1)
    }
    /** n spans at the midpoints of n equal strata of [lo, hi]: every cycle,
      * whatever the seed, asks for the same amount of work.
      */
    private def strata(n: Int, lo: Long, hi: Long): Seq[Long] =
      (0 until n).map(i => lo + ((hi - lo) * (i + 0.5) / n).toLong)

    private def logs(span: Long, kind: String): Ticket = {
      val (s, e) = range(span)
      val addrs = if (kind != "addresses") Seq.empty else
        Iterator.continually(s + rng.nextInt(span.toInt)).map(b => chain.deliveredAt(b))
          .filter(_.nonEmpty).map(ls => ls(rng.nextInt(ls.size)).address).take(1 + rng.nextInt(3)).toSeq.distinct
      val topics = if (kind != "topics") Seq.empty else rng.shuffle(topic0s).take(1 + rng.nextInt(2)).sorted
      def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
      val json = s"""{"dataset":"logs","startBlock":"$s","endBlock":"$e"""" +
        (if (addrs.nonEmpty) s""","contractAddresses":${arr(addrs)}""" else "") +
        (if (topics.nonEmpty) s""","topics":${arr(topics)}""" else "") + "}"
      Ticket(json, "logs", s, e, addrs, topics, capped = kind == "capped")
    }

    private def blocks(span: Long): Ticket = {
      val (s, e) = range(span)
      Ticket(s"""{"dataset":"blocks","startBlock":$s,"endBlock":$e}""", "blocks", s, e, Nil, Nil, capped = false)
    }

    def cycle(): Seq[Ticket] = rng.shuffle(
      strata(10, 1000, 10000).map(logs(_, "plain")) ++
        strata(3, 1000, 10000).map(logs(_, "addresses")) ++
        strata(3, 1000, 10000).map(logs(_, "topics")) ++
        strata(3, 200, 2000).map(blocks) ++
        strata(1, 1000, 10000).map(logs(_, "capped")))

    /** Every ticket kind once, then enough mid-size scans that the JIT has
      * settled: with fewer, latency per block still falls across the first
      * measured cycle, and how fast it falls depends on the host's load.
      */
    def warmup(): Seq[Ticket] =
      Seq(logs(1000, "plain"), blocks(100), logs(2000, "addresses"), logs(2000, "topics"),
        logs(2000, "capped")) ++ Seq.fill(10)(logs(5000, "plain"))
  }

  def expected(t: Ticket): Digest =
    if (t.dataset == "blocks") Digest.ofProducts((t.start to t.end).flatMap(chain.getBlock))
    else Digest.ofProducts(chain.getLogs(t.start, t.end, t.addresses, t.topics))

  def run(ctx: Ctx): Unit = {
    import ctx._
    val node = new Node(ChainSeed, Head, ServiceMs, Cap, headRate = 0.0, threads = cores)
    res.info("node") = s"SyntheticRpc(seed $ChainSeed), head $Head, service ${ServiceMs}ms/call, cap $Cap results, $cores handler threads"
    val gen = new Gen(seed)
    var n = 0
    val traced = mutable.ArrayBuffer.empty[(Long, Double)] // (op, latency ms)
    var arrowRows = 0L

    // the traced run writes each ticket's rows once more from memory, so
    // arrow.write_ms holds the Arrow edge alone, without the scan
    val arrowMs = mutable.ArrayBuffer.empty[(Double, Long, Long, Int)] // ms, rows, bytes, batches
    def arrowProbe(t: Ticket, out: ArrowOut): Unit = {
      val schema = EthSchemas.forDataset(t.dataset)
      val df = spark.createDataFrame(
        java.util.Arrays.asList(out.rows.map(r => Row.fromSeq(r)): _*), schema)
      val dir = ctx.dir(s"arrow/probe$n")
      val (_, ms) = Main.timeMs(ArrowEdge.writeIpc(df, dir))
      arrowMs += ((ms, out.digest.rows, out.bytes, out.batches))
      deleteTree(dir)
    }

    /** One ticket; returns its latency (ms), or None if it failed or was wrong. */
    def one(t: Ticket, keep: Boolean): Option[Double] = {
      n += 1
      val dir = ctx.dir(s"arrow/t$n")
      var op = 0L
      val result = try {
        val (_, ms) = Main.timeMs(Trace.op("ticket") {
          op = Trace.currentOp
          probes.tagThread()
          val req = Trace.span("api.parse")(RequestRouter.parseTicket(t.json))
          val url = if (t.capped) node.cappedUrl else node.url
          val df = Trace.span("api.route")(RequestRouter.route(spark, req, Map("rpc" -> "http", "url" -> url)))
          Trace.span("arrow.writeIpc")(ArrowEdge.writeIpc(df, dir))
          if (Trace.enabled) probes.planPhases(df.queryExecution, op, Trace.currentRoot)
        })
        if (Trace.enabled) probes.drain()
        val out = ArrowOut.read(dir)
        if (out.digest != expected(t)) {
          System.err.println(s"[ticket_scan] wrong output for ${t.json}: ${out.digest} != ${expected(t)}")
          None
        } else {
          if (keep) {
            arrowRows += out.digest.rows
            if (Trace.enabled) arrowProbe(t, out)
          }
          Some(ms)
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[ticket_scan] ticket failed: ${t.json}: $e")
          None
      }
      deleteTree(dir)
      if (keep) {
        res.attempted += 1
        result match {
          case Some(ms) =>
            res.sample("latency_ms", ms)
            res.values("blocks") = res.values.getOrElse("blocks", 0.0) + t.blocks
            if (Trace.enabled) traced += ((op, ms))
          case None => res.failed += 1
        }
      }
      result
    }

    gen.warmup().foreach { t => one(t, keep = false).foreach(ms => Main.mark(f"warm-up ticket ${t.dataset} ${t.blocks} blocks: $ms%.0f ms")) }
    res.ready()

    val node0 = node.snapshot()
    val fetched0 = EthScan.FetchedBlocks.get()
    val gc0 = Jvm.gcMs
    Jvm.resetPeak()
    Trace.enabled = trace
    // whole cycles; the measured time is the tickets' own, since the output
    // checks run between them
    var busyMs = 0.0
    do gen.cycle().foreach { t =>
      val ms = one(t, keep = true).getOrElse(0.0)
      busyMs += ms
      Main.mark(f"ticket ${t.dataset}${if (t.capped) " capped" else ""} ${t.blocks} blocks: $ms%.0f ms")
    }
    while (busyMs / 1000.0 < seconds)
    Trace.enabled = false
    res.values("throughput_per_s") = res.values.getOrElse("blocks", 0.0) / (busyMs / 1000.0)
    res.values("throughput_samples") = res.attempted.toDouble
    if (trace) {
      val ops = traced.size.toDouble
      val nodeD = node.snapshot().map { case (k, v) => k -> (v - node0(k)) }
      Rpc.values(res, nodeD, ops, busyMs, arrowRows.toDouble)
      val spans = Trace.all
      def meanSpan(name: String) = {
        val xs = spans.filter(_.name == name).map(s => (s.endUs - s.startUs) / 1000.0)
        if (xs.isEmpty) 0.0 else xs.sum / xs.size
      }
      res.values("api.parse_ms") = meanSpan("api.parse")
      res.values("api.route_ms") = meanSpan("api.route")
      val layers = Probes.layerValues(probes, traced.toMap, cores)
      layers.foreach { case (k, v) => res.values(k) = v }
      res.values("scan.partitions") = layers("exec.tasks")
      res.values("scan.task_ms") = layers("exec.task_ms")
      res.values("scan.fetched_blocks") = (EthScan.FetchedBlocks.get() - fetched0) / ops
      val aMs = arrowMs.map(_._1).sum
      res.values("arrow.write_ms") = aMs / arrowMs.size
      res.values("arrow.rows_per_s") = arrowMs.map(_._2).sum / (aMs / 1000.0)
      res.values("arrow.mb_written") = arrowMs.map(_._3).sum / (1024.0 * 1024.0) / arrowMs.size
      res.values("arrow.record_batches") = arrowMs.map(_._4).sum.toDouble / arrowMs.size
      res.values("jvm.heap_peak_mb") = Jvm.heapPeakMb
      res.values("jvm.gc_ms") = Jvm.gcMs - gc0
    }
    res.info("http_client") = s"${node.snapshot()("connections").toInt} distinct client sockets seen by the node"
    node.stop()
  }

  def deleteTree(dir: String): Unit = {
    val f = new java.io.File(dir)
    Option(f.listFiles()).foreach(_.foreach(c => if (c.isDirectory) deleteTree(c.getPath) else c.delete()))
    f.delete()
  }
}

/** Node-side counts over a window, per operation. */
object Rpc {
  def values(res: Results, d: Map[String, Double], ops: Double, wallMs: Double, rowsWritten: Double): Unit = {
    val per = math.max(ops, 1.0)
    res.values("rpc.get_logs_calls") = d("get_logs_calls") / per
    res.values("rpc.get_block_calls") = d("get_block_calls") / per
    res.values("rpc.block_number_calls") = d("block_number_calls") / per
    res.values("rpc.cap_refusals") = d("cap_refusals") / per
    res.values("rpc.refusal_ratio") =
      if (d("get_logs_calls") > 0) d("cap_refusals") / d("get_logs_calls") else 0.0
    res.values("rpc.rows_served") = d("rows_served") / per
    res.values("rpc.useful_row_ratio") = if (d("rows_served") > 0) rowsWritten / d("rows_served") else 0.0
    res.values("rpc.mb_served") = d("bytes_served") / (1024.0 * 1024.0) / per
    res.values("rpc.connections") = d("connections")
    res.values("rpc.inflight_mean") = if (wallMs > 0) d("handler_ms") / wallMs else 0.0
    res.values("rpc.node_busy_ms") = d("busy_cpu_ms") / per
  }
}
