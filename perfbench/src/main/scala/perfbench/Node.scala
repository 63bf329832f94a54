package perfbench

import java.lang.management.ManagementFactory
import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.sources.{EthBlock, EthLog, SyntheticRpc, TooManyResultsException}

/** Loopback Ethereum JSON-RPC node owned by the benchmark. graft reaches it
  * through its real `rpc=http` path (`HttpRpc`), so the transport, JSON
  * decoding and bisection are all exercised, while the chain itself is
  * `SyntheticRpc`'s deterministic one.
  *
  *  - `/` serves `eth_blockNumber`, `eth_getLogs` and `eth_getBlockByNumber`
  *    with no result cap; `/capped` refuses any `eth_getLogs` answer over
  *    `cap` results with the "query returned more than N results" error a
  *    hosted node sends.
  *  - Every call costs a fixed `serviceMs` of wall time on top of its own
  *    (cheap, hand-encoded) work, standing in for a remote node.
  *  - The head stays at `h0` until [[startAdvancing]], then grows by
  *    `headRate` blocks per second on the node's own clock (open loop);
  *    [[createdAtUs]] is each new block's creation stamp.
  *
  * TCP_NODELAY must be on (`sun.net.httpserver.nodelay=true`, read when the
  * JDK server class loads): without it each small request/response pair
  * waits out a delayed ACK, ~45 ms per call, and the node rather than graft
  * would set the scan rate.
  */
final class Node(seed: Long, h0: Long, serviceMs: Long, cap: Int, headRate: Double, threads: Int) {
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private val chain = new SyntheticRpc(seed, Long.MaxValue)
  private val cappedChain = new SyntheticRpc(seed, Long.MaxValue, maxResults = cap)
  private val mapper = new ObjectMapper()
  private val cpu = ManagementFactory.getThreadMXBean

  @volatile private var advanceStartUs = -1L

  def startAdvancing(): Unit = advanceStartUs = Trace.nowUs()

  def head: Long = headAt(Trace.nowUs())

  def headAt(us: Long): Long =
    if (advanceStartUs < 0 || us < advanceStartUs) h0
    else h0 + ((us - advanceStartUs) * headRate / 1e6).toLong

  /** Epoch micros at which block `b` (> h0) appeared at the head. */
  def createdAtUs(b: Long): Long = advanceStartUs + math.ceil((b - h0) * 1e6 / headRate).toLong

  // ---- counters (read as snapshots; a window's figures are differences) ----
  private val getLogsCalls, getBlockCalls, blockNumberCalls, refusals = new AtomicLong
  private val rowsServed, bytesServed, busyCpuNs, handlerUs = new AtomicLong
  private val clients = ConcurrentHashMap.newKeySet[String]()

  def snapshot(): Map[String, Double] = Map(
    "get_logs_calls" -> getLogsCalls.get.toDouble,
    "get_block_calls" -> getBlockCalls.get.toDouble,
    "block_number_calls" -> blockNumberCalls.get.toDouble,
    "cap_refusals" -> refusals.get.toDouble,
    "rows_served" -> rowsServed.get.toDouble,
    "bytes_served" -> bytesServed.get.toDouble,
    "busy_cpu_ms" -> busyCpuNs.get / 1e6,
    "handler_ms" -> handlerUs.get / 1e3,
    "connections" -> clients.size.toDouble)

  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new AtomicLong
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"perfbench-node-${n.incrementAndGet()}")
      t.setDaemon(true); t
    }
  })
  private val server = HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex, capped = false))
  server.createContext("/capped", (ex: HttpExchange) => handle(ex, capped = true))
  server.setExecutor(pool)
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/"
  val cappedUrl: String = url + "capped"

  def stop(): Unit = { server.stop(0); pool.shutdownNow() }

  private def handle(ex: HttpExchange, capped: Boolean): Unit = {
    val t0 = Trace.nowUs()
    val (op, parent) = (Trace.currentOp, Trace.currentParent)
    val cpu0 = cpu.getCurrentThreadCpuTime
    clients.add(ex.getRemoteAddress.toString)
    var method = "unknown"
    try {
      val req = mapper.readTree(ex.getRequestBody.readAllBytes())
      method = req.path("method").asText()
      val sb = new java.lang.StringBuilder(1024)
      sb.append("{\"jsonrpc\":\"2.0\",\"id\":").append(req.path("id").toString).append(',')
      respond(method, req.path("params"), capped, sb)
      val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
      busyCpuNs.addAndGet(cpu.getCurrentThreadCpuTime - cpu0)
      Thread.sleep(serviceMs)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length)
      val os = ex.getResponseBody
      os.write(bytes); os.close()
      bytesServed.addAndGet(bytes.length)
    } catch {
      case e: Throwable =>
        ex.sendResponseHeaders(500, -1)
        System.err.println(s"[node] $method failed: $e")
    } finally {
      ex.close()
      val t1 = Trace.nowUs()
      handlerUs.addAndGet(t1 - t0)
      Trace.record(s"node.$method", op, parent, t0, t1)
    }
  }

  private def hexArg(n: JsonNode): Long = java.lang.Long.parseLong(n.asText().stripPrefix("0x"), 16)

  /** A filter field may be one string or an array of strings. */
  private def strings(n: JsonNode): Seq[String] =
    if (n.isMissingNode || n.isNull) Seq.empty
    else if (n.isArray) (0 until n.size).flatMap(i => strings(n.get(i)))
    else Seq(n.asText())

  private def respond(method: String, params: JsonNode, capped: Boolean, sb: java.lang.StringBuilder): Unit =
    method match {
      case "eth_blockNumber" =>
        blockNumberCalls.incrementAndGet()
        sb.append("\"result\":\"0x").append(java.lang.Long.toHexString(head)).append("\"}")
      case "eth_getBlockByNumber" =>
        getBlockCalls.incrementAndGet()
        val n = hexArg(params.get(0))
        sb.append("\"result\":")
        if (n > head) sb.append("null")
        else { encodeBlock(chain.getBlock(n).get, sb); rowsServed.incrementAndGet() }
        sb.append('}')
      case "eth_getLogs" =>
        getLogsCalls.incrementAndGet()
        val f = params.get(0)
        val from = hexArg(f.get("fromBlock"))
        val to = math.min(hexArg(f.get("toBlock")), head)
        // topics: slot 0 is the OR-set of topic0 values
        val topics = if (f.has("topics") && f.get("topics").size > 0) strings(f.get("topics").get(0)) else Seq.empty
        val rpc = if (capped) cappedChain else chain
        try {
          val logs = if (from > to) Seq.empty else rpc.getLogs(from, to, strings(f.path("address")), topics)
          rowsServed.addAndGet(logs.size)
          sb.append("\"result\":[")
          logs.iterator.zipWithIndex.foreach { case (l, i) =>
            if (i > 0) sb.append(',')
            encodeLog(l, sb)
          }
          sb.append("]}")
        } catch {
          case e: TooManyResultsException =>
            refusals.incrementAndGet()
            sb.append("\"error\":{\"code\":-32005,\"message\":\"").append(e.getMessage).append("\"}}")
        }
      case other =>
        sb.append("\"error\":{\"code\":-32601,\"message\":\"method not found: ").append(other).append("\"}}")
    }

  private def hexQ(v: Long): String = "0x" + java.lang.Long.toHexString(v)

  private def str(sb: java.lang.StringBuilder, k: String, v: String): Unit =
    sb.append('"').append(k).append("\":\"").append(v).append("\",")

  private def arr(sb: java.lang.StringBuilder, k: String, vs: Seq[String]): Unit = {
    sb.append('"').append(k).append("\":[")
    vs.iterator.zipWithIndex.foreach { case (v, i) =>
      if (i > 0) sb.append(',')
      sb.append('"').append(v).append('"')
    }
    sb.append(']')
  }

  // every value is hex or a fixed token, so nothing needs JSON escaping
  private def encodeLog(l: EthLog, sb: java.lang.StringBuilder): Unit = {
    sb.append('{')
    str(sb, "address", l.address); str(sb, "data", l.data)
    str(sb, "blockNumber", hexQ(l.blockNumber)); str(sb, "transactionHash", l.transactionHash)
    str(sb, "transactionIndex", hexQ(l.transactionIndex)); str(sb, "blockHash", l.blockHash)
    str(sb, "logIndex", hexQ(l.logIndex))
    sb.append("\"removed\":").append(l.removed).append(',')
    arr(sb, "topics", l.topics)
    sb.append('}')
  }

  private def encodeBlock(b: EthBlock, sb: java.lang.StringBuilder): Unit = {
    sb.append('{')
    str(sb, "number", hexQ(b.number)); str(sb, "hash", b.hash); str(sb, "parentHash", b.parentHash)
    str(sb, "nonce", b.nonce); str(sb, "sha3Uncles", b.sha3Uncles); str(sb, "logsBloom", b.logsBloom)
    str(sb, "transactionsRoot", b.transactionsRoot); str(sb, "stateRoot", b.stateRoot)
    str(sb, "receiptsRoot", b.receiptsRoot); str(sb, "author", b.author); str(sb, "miner", b.miner)
    str(sb, "mixHash", b.mixHash); str(sb, "difficulty", b.difficulty)
    str(sb, "totalDifficulty", b.totalDifficulty); str(sb, "extraData", b.extraData)
    str(sb, "size", hexQ(b.size)); str(sb, "gasLimit", hexQ(b.gasLimit))
    str(sb, "gasUsed", hexQ(b.gasUsed)); str(sb, "timestamp", hexQ(b.timestamp))
    arr(sb, "transactions", b.transactions); sb.append(',')
    arr(sb, "uncles", b.uncles); sb.append(',')
    arr(sb, "sealFields", b.sealFields)
    sb.append('}')
  }
}
