package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** HttpRpc against an in-process JSON-RPC stub: request encoding, response
  * decoding, node-cap error mapping (→ TooManyResultsException, the
  * bisection trigger), and transport retry — the testable core of the
  * reference's resilience envelope (LogsService.java:567-606,646-662) —
  * and the windowed `getBlocks` over the same path.
  */
class HttpRpcSpec extends AnyFunSuite with BeforeAndAfterAll with TimeLimits {

  private var server: HttpServer = _
  private var url: String = _
  private val failuresToInject = new AtomicInteger(0)
  private val serverErrorsToInject = new AtomicInteger(0)
  @volatile private var badRequestOnce = false
  @volatile private var lastBody: String = ""
  // Paths of their own for the window tests, so calls a cancelled window
  // already sent to `/` cannot reach their counts. `/window` serves each
  // call in 20 ms and counts the calls inside that time (before the response
  // goes out, so a call the client saw answered is never still counted);
  // `/polite` records arrival times (ns); `/head` counts eth_blockNumber calls.
  private val active, peakActive, headCalls = new AtomicInteger(0)
  private val politeArrivals = new ConcurrentLinkedQueue[java.lang.Long]()
  private val handlers = Executors.newCachedThreadPool()
  private val blockParam = """"params":\["(0x[0-9a-f]+)"""".r.unanchored

  private def takeBadRequest(): Boolean = synchronized {
    val bad = badRequestOnce
    badRequestOnce = false
    bad
  }

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(handlers)
    server.createContext("/", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      lastBody = body
      ex.getRequestURI.getPath match {
        case "/window" =>
          peakActive.accumulateAndGet(active.incrementAndGet(), (a, b) => math.max(a, b))
          try Thread.sleep(20) finally active.decrementAndGet()
        case "/polite" => politeArrivals.add(System.nanoTime())
        case "/head" if body.contains("eth_blockNumber") => headCalls.incrementAndGet()
        case _ =>
      }
      if (failuresToInject.getAndUpdate(n => math.max(0, n - 1)) > 0) {
        ex.close() // slam the connection → IOException client-side
      } else if (serverErrorsToInject.getAndUpdate(n => math.max(0, n - 1)) > 0) {
        val bytes = "boom".getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(503, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      } else if (takeBadRequest()) {
        val bytes = "<html>bad request</html>".getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(400, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      } else {
        val resp =
          if (body.contains("eth_blockNumber")) """{"jsonrpc":"2.0","id":1,"result":"0x64"}"""
          else if (body.contains("\"fromBlock\":\"0x10\"")) // range [16..n] → node cap
            """{"jsonrpc":"2.0","id":1,"error":{"code":-32005,"message":"query returned more than 10000 results"}}"""
          else if (body.contains("\"fromBlock\":\"0x20\"")) // range [32..n] → size cap, reference wording
            """{"jsonrpc":"2.0","id":1,"error":{"code":-32008,"message":"response is too big"}}"""
          else if (body.contains("\"0x7b\"") || body.contains("\"0x2d\"")) // block 123 or 45 → unknown block
            """{"jsonrpc":"2.0","id":1,"result":null}"""
          else if (body.contains("\"0x7c\"")) // block 124 → minimal header, optionals absent
            """{"jsonrpc":"2.0","id":1,"result":{"number":"0x7c","hash":"0xh"}}"""
          else if (body.contains("eth_getLogs"))
            """{"jsonrpc":"2.0","id":1,"result":[
                 {"address":"0xABCD","data":"0x00","topics":["0x11","0x22"],
                  "blockNumber":"0x2a","transactionHash":"0xth","transactionIndex":"0x1",
                  "blockHash":"0xbh","logIndex":"0x0","removed":false}]}"""
          else if (body.contains("eth_getBlockByNumber")) {
            val number = body match { case blockParam(n) => n } // echoed back
            s"""{"jsonrpc":"2.0","id":1,"result":{
                 "number":"$number","hash":"0xh","parentHash":"0xp","nonce":"0xn",
                 "sha3Uncles":"0xu","logsBloom":"0xb","transactionsRoot":"0xtr",
                 "stateRoot":"0xsr","receiptsRoot":"0xrr","miner":"0xMINER",
                 "mixHash":"0xm","difficulty":"0x10","totalDifficulty":"0xc70d815d562d3cfa955",
                 "extraData":"0xe","size":"0x1f4","gasLimit":"0x1c9c380","gasUsed":"0x5208",
                 "timestamp":"0x65600000","transactions":["0xt1","0xt2"],"uncles":[]}}"""
          }
          else """{"jsonrpc":"2.0","id":1,"error":{"message":"unknown method"}}"""
        val bytes = resp.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    url = s"http://127.0.0.1:${server.getAddress.getPort}/"
  }

  override def afterAll(): Unit = { server.stop(0); handlers.shutdownNow() }

  private def rpc = new HttpRpc(url, fetchDelayMs = 0, maxRetries = 3, initialBackoffMs = 10)

  test("blockNumber decodes hex quantity") {
    assert(rpc.blockNumber() === 100L)
  }

  test("getLogs encodes filter params per reference semantics and decodes rows") {
    val logs = rpc.getLogs(16 + 26, 100, Seq("0xAAAA", "0xBBBB"), Seq("0x11"))
    // address normalized to lowercase at ingest (reference quirk §8.5)
    assert(logs.head.address === "0xabcd")
    assert(logs.head.blockNumber === 42L)
    assert(logs.head.topics === Seq("0x11", "0x22"))
    assert(logs.head.transactionIndex === 1)
    // request carried addresses verbatim and all topics OR'd in slot 0
    // (reference: LogsService.java:384-386,548-556)
    assert(lastBody.contains(""""address":["0xAAAA","0xBBBB"]"""))
    assert(lastBody.contains(""""topics":[["0x11"]]"""))
  }

  test("node result-cap error maps to TooManyResultsException (bisection trigger)") {
    intercept[TooManyResultsException](rpc.getLogs(16, 700, Seq.empty, Seq.empty))
  }

  test("transport failures retry with backoff, then succeed") {
    failuresToInject.set(2) // two slammed connections, third attempt succeeds
    assert(rpc.blockNumber() === 100L)
  }

  test("getBlock decodes header incl. >int64 totalDifficulty kept as hex string") {
    val b = rpc.getBlock(42).get
    assert(b.number === 42L)
    assert(b.miner === "0xminer") // lowercased
    assert(b.totalDifficulty === "0xc70d815d562d3cfa955") // raw hex preserved
    assert(b.size === 500L)
    assert(b.gasUsed === 21000L)
    assert(b.transactions === Seq("0xt1", "0xt2"))
    assert(rpc.getBlock(42).isDefined)
  }

  test("getBlock of an unknown block (null result) is None") {
    assert(rpc.getBlock(123).isEmpty)
  }

  test("getBlock tolerates absent optional fields (null strings, zero quantities, empty arrays)") {
    val b = rpc.getBlock(124).get
    assert(b.number === 124L)
    assert(b.hash === "0xh")
    assert(b.author === null && b.miner === null && b.parentHash === null)
    assert(b.size === 0L && b.gasUsed === 0L && b.timestamp === 0L)
    assert(b.transactions === Seq.empty && b.uncles === Seq.empty && b.sealFields === Seq.empty)
  }

  test("'response is too big' (reference wording) maps to TooManyResultsException") {
    intercept[TooManyResultsException](rpc.getLogs(32, 700, Seq.empty, Seq.empty))
  }

  test("5xx responses retry like transport failures, then succeed") {
    serverErrorsToInject.set(2)
    assert(rpc.blockNumber() === 100L)
  }

  test("other non-2xx responses fail fast without JSON parsing") {
    badRequestOnce = true
    val e = intercept[RuntimeException](rpc.blockNumber())
    assert(e.getMessage.contains("400"))
    assert(rpc.blockNumber() === 100L) // flag consumed exactly once → no retry happened
  }

  private val knownBlocks = (40L to 50L).filter(_ != 45L) // the stub answers null for 45

  test("getBlocks returns the range in block order, dropping unknown blocks") {
    assert(rpc.getBlocks(40, 50).map(_.number).toSeq === knownBlocks)
  }

  test("getBlocks retries slammed connections inside the window and completes") {
    failuresToInject.set(2)
    assert(rpc.getBlocks(40, 50).map(_.number).toSeq === knownBlocks)
    assert(failuresToInject.get === 0)
  }

  test("getBlocks fails with getBlock's own non-2xx error, without hanging") {
    implicit val signaler: Signaler = ThreadSignaler
    badRequestOnce = true
    val e = failAfter(Span(30, Seconds)) {
      intercept[RuntimeException](rpc.getBlocks(40, 50).toList)
    }
    assert(e.getClass === classOf[RuntimeException])
    assert(e.getMessage.startsWith("rpc http 400"))
  }

  test("getBlocks keeps more than one call in flight, never more than the window") {
    val windowed = new HttpRpc(url + "window", fetchDelayMs = 0, maxRetries = 3, initialBackoffMs = 10)
    assert(windowed.getBlocks(40, 79).size === 39)
    assert(peakActive.get > 1 && peakActive.get <= HttpRpc.Window, s"peak ${peakActive.get}")
  }

  test("getBlocks keeps request starts fetchDelayMs apart") {
    val polite = new HttpRpc(url + "polite", fetchDelayMs = 50, maxRetries = 3, initialBackoffMs = 10)
    // a first call opens the connection the window's calls then reuse, so
    // connection set-up does not shift one arrival against the next
    assert(polite.getBlock(39).isDefined)
    politeArrivals.clear()
    assert(polite.getBlocks(40, 44).size === 5)
    val gapsMs = politeArrivals.asScala.toSeq.map(_.longValue).sorted
      .sliding(2).map { case Seq(a, b) => (b - a) / 1e6 }.toSeq
    assert(gapsMs.size === 4)
    // arrivals carry the host's scheduling jitter; unpaced calls arrive < 1 ms apart
    assert(gapsMs.forall(_ >= 40), s"arrival gaps (ms): $gapsMs")
  }

  test("a live trigger polls the head once: N triggers make at most N + 1 head calls") {
    val stream = new EthMicroBatchStream("logs", EthSchemas.logs, 0L, Nil, Nil,
      maxBlockRange = 1000L, maxBlocksPerTrigger = 10L,
      EthRpcSpec("http", url + "head", 0L, 0L, Int.MaxValue, fetchDelayMs = 0L))
    val n = 20
    // Spark's order per trigger: latestOffset, then reportLatestOffset for progress
    var start = stream.initialOffset()
    (1 to n).foreach { _ =>
      val end = stream.latestOffset(start, stream.getDefaultReadLimit)
      assert(stream.reportLatestOffset() === BlockOffset(100L)) // the stub's head, unclamped
      start = end
    }
    assert(start === BlockOffset(100L))
    assert(headCalls.get <= n + 1, s"${headCalls.get} head calls for $n triggers")
  }
}
