package graft.sources

/** One decoded log event (reference schema:
  * server/src/main/java/net/broscorp/web3/converter/Converter.java:41-52).
  * Hex quantities (`blockNumber`, indexes) are decoded at ingest; addresses
  * are normalized to lowercase (the reference compares addresses
  * case-insensitively — LogSubscription.java:44-45).
  */
final case class EthLog(
    address: String,
    data: String,
    topics: Seq[String],
    blockNumber: Long,
    transactionHash: String,
    transactionIndex: Int,
    blockHash: String,
    logIndex: Int,
    removed: Boolean)

/** One block header (reference schema: Converter.java:81-107). `difficulty`
  * and `totalDifficulty` stay raw hex strings — they can exceed int64
  * (Converter.java:267-268); decode on demand with `hex_to_decimal`.
  */
final case class EthBlock(
    number: Long,
    hash: String,
    parentHash: String,
    nonce: String,
    sha3Uncles: String,
    logsBloom: String,
    transactionsRoot: String,
    stateRoot: String,
    receiptsRoot: String,
    author: String,
    miner: String,
    mixHash: String,
    difficulty: String,
    totalDifficulty: String,
    extraData: String,
    size: Long,
    gasLimit: Long,
    gasUsed: Long,
    timestamp: Long,
    transactions: Seq[String],
    uncles: Seq[String],
    sealFields: Seq[String])

/** Node-side result cap — the connector reacts by bisecting the range
  * (reference: LogsService.java:592-606 detects "query returned more than
  * 10000 results" / response-too-big / OOM and bisects at :616-624).
  */
final class TooManyResultsException(msg: String) extends RuntimeException(msg)

/** Minimal Ethereum JSON-RPC surface the connector needs. Implementations
  * must be Serializable: one instance is captured per `InputPartition` and
  * re-created on executors.
  */
trait EthRpc extends Serializable {

  /** `eth_blockNumber` — current chain head. */
  def blockNumber(): Long

  /** `eth_getLogs` over a closed block range with optional address/topic0
    * filters. Throws [[TooManyResultsException]] when the node refuses the
    * range (too many results / response too large).
    */
  def getLogs(start: Long, end: Long, addresses: Seq[String], topics: Seq[String]): Seq[EthLog]

  /** `eth_getBlockByNumber(n, fullTx = false)` — header + tx hashes only
    * (reference: BlocksService.java:146-148).
    */
  def getBlock(n: Long): Option[EthBlock]

  /** The headers of blocks `start..end`, in block order, unknown blocks
    * dropped. The default fetches them one [[getBlock]] at a time.
    */
  def getBlocks(start: Long, end: Long): Iterator[EthBlock] =
    (start to end).iterator.flatMap(getBlock)
}

/** Deterministic in-memory chain for tests and benchmarks: every value is a
  * pure function of (seed, blockNumber, i), so any two readers — or an
  * oracle re-implementation — agree exactly. `maxResults` emulates an
  * Infura-class node cap to exercise the bisection path.
  */
final class SyntheticRpc(
    seed: Long,
    head: Long,
    maxResults: Int = Int.MaxValue,
    addressPool: Int = 8,
    topicPool: Int = 4,
    reorgAt: Long = -1L,
    reorgDepth: Int = 2) extends EthRpc {

  // splitmix64 — deterministic, dependency-free
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  private def h(parts: Long*): Long = parts.foldLeft(seed)((acc, p) => mix(acc ^ p))
  private def hex(v: Long, width: Int): String = {
    val s = java.lang.Long.toHexString(v)
    "0x" + ("0" * math.max(0, width - s.length)) + s
  }

  def logsInBlock(n: Long): Int = (h(n, 1) & 7).toInt // 0..7 logs per block

  override def blockNumber(): Long = head

  override def getLogs(start: Long, end: Long, addresses: Seq[String], topics: Seq[String]): Seq[EthLog] = {
    require(start <= end, s"bad range [$start,$end]")
    val addrSet = addresses.map(_.toLowerCase).toSet
    val topicSet = topics.toSet
    val out = Seq.newBuilder[EthLog]
    var total = 0
    var b = start
    while (b <= end) {
      val rows = deliveredAt(b)
      total += rows.size // the node counts pre-filter rows against its cap
      if (total > maxResults)
        throw new TooManyResultsException(s"query returned more than $maxResults results")
      rows.foreach { log =>
        val addrOk = addrSet.isEmpty || addrSet.contains(log.address)
        // reference topic semantics: empty-topics log passes; otherwise
        // topic0 ∈ requested set (LogSubscription.java:36-49)
        val topicOk = topicSet.isEmpty || log.topics.isEmpty || topicSet.contains(log.topics.head)
        if (addrOk && topicOk) out += log
      }
      b += 1
    }
    out.result()
  }

  def logAt(b: Long, i: Int): EthLog = logAt(b, i, 0L)

  /** variant 0 = the original chain — bit-identical to the historical
    * logAt (every existing dump/oracle value is unchanged); variant 1 =
    * the post-reorg canonical replacement of an orphaned block's log
    * (same (blockNumber, logIndex) key, every hash re-mixed under a
    * shifted field tag — new address/data/topics/txHash/blockHash).
    */
  def logAt(b: Long, i: Int, variant: Long): EthLog = {
    val v = variant * 100
    EthLog(
      address = hex(h(b, i, 2 + v) & 0xffffffffffL, 40),
      data = hex(h(b, i, 3 + v), 64),
      topics = (0 until ((h(b, i, 4 + v) & 3).toInt + 1))
        .map(j => hex((h(0, (h(b, i, 5 + v) + j) % topicPool, 5) & 0xffffL), 64)),
      blockNumber = b,
      transactionHash = hex(h(b, i, 6 + v), 64),
      transactionIndex = i,
      blockHash = hex(h(b, 7 + v), 64),
      logIndex = i,
      removed = false)
  }

  /** The rows a log reader receives for block `b`. With the reorg mode
    * off (`reorgAt < 0`, the default) this is exactly the block's own
    * logs — the historical behavior. With it on, reading block `reorgAt`
    * additionally delivers, FIRST, the retraction re-copies of the
    * orphaned blocks' logs (`removed = true` — the reference forwards the
    * node's flag verbatim, Converter.java:169; SURVEY §1.4 calls it the
    * only reorg signal), then their post-reorg canonical replacements
    * (variant 1). This flattens what a WSS push subscription emits at the
    * reorg instant into the poll window that observes it, keeping getLogs
    * a pure function of (seed, range).
    */
  def deliveredAt(b: Long): Seq[EthLog] = {
    val own = (0 until logsInBlock(b)).map(i => logAt(b, i))
    if (reorgAt < 0 || b != reorgAt) own
    else {
      val orphaned = math.max(0L, reorgAt - reorgDepth) until reorgAt
      val retractions = orphaned.flatMap(ob =>
        (0 until logsInBlock(ob)).map(i => logAt(ob, i).copy(removed = true)))
      val replacements = orphaned.flatMap(ob =>
        (0 until logsInBlock(ob)).map(i => logAt(ob, i, 1L)))
      retractions ++ replacements ++ own
    }
  }

  override def getBlock(n: Long): Option[EthBlock] =
    if (n > head) None
    else Some(EthBlock(
      number = n,
      hash = hex(h(n, 7), 64),
      parentHash = if (n == 0) hex(0, 64) else hex(h(n - 1, 7), 64),
      nonce = hex(h(n, 8) & 0xffffffffL, 16),
      sha3Uncles = hex(h(n, 9), 64),
      logsBloom = hex(h(n, 10), 64),
      transactionsRoot = hex(h(n, 11), 64),
      stateRoot = hex(h(n, 12), 64),
      receiptsRoot = hex(h(n, 13), 64),
      author = hex(h(n, 14) & 0xffffffffffL, 40),
      miner = hex(h(n, 14) & 0xffffffffffL, 40),
      mixHash = hex(h(n, 15), 64),
      difficulty = hex(h(n, 16) & 0xffffffffffffL, 0),
      totalDifficulty = hex(h(n, 17) & 0x7fffffffffffffffL, 0),
      extraData = hex(h(n, 18) & 0xffff, 0),
      size = 500 + (h(n, 19) & 0x7fff),
      gasLimit = 30000000L,
      gasUsed = h(n, 20) & 0x1ffffffL,
      timestamp = 1700000000L + n * 12,
      transactions = (0 until ((h(n, 21) & 15).toInt)).map(j => hex(h(n, j, 22), 64)),
      uncles = Seq.empty,
      sealFields = Seq.empty))
}

/** Real JSON-RPC over HTTP client (java.net.http + Jackson, both already on
  * Spark's classpath). Mirrors the reference's resilience envelope:
  * bounded retry with exponential backoff on transport errors
  * (LogsService.java:312-351,646-662) and optional politeness delay before
  * each request (LogsService.java:558-563; docker-compose.yml:29).
  * Untested against a live node in this environment; the transport carries
  * no engine semantics — those live in the synthetic-backed tests.
  *
  * All instances in a JVM share one `HttpClient`, so every partition and
  * micro-batch reuses the same selector thread and pooled connections.
  * [[getBlocks]] keeps up to [[HttpRpc.Window]] `getBlock` calls in flight
  * (the reference waits out one round trip per header,
  * BlocksService.java:145-150). Each call is the ordinary synchronous
  * `getBlock`, so retry, status handling and cap mapping are the same on
  * both paths. `fetchDelayMs` bounds how close together request starts may
  * be: concurrent calls on one instance take turns waiting it out, so its
  * starts stay at least `fetchDelayMs` apart, as in a sequential loop.
  */
final class HttpRpc(
    url: String,
    fetchDelayMs: Long = 0L,
    maxRetries: Int = 3,
    initialBackoffMs: Long = 3000L) extends EthRpc {

  import HttpRpc.client

  @transient private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val reqId = new java.util.concurrent.atomic.AtomicLong(0)
  // fair, so waiting calls start in the order they were submitted
  private val startTurn = new java.util.concurrent.locks.ReentrantLock(true)

  /** Node-side result-cap detection. Matches every cap phrasing the
    * reference handles (LogsService.java:592-606): "query returned more than
    * N results", "response is too big", plus the response-size variants seen
    * on other providers. Anything matched triggers bisection upstream.
    */
  private def isResultCap(msg: String): Boolean = {
    val m = msg.toLowerCase
    m.contains("more than") || m.contains("too large") ||
      m.contains("response size") || m.contains("too big")
  }

  private def call(method: String, params: com.fasterxml.jackson.databind.JsonNode): com.fasterxml.jackson.databind.JsonNode = {
    if (fetchDelayMs > 0) {
      startTurn.lockInterruptibly()
      try Thread.sleep(fetchDelayMs) finally startTurn.unlock()
    }
    // Jackson-serialized body: option-derived strings can never break the
    // JSON framing (they arrive escaped), unlike string interpolation.
    val root = mapper.createObjectNode()
    root.put("jsonrpc", "2.0")
    root.put("id", reqId.incrementAndGet())
    root.put("method", method)
    root.set[com.fasterxml.jackson.databind.JsonNode]("params", params)
    val body = mapper.writeValueAsString(root)
    var attempt = 0
    var backoff = initialBackoffMs
    while (true) {
      try {
        val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .header("Content-Type", "application/json")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
        val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
        val status = resp.statusCode()
        if (status / 100 != 2) {
          // 5xx/429 are transient → retried like transport errors; any other
          // non-2xx is a hard failure (no point parsing an HTML error page).
          if (status >= 500 || status == 429)
            throw new java.io.IOException(s"rpc http $status")
          throw new RuntimeException(s"rpc http $status: ${resp.body().take(200)}")
        }
        val node = mapper.readTree(resp.body())
        val err = node.get("error")
        if (err != null) {
          val msg = Option(err.get("message")).map(_.asText).getOrElse(err.toString)
          if (isResultCap(msg)) throw new TooManyResultsException(msg)
          throw new RuntimeException(s"rpc error: $msg")
        }
        return node.get("result")
      } catch {
        case e: TooManyResultsException => throw e
        case e: java.io.IOException if attempt < maxRetries =>
          attempt += 1
          Thread.sleep(backoff)
          backoff = math.min(backoff * 2, 60000L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def hexToLong(s: String): Long = java.lang.Long.parseLong(s.stripPrefix("0x"), 16)

  override def blockNumber(): Long =
    hexToLong(call("eth_blockNumber", mapper.createArrayNode()).asText())

  override def getLogs(start: Long, end: Long, addresses: Seq[String], topics: Seq[String]): Seq[EthLog] = {
    val filter = mapper.createObjectNode()
    filter.put("fromBlock", "0x" + start.toHexString)
    filter.put("toBlock", "0x" + end.toHexString)
    if (addresses.nonEmpty) {
      val a = filter.putArray("address")
      addresses.foreach(a.add)
    }
    // all requested topics go in slot 0 as an OR — reference semantics
    // (LogsService.java:384-386)
    if (topics.nonEmpty) {
      val t0 = filter.putArray("topics").addArray()
      topics.foreach(t0.add)
    }
    val params = mapper.createArrayNode()
    params.add(filter)
    val res = call("eth_getLogs", params)
    (0 until res.size()).map { i =>
      val l = res.get(i)
      def str(f: String): String = Option(l.get(f)).map(_.asText).orNull
      EthLog(
        address = Option(str("address")).map(_.toLowerCase).orNull,
        data = str("data"),
        topics = Option(l.get("topics")).map(t => (0 until t.size()).map(t.get(_).asText)).getOrElse(Seq.empty),
        blockNumber = hexToLong(str("blockNumber")),
        transactionHash = str("transactionHash"),
        transactionIndex = hexToLong(str("transactionIndex")).toInt,
        blockHash = str("blockHash"),
        logIndex = hexToLong(str("logIndex")).toInt,
        removed = Option(l.get("removed")).exists(_.asBoolean(false)))
    }
  }

  override def getBlock(n: Long): Option[EthBlock] = {
    val params = mapper.createArrayNode()
    params.add("0x" + n.toHexString)
    params.add(false)
    val res = call("eth_getBlockByNumber", params)
    if (res == null || res.isNull) None
    else {
      def str(f: String): String = Option(res.get(f)).map(_.asText).orNull
      def lng(f: String): Long = Option(str(f)).map(hexToLong).getOrElse(0L)
      def arr(f: String): Seq[String] =
        Option(res.get(f)).map(a => (0 until a.size()).map(a.get(_).asText)).getOrElse(Seq.empty)
      Some(EthBlock(
        number = lng("number"), hash = str("hash"), parentHash = str("parentHash"),
        nonce = str("nonce"), sha3Uncles = str("sha3Uncles"), logsBloom = str("logsBloom"),
        transactionsRoot = str("transactionsRoot"), stateRoot = str("stateRoot"),
        receiptsRoot = str("receiptsRoot"),
        author = Option(str("author")).map(_.toLowerCase).orNull,
        miner = Option(str("miner")).map(_.toLowerCase).orNull,
        mixHash = str("mixHash"), difficulty = str("difficulty"),
        totalDifficulty = str("totalDifficulty"), extraData = str("extraData"),
        size = lng("size"), gasLimit = lng("gasLimit"), gasUsed = lng("gasUsed"),
        timestamp = lng("timestamp"),
        transactions = arr("transactions"), uncles = arr("uncles"), sealFields = arr("sealFields")))
    }
  }

  /** Up to [[HttpRpc.Window]] `getBlock` calls in flight on the shared pool,
    * consumed in block order. A failed call rethrows its own exception and
    * cancels the rest; `close()` cancels whatever is still pending.
    */
  override def getBlocks(start: Long, end: Long): Iterator[EthBlock] =
    new Iterator[EthBlock] with AutoCloseable {
      import java.util.concurrent.{Callable, ExecutionException, Future}
      private val pending = new java.util.ArrayDeque[Future[Option[EthBlock]]]()
      private var unsent = start
      private var ready: Option[EthBlock] = None

      override def hasNext: Boolean = {
        while (ready.isEmpty && (unsent <= end || !pending.isEmpty)) {
          while (pending.size < HttpRpc.Window && unsent <= end) {
            val n = unsent
            val call: Callable[Option[EthBlock]] = () => getBlock(n)
            pending.add(HttpRpc.pool.submit(call))
            unsent += 1
          }
          ready = await(pending.poll())
        }
        ready.isDefined
      }

      override def next(): EthBlock = {
        if (!hasNext) Iterator.empty.next()
        val b = ready.get
        ready = None
        b
      }

      // Future.get, not join: a killed task's interrupt ends the wait
      private def await(f: Future[Option[EthBlock]]): Option[EthBlock] =
        try f.get()
        catch {
          case e: ExecutionException => close(); throw e.getCause
          case e: InterruptedException => close(); throw e
        }

      override def close(): Unit = {
        pending.forEach(_.cancel(true))
        pending.clear()
        unsent = end + 1
      }
    }
}

object HttpRpc {
  /** `getBlock` calls one [[HttpRpc.getBlocks]] keeps in flight. Eight
    * reach the ceiling of a node serving four calls at a time.
    */
  val Window = 8

  private lazy val client = java.net.http.HttpClient.newHttpClient()

  /** Daemon threads running windowed `getBlock` calls: one full window per
    * core (a core runs one reader at a time), released after a minute idle.
    */
  private lazy val pool = {
    import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
    val threads = Window * Runtime.getRuntime.availableProcessors
    val made = new java.util.concurrent.atomic.AtomicLong
    val p = new ThreadPoolExecutor(threads, threads, 60L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, s"graft-http-rpc-${made.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    p.allowCoreThreadTimeOut(true)
    p
  }
}

/** Factory from connector options — serializable spec so executors can
  * rebuild the client without shipping live sockets.
  */
final case class EthRpcSpec(
    kind: String, // "synthetic" | "http"
    url: String,
    seed: Long,
    head: Long,
    maxResults: Int,
    fetchDelayMs: Long,
    reorgAt: Long = -1L,
    reorgDepth: Int = 2) extends Serializable {
  def build(): EthRpc = kind match {
    case "synthetic" => new SyntheticRpc(seed, head, maxResults,
      reorgAt = reorgAt, reorgDepth = reorgDepth)
    case "http" => new HttpRpc(url, fetchDelayMs)
    case other => throw new IllegalArgumentException(s"unknown rpc kind: $other")
  }
}

object EthRpcSpec {
  /** Parse from DSv2 options. `rpc=synthetic` (default, with `seed`/`head`/
    * `maxResults`) or `rpc=http` with `url=...`.
    */
  def fromOptions(o: java.util.Map[String, String]): EthRpcSpec = {
    def opt(k: String, dflt: String): String = {
      val v = o.get(k); if (v == null) dflt else v
    }
    EthRpcSpec(
      kind = opt("rpc", "synthetic"),
      url = opt("url", ""),
      seed = opt("seed", "42").toLong,
      head = opt("head", "10000").toLong,
      maxResults = opt("maxResults", Int.MaxValue.toString).toInt,
      fetchDelayMs = opt("fetchDelayMs", "0").toLong,
      reorgAt = opt("reorgAt", "-1").toLong,
      reorgDepth = opt("reorgDepth", "2").toInt)
  }
}
