package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connector tests against the deterministic synthetic chain — the Spark
  * analog of the reference's mocked-web3j suites (LogsServiceTest /
  * BlocksServiceTest / SubscriptionTest).
  */
class EthSourceSpec extends SparkSpec {

  private def readLogs(opts: (String, String)*): DataFrame = {
    val base = spark.read.format("graft-eth").option("dataset", "logs")
    opts.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  test("chunking covers the range exactly (property, seeded)") {
    val rnd = new scala.util.Random(7)
    (0 until 500).foreach { _ =>
      val start = rnd.nextInt(10000).toLong
      val end = start + rnd.nextInt(5000)
      val r = 1L + rnd.nextInt(700)
      val cs = BlockRanges.chunks(start, end, r)
      assert(cs.head.start === start)
      assert(cs.last.end === end)
      assert(cs.forall(c => c.end - c.start + 1 <= r))
      cs.sliding(2).foreach {
        case Seq(a, b) => assert(b.start === a.end + 1) // contiguous, ordered
        case _ =>
      }
    }
    assert(BlockRanges.chunks(5, 4, 100).isEmpty)
  }

  test("logs batch read matches the synthetic chain row-for-row") {
    val df = readLogs("startBlock" -> "0", "endBlock" -> "999", "seed" -> "42")
    val expected = new SyntheticRpc(42, 10000).getLogs(0, 999, Seq.empty, Seq.empty)
    assert(df.count() === expected.size)
    val got = df.orderBy("blockNumber", "logIndex")
      .select("address", "blockNumber", "logIndex", "topics").collect()
    val exp = expected.sortBy(l => (l.blockNumber, l.logIndex))
    got.zip(exp).foreach { case (r, e) =>
      assert(r.getString(0) === e.address)
      assert(r.getLong(1) === e.blockNumber)
      assert(r.getInt(2) === e.logIndex)
      assert(r.getSeq[String](3) === e.topics)
    }
  }

  test("bisection under a node result cap loses nothing") {
    val unlimited = readLogs("startBlock" -> "0", "endBlock" -> "1999", "maxBlockRange" -> "500")
    val capped = readLogs("startBlock" -> "0", "endBlock" -> "1999",
      "maxBlockRange" -> "500", "maxResults" -> "40") // forces deep bisection
    assert(capped.count() === unlimited.count())
    assert(capped.select(sum(col("blockNumber") * 31 + col("logIndex"))).head ===
      unlimited.select(sum(col("blockNumber") * 31 + col("logIndex"))).head)
  }

  test("block-range predicate narrows the scan (partition pruning via pushdown)") {
    val df = readLogs("head" -> "100000")
      .where(col("blockNumber").between(1000, 1099))
    // semantics: same rows as an explicitly bounded read
    val explicit = readLogs("startBlock" -> "1000", "endBlock" -> "1099")
    assert(df.count() === explicit.count())
    // plan: pushed range must appear in the scan description, so the source
    // plans ~1 chunk instead of head/maxBlockRange chunks.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft-eth"), plan)
    assert(df.rdd.getNumPartitions <= 2, s"expected <=2 partitions, got ${df.rdd.getNumPartitions}")
  }

  test("address pushdown filters at the source and stays case-safe") {
    val all = readLogs("startBlock" -> "0", "endBlock" -> "499")
    val someAddr = all.select("address").head.getString(0)
    val pushed = readLogs("startBlock" -> "0", "endBlock" -> "499")
      .where(col("address") === someAddr.toUpperCase.replace("0X", "0x"))
    // UPPERCASED address: v1 EqualTo pushes verbatim; Spark's residual
    // re-filter keeps exact equality semantics (none match uppercase).
    assert(pushed.count() === 0)
    val pushedExact = readLogs("startBlock" -> "0", "endBlock" -> "499")
      .where(col("address") === someAddr)
    assert(pushedExact.count() === all.where(col("address") === someAddr).count())
  }

  test("IN over the block column narrows the scan to its [min,max] envelope") {
    val q = readLogs("startBlock" -> "0", "endBlock" -> "9999")
      .where(col("blockNumber").isin(100L, 105L, 120L))
    // scan description shows the narrowed range, not [0..9999]
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("[100..120]"), s"IN envelope not pushed:\n$scan")
    // residual filter preserves exact IN semantics (gap blocks dropped)
    val expected = readLogs("startBlock" -> "100", "endBlock" -> "120")
      .where(col("blockNumber").isin(100L, 105L, 120L)).count()
    assert(q.count() === expected && q.count() > 0)
  }

  test("pushed address predicate INTERSECTS the addresses option (never widens the source)") {
    val all = readLogs("startBlock" -> "0", "endBlock" -> "499")
    val addrs = all.select("address").distinct().take(2).map(_.getString(0))
    val Array(a, b) = addrs
    // option=a, predicate=b: the source definition excludes b — the scan
    // must return NOTHING, not b's rows (pre-fix it widened to b)
    assert(readLogs("startBlock" -> "0", "endBlock" -> "499", "addresses" -> a)
      .where(col("address") === b).count() === 0)
    // option={a,b}, predicate=b: narrows within the option set
    assert(readLogs("startBlock" -> "0", "endBlock" -> "499", "addresses" -> s"$a,$b")
      .where(col("address") === b).count() ===
      all.where(col("address") === b).count())
  }

  test("case-insensitive address query (reference §8.5 semantics) via lower()") {
    val all = readLogs("startBlock" -> "0", "endBlock" -> "499")
    val someAddr = all.select("address").head.getString(0)
    val ci = all.where(lower(col("address")) === someAddr.toUpperCase.replace("0X", "0x").toLowerCase)
    assert(ci.count() === all.where(col("address") === someAddr).count())
  }

  test("topic0 option filter matches reference semantics (empty topics pass)") {
    val rpcDirect = new SyntheticRpc(42, 10000)
    val someTopic = rpcDirect.getLogs(0, 99, Seq.empty, Seq.empty)
      .find(_.topics.nonEmpty).get.topics.head
    val df = readLogs("startBlock" -> "0", "endBlock" -> "99", "topics" -> someTopic)
    val expected = rpcDirect.getLogs(0, 99, Seq.empty, Seq(someTopic))
    assert(df.count() === expected.size)
  }

  test("column pruning: narrow projection still correct") {
    val df = readLogs("startBlock" -> "0", "endBlock" -> "99")
      .select("blockNumber")
    val expected = new SyntheticRpc(42, 10000).getLogs(0, 99, Seq.empty, Seq.empty)
    assert(df.count() === expected.size)
    assert(df.agg(sum("blockNumber")).head.getLong(0) === expected.map(_.blockNumber).sum)
  }

  test("blocks dataset: one row per block, deterministic headers") {
    val df = spark.read.format("graft-eth").option("dataset", "blocks")
      .option("startBlock", "10").option("endBlock", "109").load()
    assert(df.count() === 100)
    val r = df.where(col("number") === 50).head
    val b = new SyntheticRpc(42, 10000).getBlock(50).get
    assert(r.getAs[String]("hash") === b.hash)
    assert(r.getAs[String]("parentHash") === new SyntheticRpc(42, 10000).getBlock(49).get.hash)
    assert(r.getAs[Long]("timestamp") === b.timestamp)
    assert(r.getAs[Seq[String]]("transactions") === b.transactions)
  }

  test("streaming: backfill→live equivalent is exactly-once per block") {
    import org.apache.spark.sql.streaming.Trigger
    val q = spark.readStream.format("graft-eth")
      .option("dataset", "logs")
      .option("startBlock", "0").option("head", "2000")
      .option("maxBlocksPerTrigger", "300") // forces ≥7 micro-batches
      .option("maxBlockRange", "100")
      .load()
      .groupBy("blockNumber").count()
      .writeStream.format("memory").queryName("graft_stream_test")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    val got = spark.table("graft_stream_test").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rpcDirect = new SyntheticRpc(42, 2000)
    val expected = rpcDirect.getLogs(0, 2000, Seq.empty, Seq.empty)
      .groupBy(_.blockNumber).map { case (k, v) => k -> v.size.toLong }
    assert(got === expected) // no loss, no duplicates — beats reference §8.3
  }

  test("e08: ABI decode matches a pure recompute from the synthetic chain") {
    val got = graft.operators.Catalog.byName("e08_erc20_decode")
      .build(spark, sfDir).collect()
    val rpc = new SyntheticRpc(42, 10000)
    val expected = rpc.getLogs(0, 2999, Seq.empty, Seq.empty)
      .filter(_.topics.length == 3)
      .sortBy(l => (l.blockNumber, l.logIndex))
      .map { l =>
        (l.blockNumber, l.logIndex, l.address,
          "0x" + l.topics(1).drop(2).takeRight(40),
          "0x" + l.topics(2).drop(2).takeRight(40),
          new java.math.BigInteger(l.data.stripPrefix("0x"), 16).toString)
      }
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (r, e) =>
      assert((r.getLong(0), r.getInt(1), r.getString(2), r.getString(3),
        r.getString(4), r.getString(5)) == e)
    }
    // the value path must exercise > 63-bit words (the decimal decode path)
    assert(expected.exists(e => new java.math.BigInteger(e._6).bitLength > 63),
      "fixture never exercises the >Long hex decode path")
  }

  test("e09: epoch gas stats == a driver-side walk of the synthetic chain") {
    val rpc = new SyntheticRpc(42, 10000)
    val blocks = (0L to 999L).flatMap(rpc.getBlock)
    val expected = blocks.groupBy(_.number / 100).view.mapValues { bs =>
      (bs.size.toLong, bs.map(_.gasUsed).sum, bs.map(_.gasUsed).max,
        bs.map(_.transactions.size.toLong).sum)
    }.toMap
    val got = graft.operators.Catalog.byName("e09_gas_epochs").build(spark, sfDir).collect()
    assert(got.length == 10)
    got.foreach { r =>
      val e = expected(r.getAs[Long]("epoch"))
      assert((r.getAs[Long]("n_blocks"), r.getAs[Long]("gas_total"),
        r.getAs[Long]("gas_max"), r.getAs[Long]("tx_total")) == e,
        s"epoch ${r.getAs[Long]("epoch")}")
    }
  }

  test("e12/e13: address cards and topic histogram == a driver-side chain walk") {
    val rpc = new SyntheticRpc(42, 10000)
    val logs = rpc.getLogs(0, 2999, Seq.empty, Seq.empty)
    val byAddr = logs.groupBy(_.address)
    val cards = graft.operators.Catalog.byName("e12_address_activity")
      .build(spark, sfDir).collect()
    assert(cards.length == byAddr.size)
    cards.foreach { r =>
      val ls = byAddr(r.getAs[String]("address"))
      assert(r.getAs[Long]("n_logs") == ls.size.toLong)
      assert(r.getAs[Long]("first_block") == ls.map(_.blockNumber).min)
      assert(r.getAs[Long]("last_block") == ls.map(_.blockNumber).max)
      assert(r.getAs[Long]("n_txs") == ls.map(_.transactionHash).distinct.size.toLong)
    }
    val hist = graft.operators.Catalog.byName("e13_topic_histogram")
      .build(spark, sfDir).collect()
    val byTopic = logs.groupBy(_.topics.headOption.getOrElse("(none)"))
    assert(hist.length == byTopic.size)
    hist.foreach { r =>
      val ls = byTopic(r.getAs[String]("topic0"))
      assert(r.getAs[Long]("n_logs") == ls.size.toLong)
      assert(r.getAs[Long]("n_contracts") == ls.map(_.address).distinct.size.toLong)
    }
    // the histogram covers every log exactly once
    assert(hist.map(_.getAs[Long]("n_logs")).sum == logs.size.toLong)
  }

  test("e14: cadence == a driver-side chain walk; synthetic chain holds its 12 s schedule") {
    val rpc = new SyntheticRpc(42, 10000)
    val blocks = (0L to 999L).flatMap(rpc.getBlock)
    val byNum = blocks.map(b => b.number -> b).toMap
    val gaps = (1L to 999L).map { n =>
      (n / 100, byNum(n).timestamp - byNum(n - 1).timestamp, byNum(n).transactions.size.toLong)
    }
    val expected = gaps.groupBy(_._1).view.mapValues { gs =>
      (gs.size.toLong, gs.map(_._2).sum, gs.map(_._2).min, gs.map(_._2).max,
        gs.map(_._3).sum * 1000 / gs.map(_._2).sum)
    }.toMap
    val got = graft.operators.Catalog.byName("e14_block_cadence").build(spark, sfDir).collect()
    assert(got.length == 10)
    got.foreach { r =>
      val e = expected(r.getAs[Long]("epoch"))
      assert((r.getAs[Long]("n_gaps"), r.getAs[Long]("gap_total"), r.getAs[Long]("gap_min"),
        r.getAs[Long]("gap_max"), r.getAs[Long]("tx_per_ksec")) == e,
        s"epoch ${r.getAs[Long]("epoch")}")
      // the synthetic chain produces on schedule — every gap exactly 12 s
      assert(r.getAs[Long]("gap_min") == 12L && r.getAs[Long]("gap_max") == 12L)
    }
    // throughput genuinely varies across epochs (tx counts are not constant)
    assert(got.map(_.getAs[Long]("tx_per_ksec")).distinct.length > 1)
  }

  test("blocks aggregate pushdown: complete, correct, and refused where unsound") {
    val blocks = spark.read.format("graft-eth").option("dataset", "blocks")
      .option("startBlock", "100").option("endBlock", "299").load()
    val agg = blocks.agg(count(lit(1)), min("number"), max("number"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("AGG-PUSHDOWN"), s"aggregate not pushed:\n$plan")
    assert(!plan.contains("HashAggregate"), s"pushed aggregate re-aggregated:\n$plan")
    assert(agg.head() === org.apache.spark.sql.Row(200L, 100L, 299L))
    // grouped aggregates must NOT push (values from the row scan)
    val grouped = blocks.groupBy(col("number") % 2).agg(count(lit(1)))
    val gPlan = grouped.queryExecution.executedPlan.toString
    assert(!gPlan.contains("AGG-PUSHDOWN") && gPlan.contains("HashAggregate"),
      s"grouped aggregate wrongly claimed by the connector:\n$gPlan")
    assert(grouped.collect().map(_.getLong(1)).sum === 200L)
    // non-range aggregates must NOT push
    val sums = blocks.agg(sum("gasUsed"))
    assert(!sums.queryExecution.executedPlan.toString.contains("AGG-PUSHDOWN"),
      "sum(gasUsed) is data-dependent — cannot come from range arithmetic")
    // logs aggregates must NOT push (log counts are data-dependent)
    val logs = readLogs("startBlock" -> "0", "endBlock" -> "99")
    val lAgg = logs.agg(count(lit(1)), min("blockNumber"), max("blockNumber"))
    assert(!lAgg.queryExecution.executedPlan.toString.contains("AGG-PUSHDOWN"),
      "logs aggregate wrongly claimed by the connector")
  }

  test("runtime (join-driven) block pruning narrows the fetch range") {
    import spark.implicits._
    val blocks = spark.read.format("graft-eth").option("dataset", "blocks")
      .option("startBlock", "0").option("endBlock", "999")
      .option("maxBlockRange", "50").load()
    // The selective predicate must sit on a NON-join column: a literal
    // filter on the join key itself propagates to the scan STATICALLY
    // (constraint inference) and DPP never fires — with pmod(id,500)=7 the
    // matching block set {7, 507} is only knowable at runtime
    val dim = spark.range(0, 1000)
      .select(col("id").as("bn"), pmod(col("id"), lit(500)).as("tag"))
      .where(col("tag") === 7L)
    val joined = blocks.join(dim, blocks("number") === dim("bn")).select("number", "gasUsed")
    EthScan.FetchedBlocks.set(0)
    EthScan.RuntimeFilterHits.set(0)
    assert(joined.collect().map(_.getLong(0)).sorted.toSeq === Seq(7L, 507L))
    assert(EthScan.RuntimeFilterHits.get() > 0, "DPP never reached EthScan.filter")
    val fetched = EthScan.FetchedBlocks.get()
    // chunk=50: envelope [7..507] keeps only the two chunks containing a
    // requested block — ~51 blocks vs the full 1000
    assert(fetched <= 150,
      s"runtime filter did not narrow the fetch: readers got $fetched of 1000 blocks")
  }

  test("reported statistics drive join strategy: narrow ranges broadcast, unbounded do not") {
    // the other side is ~80 MB by Catalyst's own estimate — far over the
    // broadcast threshold — so a BroadcastHashJoin can only appear if the
    // CONNECTOR side's reported statistics made it the build side
    val big = spark.range(0, 10000000L)
      .select(pmod(col("id"), lit(1000L)).as("number"), col("id").as("v"))
    val narrow = spark.read.format("graft-eth").option("dataset", "blocks")
      .option("startBlock", "0").option("endBlock", "9").load()
      .select("number", "gasUsed")
    val nPlan = big.join(narrow, "number").queryExecution.executedPlan.toString
    assert(nPlan.contains("BroadcastHashJoin"),
      s"10-block scan (reported ~20 KB) was not broadcast:\n${nPlan.take(1500)}")
    // endBlock unset ⇒ unknown size ⇒ Spark's default (effectively
    // infinite) estimate ⇒ the planner must NOT pick a broadcast join
    val unbounded = spark.read.format("graft-eth").option("dataset", "blocks")
      .option("startBlock", "0").load()
      .select("number", "gasUsed")
    val uPlan = big.join(unbounded, "number").queryExecution.executedPlan.toString
    assert(!uPlan.contains("BroadcastHashJoin"),
      s"unbounded scan wrongly planned as broadcast:\n${uPlan.take(1500)}")
  }

  test("blocks LIMIT pushdown caps the scan range; logs LIMIT does not") {
    val blocks = spark.read.format("graft-eth").option("dataset", "blocks")
      .option("startBlock", "10").option("endBlock", "999").load()
    val lim = blocks.limit(7)
    val plan = lim.queryExecution.executedPlan.toString
    assert(plan.contains("[10..16]"), s"LIMIT 7 did not cap the range to 7 blocks:\n$plan")
    // Spark re-applies the limit (partial pushdown) — exactly 7 rows, and
    // they are the FIRST 7 blocks of the range (one row per block)
    assert(lim.select("number").collect().map(_.getLong(0)).sorted.toSeq
      === (10L to 16L))
    val logsLim = readLogs("startBlock" -> "0", "endBlock" -> "999").limit(7)
    assert(!logsLim.queryExecution.executedPlan.toString.contains("[0..6]"),
      "logs LIMIT must not cap the block range — blocks-to-rows is data-dependent")
    assert(logsLim.count() === 7L)
  }

  test("storage-partitioned join: shuffle-free when enabled, shuffles as the negative control") {
    val cat = "graft_spj_spec"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.EthSpjCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.head", "499")
    spark.conf.set(s"spark.sql.catalog.$cat.chunk", "100")
    val prevBro = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def joined = {
      val logs = spark.table(s"$cat.logs")
      val blocks = spark.table(s"$cat.blocks")
      logs.join(blocks, logs("blockNumber") === blocks("number"))
        .select(logs("blockNumber"), blocks("gasUsed"))
    }
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val on = joined
      val nOn = on.count()
      assert(nOn > 0)
      val planOn = on.queryExecution.executedPlan.toString
      assert(!planOn.contains("Exchange hashpartitioning"),
        s"SPJ enabled but the join still shuffled:\n${planOn.take(1500)}")
      // negative control: same join with v2 bucketing OFF must shuffle —
      // otherwise the e20 require asserts nothing
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val off = joined
      assert(off.count() === nOn, "row count must not depend on the join strategy")
      assert(off.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
        "with v2 bucketing disabled the join should have shuffled — the SPJ assert is vacuous")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      prevBro match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("blocks over rpc=http equal the synthetic read row for row, in order") {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    // a JSON-RPC node serving SyntheticRpc(42)'s headers
    val chain = new SyntheticRpc(42, 10000)
    val mapper = new ObjectMapper()
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val handlers = java.util.concurrent.Executors.newFixedThreadPool(4)
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(handlers)
    server.createContext("/", (ex: HttpExchange) => {
      calls.incrementAndGet()
      val req = mapper.readTree(ex.getRequestBody)
      val n = java.lang.Long.parseLong(req.get("params").get(0).asText.stripPrefix("0x"), 16)
      val resp = mapper.createObjectNode().put("jsonrpc", "2.0")
      resp.set[JsonNode]("id", req.get("id"))
      chain.getBlock(n) match {
        case Some(b) =>
          val o = resp.putObject("result")
          b.productElementNames.zip(b.productIterator).foreach {
            case (k, v: Long) => o.put(k, "0x" + v.toHexString)
            case (k, v: String) => o.put(k, v)
            case (k, vs: Seq[_]) => val a = o.putArray(k); vs.foreach(v => a.add(v.toString))
          }
        case None => resp.putNull("result")
      }
      val bytes = mapper.writeValueAsBytes(resp)
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    def read(rpc: (String, String)*) = rpc.foldLeft(spark.read.format("graft-eth")
      .option("dataset", "blocks").option("startBlock", "0").option("endBlock", "1199")
      .option("maxBlockRange", "500")) { case (r, (k, v)) => r.option(k, v) }.load()
    try {
      val http = read("rpc" -> "http", "url" -> s"http://127.0.0.1:${server.getAddress.getPort}/")
      assert(http.rdd.getNumPartitions === 3)
      val got = http.collect().toSeq
      assert(calls.get === 1200)
      assert(got === read("rpc" -> "synthetic", "seed" -> "42").collect().toSeq)
    } finally {
      server.stop(0)
      handlers.shutdownNow()
    }
  }
}
