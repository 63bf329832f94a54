package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed request model + router — the reference's query entry point
  * (S1: Producer.java:38-64 parses a JSON ticket and dispatches to the
  * logs/blocks plan) re-expressed as an ADT → DataFrame program.
  *
  * Mode matrix (reference ClientRequest.java:30-36, with the §8.2 quirk
  * fixed — no backfill when startBlock is null, uniformly):
  *   (start, end)     → bounded batch scan
  *   (start, null)    → streaming from `start` (backfill→live, one path)
  *   (null,  null)    → streaming from the current chain head (live only)
  *   (null,  end)     → bounded batch scan of exactly block `end`
  *                      (the reference's blocks path intends start := end —
  *                      BlocksService.java:106 — then crashes; we implement
  *                      the intent)
  */
sealed trait GraftRequest {
  def dataset: String
  def startBlock: Option[Long]
  def endBlock: Option[Long]
  /** README.md:26 documents batch_size but the reference never implements
    * it (SURVEY §8.1); here it is real: micro-batch admission for streams,
    * Arrow record-batch granularity at the edge.
    */
  def batchSize: Option[Long]
}

final case class LogsRequest(
    startBlock: Option[Long],
    endBlock: Option[Long],
    contractAddresses: Seq[String] = Seq.empty,
    topics: Seq[String] = Seq.empty,
    batchSize: Option[Long] = None) extends GraftRequest {
  def dataset = "logs"
}

final case class BlocksRequest(
    startBlock: Option[Long],
    endBlock: Option[Long],
    batchSize: Option[Long] = None) extends GraftRequest {
  def dataset = "blocks"
}

object RequestRouter {

  /** Parse the reference's JSON ticket format (examples:
    * FlightRpcClient.java:41, notebook cells 5/16/26):
    * {"dataset":"logs","startBlock":"0","endBlock":"100",
    *  "contractAddresses":[...],"topics":[...]}
    * Numbers may arrive as JSON numbers or strings (Producer.java:46-51).
    */
  def parseTicket(json: String): GraftRequest = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json)
    def optLong(f: String): Option[Long] =
      Option(node.get(f)).filterNot(_.isNull).map(_.asText.trim.toLong)
    def strArr(f: String): Seq[String] =
      Option(node.get(f)).filterNot(_.isNull)
        .map(a => (0 until a.size).map(a.get(_).asText)).getOrElse(Seq.empty)
    val dataset = Option(node.get("dataset")).map(_.asText)
      .getOrElse(throw new IllegalArgumentException("ticket missing 'dataset'"))
    dataset match {
      case "logs" => LogsRequest(
        optLong("startBlock"), optLong("endBlock"),
        strArr("contractAddresses"), strArr("topics"), optLong("batch_size"))
      case "blocks" => BlocksRequest(
        optLong("startBlock"), optLong("endBlock"), optLong("batch_size"))
      case other => throw new IllegalArgumentException(s"unknown dataset '$other'")
    }
  }

  /** Route a request to its DataFrame program. Routing IS plan building:
    * the mode matrix selects read vs readStream; filters become options
    * (node-side pushdown) — the whole reference server loop collapses to
    * this function plus Spark's execution.
    */
  def route(
      spark: SparkSession,
      req: GraftRequest,
      rpcOptions: Map[String, String] = Map.empty): DataFrame = {
    val streaming = req.endBlock.isEmpty
    val common = Map("dataset" -> req.dataset) ++
      rpcOptions ++
      req.batchSize.map("maxBlocksPerTrigger" -> _.toString).toMap ++
      (req match {
        case l: LogsRequest => Map(
          "addresses" -> l.contractAddresses.mkString(","),
          "topics" -> l.topics.mkString(",")
        ).filter(_._2.nonEmpty)
        case _: BlocksRequest => Map.empty[String, String]
      })

    if (streaming) {
      // kernels, confs and the fork-free checkpoint manager for the subscription
      graft.SparkEntry.install(spark)
      val reader = spark.readStream.format("graft-eth")
      val withStart = req.startBlock match {
        case Some(s) => common + ("startBlock" -> s.toString)
        case None => common + ("startBlock" -> currentHead(common).toString)
      }
      withStart.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }.load()
    } else {
      val end = req.endBlock.get
      val start = req.startBlock.getOrElse(end) // (null, E) → scan block E
      val opts = common + ("startBlock" -> start.toString, "endBlock" -> end.toString)
      opts.foldLeft(spark.read.format("graft-eth")) { case (r, (k, v)) => r.option(k, v) }.load()
    }
  }

  /** Live-only subscriptions start at the head observed at registration —
    * the reference's latest-block snapshot (LogsService.java:489-500).
    */
  private def currentHead(options: Map[String, String]): Long = {
    val m = new java.util.HashMap[String, String]()
    options.foreach { case (k, v) => m.put(k, v) }
    graft.sources.EthRpcSpec.fromOptions(m).build().blockNumber() + 1
  }
}
