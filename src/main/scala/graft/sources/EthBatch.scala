package graft.sources

import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** One closed block range [start, end] = one Spark partition, the unit a
  * reader fetches (reference chunk loop: LogsService.java:509-521,
  * BlocksService.java:111-123 — but parallel across executors instead of
  * sequential). [[EthReaderFactory]] reads both kinds.
  */
trait BlockRange extends InputPartition {
  def start: Long
  def end: Long
}

/** A block range of the `format("graft-eth")` batch and streaming scans. */
final case class BlockRangePartition(start: Long, end: Long) extends BlockRange

object BlockRanges {
  /** Split [start,end] into maxRange-sized closed intervals, in order.
    * Exact cover: disjoint, ordered, no gaps (property-tested).
    */
  def chunks(start: Long, end: Long, maxRange: Long): Seq[BlockRangePartition] = {
    require(maxRange > 0, s"maxBlockRange must be positive, got $maxRange")
    if (end < start) Seq.empty
    else Iterator.iterate(start)(_ + maxRange).takeWhile(_ <= end)
      .map(s => BlockRangePartition(s, math.min(s + maxRange - 1, end))).toSeq
  }
}

final class EthBatch(
    dataset: String,
    schema: StructType,
    start: Long,
    end: Long,
    addresses: Seq[String],
    topics: Seq[String],
    maxBlockRange: Long,
    rpc: EthRpcSpec,
    runtimeBlockSet: () => Option[Array[Long]] = () => None) extends Batch {

  /** Chunks of the (possibly runtime-narrowed) range. The thunk reads the
    * scan's runtime-filter state at PLANNING time — Spark guarantees
    * `Scan.filter` runs before `planInputPartitions`, not before `toBatch`.
    * Narrowing is two-level: the range shrinks to the runtime values'
    * [min, max] envelope intersected with the static range, then chunks
    * containing NONE of the values are dropped (the join re-applies the
    * predicate, so both levels are residual-safe).
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val chunks = runtimeBlockSet() match {
      case Some(vals) if vals.nonEmpty =>
        val lo = math.max(start, vals.head)
        val hi = math.min(end, vals.last)
        BlockRanges.chunks(lo, hi, maxBlockRange)
          .filter(c => vals.exists(v => v >= c.start && v <= c.end))
      case _ => BlockRanges.chunks(start, end, maxBlockRange)
    }
    chunks.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EthReaderFactory(dataset, schema, addresses, topics, rpc)
}

final class EthReaderFactory(
    dataset: String,
    schema: StructType,
    addresses: Seq[String],
    topics: Seq[String],
    rpc: EthRpcSpec) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[BlockRange]
    // blocks a reader is ABOUT to fetch — runtime-pruning evidence for
    // specs (a JVM-wide gauge: exact at local[*], per-executor on a cluster)
    EthScan.FetchedBlocks.addAndGet(p.end - p.start + 1)
    dataset match {
      case "logs" => new EthLogsReader(schema, p, addresses, topics, rpc.build())
      case "blocks" => new EthBlocksReader(schema, p, rpc.build())
    }
  }
}

/** Fetches a chunk with adaptive bisection: on a node result-cap error the
  * range is split and retried recursively; a single block that still fails
  * is skipped WITH a warning + metric (the reference skips silently —
  * LogsService.java:616-624; SURVEY §7.4 asks us to surface it).
  */
final class EthLogsReader(
    schema: StructType,
    partition: BlockRange,
    addresses: Seq[String],
    topics: Seq[String],
    rpc: EthRpc) extends PartitionReader[InternalRow] with Logging {

  private var skippedBlocks = 0L

  private def fetch(s: Long, e: Long, depth: Int): Seq[EthLog] =
    try rpc.getLogs(s, e, addresses, topics)
    catch {
      case ex: TooManyResultsException =>
        if (s == e) {
          logWarning(s"graft-eth: skipping un-fetchable block $s (${ex.getMessage})")
          skippedBlocks += 1
          Seq.empty
        } else {
          val mid = s + (e - s) / 2
          fetch(s, mid, depth + 1) ++ fetch(mid + 1, e, depth + 1)
        }
    }

  private lazy val iter: Iterator[EthLog] =
    fetch(partition.start, partition.end, 0).iterator

  private var current: EthLog = _
  override def next(): Boolean = {
    if (iter.hasNext) { current = iter.next(); true } else false
  }
  override def get(): InternalRow = EthRowEncoder.logRow(schema, current)
  override def close(): Unit =
    if (skippedBlocks > 0) logWarning(s"graft-eth: partition $partition skipped $skippedBlocks blocks")
}

/** Per-block header fetch, in block order. The reference waits out one
  * round trip per header on one thread (BlocksService.java:145-150); here
  * partitions run in parallel across the cluster, and within one the RPC
  * may keep several calls in flight ([[HttpRpc.getBlocks]]).
  */
final class EthBlocksReader(
    schema: StructType,
    partition: BlockRange,
    rpc: EthRpc) extends PartitionReader[InternalRow] {

  private val iter: Iterator[EthBlock] = rpc.getBlocks(partition.start, partition.end)

  private var current: EthBlock = _
  override def next(): Boolean = {
    if (iter.hasNext) { current = iter.next(); true } else false
  }
  override def get(): InternalRow = EthRowEncoder.blockRow(schema, current)
  override def close(): Unit = iter match {
    case pending: AutoCloseable => pending.close()
    case _ =>
  }
}

/** Case-class → InternalRow projection honoring column pruning: only the
  * fields in the (pruned) read schema are materialized — the analog of the
  * reference's full-row Arrow population (Converter.java:126-293) minus the
  * always-all-columns waste.
  */
object EthRowEncoder {
  private def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)
  private def arr(xs: Seq[String]): GenericArrayData =
    if (xs == null) null else new GenericArrayData(xs.map(utf8).toArray[Any])

  def logRow(schema: StructType, l: EthLog): InternalRow = {
    val vals = schema.fieldNames.map {
      case "address" => utf8(l.address)
      case "data" => utf8(l.data)
      case "topics" => arr(l.topics)
      case "blockNumber" => l.blockNumber
      case "transactionHash" => utf8(l.transactionHash)
      case "transactionIndex" => l.transactionIndex
      case "blockHash" => utf8(l.blockHash)
      case "logIndex" => l.logIndex
      case "removed" => l.removed
      case other => throw new IllegalArgumentException(s"unknown logs column $other")
    }
    InternalRow.fromSeq(vals.toIndexedSeq)
  }

  def blockRow(schema: StructType, b: EthBlock): InternalRow = {
    val vals = schema.fieldNames.map {
      case "number" => b.number
      case "hash" => utf8(b.hash)
      case "parentHash" => utf8(b.parentHash)
      case "nonce" => utf8(b.nonce)
      case "sha3Uncles" => utf8(b.sha3Uncles)
      case "logsBloom" => utf8(b.logsBloom)
      case "transactionsRoot" => utf8(b.transactionsRoot)
      case "stateRoot" => utf8(b.stateRoot)
      case "receiptsRoot" => utf8(b.receiptsRoot)
      case "author" => utf8(b.author)
      case "miner" => utf8(b.miner)
      case "mixHash" => utf8(b.mixHash)
      case "difficulty" => utf8(b.difficulty)
      case "totalDifficulty" => utf8(b.totalDifficulty)
      case "extraData" => utf8(b.extraData)
      case "size" => b.size
      case "gasLimit" => b.gasLimit
      case "gasUsed" => b.gasUsed
      case "timestamp" => b.timestamp
      case "transactions" => arr(b.transactions)
      case "uncles" => arr(b.uncles)
      case "sealFields" => arr(b.sealFields)
      case other => throw new IllegalArgumentException(s"unknown blocks column $other")
    }
    InternalRow.fromSeq(vals.toIndexedSeq)
  }
}
