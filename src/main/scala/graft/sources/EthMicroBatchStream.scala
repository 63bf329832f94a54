package graft.sources

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

/** Offset = last fully-processed block number. Contiguity of
  * [lastCommitted+1 .. latest] micro-batches is what deletes the
  * reference's entire backfill→live state machine (Subscription.java:39-149:
  * BACKFILLING buffer, ordered send chain, completeBackfill drain) and its
  * at-least-once overlap window (SURVEY §8.3): backfill (startingBlock far
  * behind head) and live tailing are the same code path, each block is
  * delivered exactly once per query, and checkpointing makes the position
  * durable — a capability the reference lacks entirely.
  */
final case class BlockOffset(block: Long) extends Offset {
  override def json(): String = block.toString
}

/** The `graft-eth` micro-batch source. A live trigger polls the chain head
  * once (`eth_blockNumber` in [[latestOffset]]; [[reportLatestOffset]]
  * reuses that answer) and reads the new blocks as one range per
  * `maxBlockRange` chunk, so a live batch of a few blocks is one partition.
  * The rest of a trigger's fixed cost is Spark's: the offset-log write
  * before the batch and the commit-log write after it, which graft's
  * sessions send through [[graft.streaming.LocalCheckpointFileManager]].
  */
final class EthMicroBatchStream(
    dataset: String,
    schema: StructType,
    startBlock: Long,
    addresses: Seq[String],
    topics: Seq[String],
    maxBlockRange: Long,
    maxBlocksPerTrigger: Long,
    rpcSpec: EthRpcSpec) extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  @transient private lazy val rpc: EthRpc = rpcSpec.build()

  /** Trigger.AvailableNow target: chain head snapshotted at query start, so
    * the query drains [start..head] in bounded batches then stops — the
    * batch-like "backfill whole history, then terminate" mode.
    */
  @volatile private var availableNowTarget: Option[Long] = None

  /** Chain head as of the last poll in [[latestOffset]]. */
  @volatile private var lastHead: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(rpc.blockNumber())

  /** Start one before startBlock: offsets mark the last *processed* block. */
  override def initialOffset(): Offset = BlockOffset(startBlock - 1)

  /** Unused: with SupportsAdmissionControl Spark calls the 2-arg variant
    * (same pattern as the built-in Kafka source).
    */
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(Offset, ReadLimit) is used")

  /** Chain head, clamped to `maxBlocksPerTrigger` new blocks per trigger —
    * the backpressure knob standing in for the reference's fixed rate-limit
    * sleep (LogsService.java:558-563) and giving bounded micro-batches
    * during deep backfill.
    */
  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val head = availableNowTarget.getOrElse {
      val h = rpc.blockNumber()
      lastHead = Some(h)
      h
    }
    val last = startOffset.asInstanceOf[BlockOffset].block
    BlockOffset(math.min(head, last + maxBlocksPerTrigger))
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** The head the last [[latestOffset]] polled, unclamped (Spark calls this
    * right after it, for progress reporting), as Kafka's source does; a
    * fresh poll only before any head was read.
    */
  override def reportLatestOffset(): Offset =
    BlockOffset(lastHead.orElse(availableNowTarget).getOrElse(rpc.blockNumber()))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[BlockOffset].block + 1
    val e = end.asInstanceOf[BlockOffset].block
    BlockRanges.chunks(s, e, maxBlockRange).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EthReaderFactory(dataset, schema, addresses, topics, rpcSpec)

  override def deserializeOffset(json: String): Offset = BlockOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}
