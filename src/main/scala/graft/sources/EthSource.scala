package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 source for Ethereum-style block-range datasets — the Spark-first
  * re-expression of the reference server's scan machinery
  * (reference: LogsService.java:505-614, BlocksService.java:92-154).
  *
  * Usage:
  * {{{
  *   spark.read.format("graft-eth")
  *     .option("dataset", "logs")          // or "blocks"
  *     .option("startBlock", 0).option("endBlock", 5000)
  *     .option("maxBlockRange", 500)       // chunk = InputPartition (S5)
  *     .option("addresses", "0xabc,0xdef") // optional pre-filter (S10-as-pushdown)
  *     .option("topics", "0x123")          // topic0 OR-set (quirk §8.4)
  *     .option("rpc", "synthetic")         // or "http" + url=...
  *     .load()
  * }}}
  *
  * Streaming (`spark.readStream`, same options minus endBlock) replaces the
  * reference's BACKFILLING/STREAMING state machine (Subscription.java:39-149)
  * with offset-contiguous micro-batches: backfill and live are the same code
  * path, so the §8.3 duplicate window disappears.
  *
  * Scale design: each `maxBlockRange` chunk is one InputPartition, so a
  * 1000-executor cluster fans the RPC fetches out in parallel (the reference
  * is strictly sequential — LogsService.java:509-521). Over `rpc=http` a
  * blocks partition also keeps a window of header calls in flight, and all
  * tasks in a JVM share one HTTP client; `fetchDelayMs` keeps each task's
  * request starts that far apart for node politeness. Data-dependent range
  * bisection runs inside the reader on node result caps.
  */
final class EthSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-eth"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EthSchemas.forDataset(options.getOrDefault("dataset", "logs"))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new EthTable(schema, properties)
}

final class EthTable(schema: StructType, props: util.Map[String, String])
    extends Table with SupportsRead {
  private val dataset = Option(props.get("dataset")).getOrElse("logs")
  override def name(): String = s"graft-eth:$dataset"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EthScanBuilder(dataset, schema, options)
}

/** Scan builder with filter pushdown and column pruning.
  *
  * Pushdown (reference: address+topic+range go into the node-side filter,
  * LogsService.java:548-556): range predicates on the block-number column
  * narrow the scan range; address equality/membership becomes the node
  * filter. Pushed filters are still re-applied by Spark (we return them as
  * residuals) so case-insensitive semantics (§8.5) can never drop rows —
  * the pushdown is a data-reduction hint, exactly like the reference's
  * re-filter after node-side filtering (Subscription.java:161).
  */
final class EthScanBuilder(dataset: String, fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {

  private val blockCol = if (dataset == "logs") "blockNumber" else "number"

  private var startBlock: Long = options.getLong("startBlock", 0L)
  private var endBlock: Long = options.getLong("endBlock", -1L)
  private var addresses: Seq[String] =
    Option(options.get("addresses")).map(_.split(",").toSeq.map(_.trim.toLowerCase).filter(_.nonEmpty))
      .getOrElse(Seq.empty)

  /** AND a pushed address set into the current one. The `addresses` option is
    * part of the source definition, so a pushed predicate can only NARROW it,
    * never replace it (replacing would return rows the source excludes). An
    * empty intersection must yield an empty result — represented by a
    * sentinel address no log can carry, since an empty seq means "no filter".
    */
  private def narrowAddresses(pushedSet: Seq[String]): Unit =
    addresses =
      if (addresses.isEmpty) pushedSet
      else {
        val inter = pushedSet.filter(addresses.contains)
        if (inter.isEmpty) Seq(EthScanBuilder.NoMatchAddress) else inter
      }
  private val topics: Seq[String] =
    Option(options.get("topics")).map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)
  private var pushed: Array[Filter] = Array.empty
  private var requiredSchema: StructType = fullSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val accepted = filters.filter {
      case GreaterThan(c, v: Long) if c == blockCol => startBlock = math.max(startBlock, v + 1); true
      case GreaterThanOrEqual(c, v: Long) if c == blockCol => startBlock = math.max(startBlock, v); true
      case LessThan(c, v: Long) if c == blockCol =>
        endBlock = if (endBlock < 0) v - 1 else math.min(endBlock, v - 1); true
      case LessThanOrEqual(c, v: Long) if c == blockCol =>
        endBlock = if (endBlock < 0) v else math.min(endBlock, v); true
      case EqualTo(c, v: Long) if c == blockCol =>
        startBlock = math.max(startBlock, v)
        endBlock = if (endBlock < 0) v else math.min(endBlock, v); true
      case In(c, vs) if c == blockCol && vs.nonEmpty && vs.forall(_.isInstanceOf[Long]) =>
        // an IN set narrows the scan to its [min, max] envelope (the
        // residual re-filter drops the gaps) — without this, IN over an
        // unbounded source scans to the chain head
        val longs = vs.map(_.asInstanceOf[Long])
        startBlock = math.max(startBlock, longs.min)
        endBlock = if (endBlock < 0) longs.max else math.min(endBlock, longs.max); true
      case EqualTo("address", v: String) if dataset == "logs" =>
        narrowAddresses(Seq(v.toLowerCase)); true
      case In("address", vs) if dataset == "logs" && vs.forall(_.isInstanceOf[String]) =>
        narrowAddresses(vs.map(_.asInstanceOf[String].toLowerCase).toSeq); true
      case _ => false
    }
    pushed = accepted
    // everything is residual: Spark re-applies pushed predicates post-scan
    // (cheap — codegen'd) which keeps §8.5 case-sensitivity parity safe.
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit = {
    requiredSchema = required
  }

  /** COUNT(*)/MIN(number)/MAX(number) over the blocks dataset — COMPLETE
    * aggregate pushdown (reference: the server has no aggregate surface at
    * all; a client counting blocks downloads them). Block numbers are DENSE
    * on the chain by construction (a missing block in [start, end] is an
    * RPC error, never a gap — the reference's range loop assumes the same,
    * LogsService.java:509-521), so the three aggregates are pure range
    * arithmetic: zero RPC calls, zero rows fetched, one emitted row.
    * Catalyst only attempts aggregate pushdown when no post-scan filter
    * remains, and this builder reports every pushed predicate as residual —
    * so the pushed-aggregate path is exactly the option-configured range.
    * Logs aggregates are NOT claimed: log counts are data-dependent.
    */
  private var pushedAgg: Option[Seq[String]] = None

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    EthAggPushdown.supported(dataset, blockCol, agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    EthAggPushdown.supported(dataset, blockCol, agg) match {
      case some @ Some(_) => pushedAgg = some; true
      case None => false
    }

  /** LIMIT n over blocks caps the scan range: one row per block, so the
    * first n blocks of the range ARE n valid limit rows. Partial by the
    * interface default — Spark re-applies its limit, the cap only stops
    * the connector fetching blocks a limit would discard.
    */
  override def pushLimit(limit: Int): Boolean =
    if (dataset == "blocks" && limit > 0) {
      val cap = startBlock + limit - 1
      endBlock = if (endBlock < 0) cap else math.min(endBlock, cap)
      true
    } else false

  override def build(): Scan = pushedAgg match {
    case Some(funcs) =>
      new EthAggScan(funcs, startBlock, endBlock, EthRpcSpec.fromOptions(options))
    case None => new EthScan(
      dataset, requiredSchema, startBlock, endBlock, addresses, topics,
      options.getLong("maxBlockRange", 500L),
      options.getLong("maxBlocksPerTrigger", 5000L),
      EthRpcSpec.fromOptions(options))
  }
}

/** The connector's pushable-aggregate contract, shared by the
  * TableProvider (e18) and SPJ-catalog (e23) scan builders: COUNT(*) /
  * MIN(blockCol) / MAX(blockCol) over BLOCKS with no GROUP BY is pure
  * range arithmetic (block numbers are dense — a gap is an RPC error,
  * never a hole), so the scan fetches nothing. Logs aggregates are never
  * claimed: log counts are data-dependent.
  */
object EthAggPushdown {
  def supported(dataset: String, blockCol: String,
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Option[Seq[String]] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match { case nr: NamedReference => Some(nr.fieldNames.mkString(".")); case _ => None }
    if (dataset != "blocks" || agg.groupByExpressions.nonEmpty) return None
    val funcs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some("count")
      case m: Min if colOf(m.column).contains(blockCol) => Some("min")
      case m: Max if colOf(m.column).contains(blockCol) => Some("max")
      case _ => None
    }
    if (funcs.nonEmpty && funcs.forall(_.isDefined)) Some(funcs.flatten) else None
  }
}

object EthScanBuilder {
  /** Sentinel for "pushed ∩ option = ∅": a syntactically impossible address
    * (addresses are 0x-prefixed hex), so the node-side filter matches nothing.
    */
  val NoMatchAddress = "0x<no-match>"
}

object EthScan {
  /** Total blocks handed to partition READERS, across every batch scan in
    * the JVM — observability for runtime-filter pruning (specs reset it,
    * run a join, and assert the fetched-block count shrank). Reader-side
    * because the planner side re-plans under AQE and would over-count.
    */
  val FetchedBlocks = new java.util.concurrent.atomic.AtomicLong(0)

  /** Times a runtime (join-driven) filter reached [[EthScan.filter]] with a
    * usable block set — distinguishes "DPP never fired" from "fired but
    * didn't narrow" in specs.
    */
  val RuntimeFilterHits = new java.util.concurrent.atomic.AtomicLong(0)
}

final class EthScan(
    dataset: String,
    requiredSchema: StructType,
    startBlock: Long,
    endBlock: Long,
    addresses: Seq[String],
    topics: Seq[String],
    maxBlockRange: Long,
    maxBlocksPerTrigger: Long,
    rpc: EthRpcSpec) extends Scan with SupportsRuntimeV2Filtering with SupportsReportStatistics {

  private val blockCol = if (dataset == "logs") "blockNumber" else "number"

  /** Size statistics from range arithmetic — without them Spark assumes
    * `spark.sql.defaultSizeInBytes` (effectively infinite) for a DSv2
    * relation, so a 10-block header scan would never broadcast in a join
    * and the DPP benefit estimator refuses to prune anything against it.
    * Rows per block: exactly 1 for blocks; logs carry 0-4 per block on
    * real chains and this synthetic one — estimated at the midpoint.
    * Per-row bytes are deliberate OVERestimates (hex strings are wide):
    * an oversized broadcast fails loud at the 8 GB limit, an undersized
    * shuffle just wastes a join strategy.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val span: Long =
      if (endBlock >= 0) math.max(0L, endBlock - startBlock + 1) else Long.MaxValue
    private val rows: Long =
      if (span == Long.MaxValue) Long.MaxValue
      else if (dataset == "blocks") span
      else span * 2 // logs midpoint estimate
    private val rowBytes = if (dataset == "blocks") 2048L else 1024L
    override def sizeInBytes(): java.util.OptionalLong =
      if (rows == Long.MaxValue) java.util.OptionalLong.empty()
      else java.util.OptionalLong.of(math.max(1L, rows * rowBytes))
    override def numRows(): java.util.OptionalLong =
      if (rows == Long.MaxValue) java.util.OptionalLong.empty()
      else java.util.OptionalLong.of(rows)
  }

  /** RUNTIME (join-driven) block pruning — dynamic partition pruning for a
    * source with no static partitions: when this scan joins a small
    * relation on the block-number column, Catalyst's DPP rule hands the
    * build side's value set here BEFORE partitions are planned, and the
    * fetch range narrows to the values' [min, max] envelope (gaps inside
    * the envelope are dropped at chunk granularity — a chunk fetches only
    * if it contains a requested block). The reference client downloads the
    * full range and joins afterwards; at 100 TB this is the difference
    * between fetching the chain and fetching the blocks a dimension names.
    * The runtime predicate stays a residual (the join re-applies it), so
    * envelope-level narrowing is always sound.
    */
  @volatile private var runtimeBlocks: Option[Array[Long]] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(blockCol))

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
    val vals: Array[Long] = predicates.flatMap { p =>
      val out: Seq[Long] = (p.name(), p.children()) match {
        case ("IN", cs) if cs.length >= 2 && cs.head.isInstanceOf[NamedReference]
            && cs.head.asInstanceOf[NamedReference].fieldNames.mkString(".") == blockCol =>
          cs.tail.toSeq.flatMap {
            case l: Literal[_] => l.value() match {
              case v: java.lang.Long => Some(v.longValue()); case _ => None
            }
            case _ => None
          }
        case ("=", Array(nr: NamedReference, l: Literal[_]))
            if nr.fieldNames.mkString(".") == blockCol =>
          l.value() match { case v: java.lang.Long => Seq(v.longValue()); case _ => Seq.empty }
        case _ => Seq.empty
      }
      out
    }
    if (vals.nonEmpty) {
      EthScan.RuntimeFilterHits.incrementAndGet()
      runtimeBlocks = Some(vals.distinct.sorted)
    }
  }

  override def readSchema(): StructType = requiredSchema

  override def description(): String =
    s"graft-eth $dataset [$startBlock..${if (endBlock < 0) "latest" else endBlock}] " +
      s"chunk=$maxBlockRange addrs=${addresses.size} topics=${topics.size}"

  override def toBatch: Batch = {
    // endBlock unset ⇒ snapshot the chain head at planning time, exactly the
    // reference's latest-block resolution (S7 — LogsService.java:489-500).
    val resolvedEnd = if (endBlock >= 0) endBlock else rpc.build().blockNumber()
    // () => read at planInputPartitions() time: Spark calls scan.filter()
    // after toBatch may already be memoized, but always before partition
    // planning — a snapshot taken here could miss the runtime narrowing
    new EthBatch(dataset, requiredSchema, startBlock, resolvedEnd, addresses, topics, maxBlockRange, rpc,
      runtimeBlockSet = () => runtimeBlocks)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new EthMicroBatchStream(
      dataset, requiredSchema, startBlock, addresses, topics, maxBlockRange, maxBlocksPerTrigger, rpc)
}

/** The completely-pushed-down blocks aggregate: one partition, one row,
  * values from range arithmetic on the dense block-number domain. An
  * unset end resolves to the chain head with the SAME latest-block call
  * the row scan uses (S7) — the only RPC this scan ever makes.
  */
final class EthAggScan(funcs: Seq[String], start: Long, end: Long, rpc: EthRpcSpec)
    extends Scan with Batch {
  import org.apache.spark.sql.types.{LongType, StructField}

  override def readSchema(): StructType = StructType(funcs.map {
    case "count" => StructField("count(*)", LongType, nullable = false)
    case f => StructField(s"$f(number)", LongType)
  })

  override def description(): String =
    s"graft-eth blocks AGG-PUSHDOWN [$start..${if (end < 0) "latest" else end}] ${funcs.mkString(",")}"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val resolvedEnd = if (end >= 0) end else rpc.build().blockNumber()
    Array(EthAggPartition(funcs, start, resolvedEnd))
  }

  override def createReaderFactory(): PartitionReaderFactory = new EthAggReaderFactory
}

final case class EthAggPartition(funcs: Seq[String], start: Long, end: Long)
    extends InputPartition

final class EthAggReaderFactory extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[EthAggPartition]
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = if (emitted) false else { emitted = true; true }
      override def get(): InternalRow = {
        val n = math.max(0L, p.end - p.start + 1)
        new GenericInternalRow(p.funcs.map {
          case "count" => n.asInstanceOf[Any]
          case "min" => if (n == 0) null else p.start.asInstanceOf[Any]
          case "max" => if (n == 0) null else p.end.asInstanceOf[Any]
        }.toArray)
      }
      override def close(): Unit = ()
    }
  }
}
