package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** STORAGE-PARTITIONED-JOIN surface of the connector: a DSv2 catalog
  * (`spark.sql.catalog.<name> = graft.sources.EthSpjCatalog`) exposing the
  * chain's `logs` and `blocks` as tables whose scans REPORT their
  * partitioning — `KeyGroupedPartitioning(chunk(blockCol))`, one input
  * partition per chunk-aligned block range, each carrying its chunk id as
  * the partition key. Both tables share the ONE `chunk` V2 function
  * (x DIV chunkSize, resolved through this same catalog — catalogs are
  * the only way Spark can resolve a transform in a reported partitioning),
  * so a logs⋈blocks equi-join on the block number is co-partitioned at
  * the SOURCE and plans with NO shuffle on either side once
  * `spark.sql.sources.v2.bucketing.enabled` is on. At 100 TB this is the
  * connector-side answer to the bucketed-warehouse join (c31): the
  * storage layout itself carries the distribution, and the join moves no
  * data at all. The read path is the `format("graft-eth")` reader factory
  * (bisection, synthetic RPC). Topic0/address pushdown arrives the same
  * way as on the TableProvider path — TopicPushdownRule rewrites the
  * relation's scan options (e21 pins it here, e04 there); aggregate
  * pushdown stays TableProvider-only (e18) — e20 pins THIS surface's
  * partitioning contract.
  */
class EthSpjCatalog extends TableCatalog with FunctionCatalog {
  private var catName = "graft_spj"
  private var options: CaseInsensitiveStringMap = _

  override def initialize(name: String, opts: CaseInsensitiveStringMap): Unit = {
    catName = name
    options = opts
  }
  override def name(): String = catName

  private def head: Long = Option(options.get("head")).map(_.toLong).getOrElse(999L)
  private def chunkSize: Long = Option(options.get("chunk")).map(_.toLong).getOrElse(100L)
  private def rpc: EthRpcSpec = EthRpcSpec.fromOptions(options)

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array("logs", "blocks").map(Identifier.of(namespace, _))

  // TableCatalog contract: unknown table → NoSuchTableException, so
  // spark.catalog.tableExists and fall-back resolution paths see a clean
  // table-not-found instead of an opaque error.
  override def loadTable(ident: Identifier): Table = ident.name() match {
    case d @ ("logs" | "blocks") => new EthSpjTable(d, head, chunkSize, rpc)
    case _ => throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("read-only catalog")
  override def dropTable(ident: Identifier): Boolean = false
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("read-only catalog")

  // ——— FunctionCatalog: the shared chunk transform ———

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "chunk"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name() == "chunk") new ChunkUnbound(chunkSize)
    else throw new UnsupportedOperationException(
      s"graft-eth SPJ catalog has no function '${ident.name()}'")
}

/** `chunk(x) = x DIV chunkSize` — the block-range bucketing transform. */
final class ChunkUnbound(size: Long) extends UnboundFunction {
  override def name(): String = "chunk"
  override def description(): String = s"chunk(x) = x div $size"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1 && inputType.fields(0).dataType == LongType,
      s"chunk expects one BIGINT argument, got $inputType")
    new ChunkFunction(size)
  }
}

/** The bound form. `canonicalName` carries the chunk size: SPJ declares
  * two sides co-partitioned only when their transforms are THE SAME
  * function, and chunk(100) and chunk(50) must never unify.
  */
final class ChunkFunction(size: Long) extends ScalarFunction[java.lang.Long] {
  override def name(): String = "chunk"
  override def canonicalName(): String = s"graft.chunk($size)"
  override def inputTypes(): Array[DataType] = Array(LongType)
  override def resultType(): DataType = LongType
  override def produceResult(input: InternalRow): java.lang.Long = input.getLong(0) / size
}

final class EthSpjTable(dataset: String, head: Long, chunkSize: Long, rpc: EthRpcSpec)
    extends Table with SupportsRead {
  private val blockCol = if (dataset == "logs") "blockNumber" else "number"
  override def name(): String = s"graft-eth-spj:$dataset"
  override def schema(): StructType = EthSchemas.forDataset(dataset)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  // `topics`/`addresses` scan options (set on the relation by
  // TopicPushdownRule, exactly as on the TableProvider path) reach the
  // node-side eth_getLogs filter — a catalog user filtering on topic0
  // must not fetch whole chunks. Purely data-reducing: the Catalyst
  // Filter stays in the plan as the exact residual. Column pruning
  // mirrors the TableProvider path (e10): a 3-column rollup over the
  // 22-column blocks table must not decode 22 columns per block. If the
  // pruned schema drops the partitioning column, Spark simply fails to
  // resolve the reported KeyGroupedPartitioning and falls back — pruning
  // never breaks the SPJ contract, it just can't co-partition a join
  // that doesn't carry the key.
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    def csv(key: String): Seq[String] =
      Option(options.get(key)).map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Seq.empty)
    val addrs = csv("addresses").map(_.toLowerCase)
    val tops = csv("topics")
    new ScanBuilder with SupportsPushDownRequiredColumns
        with SupportsPushDownAggregates {
      private var required: StructType = EthSchemas.forDataset(dataset)
      private var pushedAgg: Option[Seq[String]] = None
      override def pruneColumns(r: StructType): Unit = { required = r }
      // blocks COUNT/MIN/MAX are range arithmetic on this surface too —
      // the shared EthAggPushdown contract (complete pushdown, no
      // re-aggregation, zero rows fetched)
      override def supportCompletePushDown(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
        EthAggPushdown.supported(dataset, blockCol, agg).isDefined
      override def pushAggregation(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
        EthAggPushdown.supported(dataset, blockCol, agg) match {
          case some @ Some(_) => pushedAgg = some; true
          case None => false
        }
      override def build(): Scan = pushedAgg match {
        case Some(funcs) => new EthAggScan(funcs, 0L, head, rpc)
        case None =>
          new EthSpjScan(dataset, blockCol, head, chunkSize, rpc, addrs, tops, required)
      }
    }
  }
}

/** One chunk-aligned closed block range, keyed by its chunk id — the
  * partition key Spark groups on for the storage-partitioned join.
  */
final case class KeyedBlockRange(start: Long, end: Long, chunkId: Long)
    extends BlockRange with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(chunkId)
}

final class EthSpjScan(dataset: String, blockCol: String, head: Long,
    chunkSize: Long, rpc: EthRpcSpec,
    addresses: Seq[String] = Seq.empty, topics: Seq[String] = Seq.empty,
    requiredSchema: StructType = null)
    extends Scan with Batch with SupportsReportPartitioning {

  override def readSchema(): StructType =
    Option(requiredSchema).getOrElse(EthSchemas.forDataset(dataset))
  override def toBatch: Batch = this

  private def nChunks: Int = (head / chunkSize + 1).toInt

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.apply("chunk", Expressions.column(blockCol))), nChunks)

  override def planInputPartitions(): Array[InputPartition] =
    (0 until nChunks).map { k =>
      KeyedBlockRange(k.toLong * chunkSize,
        math.min((k.toLong + 1) * chunkSize - 1, head), k.toLong)
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new EthReaderFactory(dataset, readSchema(), addresses, topics, rpc)

  override def description(): String =
    s"graft-eth-spj $dataset [0..$head] chunk=$chunkSize " +
      s"addrs=${addresses.size} topics=${topics.size}"
}
