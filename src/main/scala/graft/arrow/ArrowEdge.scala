package graft.arrow

import java.io.{File, FileOutputStream}
import java.nio.channels.Channels

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.VectorSchemaRoot
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.arrow.ArrowWriter
import org.apache.spark.sql.types._

/** Arrow IPC edge (SURVEY M5 — reference S16/S17/S21): the columnar output
  * surface. The reference hand-populates Arrow vectors per dataset with a
  * two-pass pre-size-then-fill loop (Converter.java:126-293); here each
  * task hands its partition's `InternalRow`s straight to Spark's own
  * `ArrowWriter`, over a `VectorSchemaRoot` built from graft's schema
  * ([[toArrowSchema]]), and writes them as an independent Arrow IPC
  * stream file (the unit a Flight `do_get` endpoint would serve). No
  * external `Row` is built: strings go into the vectors as `UTF8String`
  * bytes, and vector capacity is reused from batch to batch.
  *
  * Supported Spark types: the reference schemas' closure — string, long,
  * int, boolean, double, binary, array<string>. Any other type is
  * rejected on the driver, before a job runs.
  */
object ArrowEdge {

  /** Arrow schema mirroring a Spark schema (nullable everywhere, like the
    * reference's schemas — Converter.java:41-52).
    */
  def toArrowSchema(schema: StructType): ArrowSchema = {
    val fields = schema.fields.map { f =>
      f.dataType match {
        case StringType => Field.nullable(f.name, ArrowType.Utf8.INSTANCE)
        case LongType => Field.nullable(f.name, new ArrowType.Int(64, true))
        case IntegerType => Field.nullable(f.name, new ArrowType.Int(32, true))
        case BooleanType => Field.nullable(f.name, ArrowType.Bool.INSTANCE)
        case DoubleType =>
          Field.nullable(f.name, new ArrowType.FloatingPoint(
            org.apache.arrow.vector.types.FloatingPointPrecision.DOUBLE))
        case BinaryType => Field.nullable(f.name, ArrowType.Binary.INSTANCE)
        case ArrayType(StringType, _) =>
          new Field(f.name, FieldType.nullable(ArrowType.List.INSTANCE),
            List(Field.nullable("item", ArrowType.Utf8.INSTANCE)).asJava)
        case other => throw new IllegalArgumentException(
          s"ArrowEdge: unsupported type ${other.sql} for column ${f.name}")
      }
    }
    new ArrowSchema(fields.toList.asJava)
  }

  /** Write a DataFrame as Arrow IPC stream files, one per partition,
    * batching `batchSize` rows per Arrow record batch (the `batch_size`
    * the reference documents but never implemented — README.md:26,
    * SURVEY §8.1). Runs on executors; no driver collect. A partition with
    * no rows still writes a stream: the schema and no batches.
    */
  def writeIpc(df: DataFrame, dir: String, batchSize: Int = 4096): Unit = {
    val schema = df.schema
    require(batchSize > 0, s"ArrowEdge: batchSize must be positive, got $batchSize")
    toArrowSchema(schema) // reject unsupported types before any job runs
    df.queryExecution.toRdd.foreachPartition { rows =>
      val pid = TaskContext.getPartitionId()
      val allocator = new RootAllocator()
      val root = VectorSchemaRoot.create(toArrowSchema(schema), allocator)
      val out = new File(dir)
      out.mkdirs()
      val fos = new FileOutputStream(new File(out, f"part-$pid%05d.arrow"))
      val writer = new ArrowStreamWriter(root, null, Channels.newChannel(fos))
      try {
        val rowWriter = ArrowWriter.create(root)
        writer.start()
        while (rows.hasNext) {
          var n = 0
          while (n < batchSize && rows.hasNext) { rowWriter.write(rows.next()); n += 1 }
          rowWriter.finish()
          writer.writeBatch()
          rowWriter.reset()
        }
        writer.end()
      } finally {
        writer.close(); fos.close(); root.close(); allocator.close()
      }
    }
  }

  /** Read Arrow IPC stream files back (driver-side; test/debug surface —
    * the reference's client consume loop, FlightRpcClient.java:33-55).
    */
  def readIpc(dir: String): Seq[Seq[Any]] = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".arrow")).sortBy(_.getName)
    val allocator = new RootAllocator()
    try {
      files.toSeq.flatMap { f =>
        val in = new java.io.FileInputStream(f)
        val reader = new ArrowStreamReader(in, allocator)
        try {
          val root = reader.getVectorSchemaRoot
          val out = Seq.newBuilder[Seq[Any]]
          while (reader.loadNextBatch()) {
            (0 until root.getRowCount).foreach { i =>
              out += root.getFieldVectors.asScala.toSeq.map { v =>
                if (v.isNull(i)) null
                else v.getObject(i) match {
                  case t: org.apache.arrow.vector.util.Text => t.toString
                  case l: java.util.List[_] => l.asScala.toList.map {
                    case t: org.apache.arrow.vector.util.Text => t.toString
                    case x => x
                  }
                  case x => x
                }
              }
            }
          }
          out.result()
        } finally { reader.close(); in.close() }
      }
    } finally allocator.close()
  }
}
