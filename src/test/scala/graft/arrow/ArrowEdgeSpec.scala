package graft.arrow

import java.io.{File, FileInputStream}

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.arrow.vector.types.pojo.Schema

import graft.SparkSpec
import graft.operators.Artifacts
import org.apache.spark.sql.functions._

/** Round-trip and null/empty-list semantics for the Arrow IPC edge —
  * mirrors the reference's ConverterTest fixtures: full-row conversion,
  * null handling, and the empty-list vs null-list distinction
  * (ConverterTest.java:42-197).
  */
class ArrowEdgeSpec extends SparkSpec {

  import spark.implicits._

  /** Each part file's stream schema and the row count of each record batch. */
  private def streams(dir: String): Seq[(Schema, Seq[Int])] =
    new File(dir).listFiles().sortBy(_.getName).toSeq.map { f =>
      val allocator = new RootAllocator()
      val in = new FileInputStream(f)
      val reader = new ArrowStreamReader(in, allocator)
      try {
        val root = reader.getVectorSchemaRoot
        val sizes = Seq.newBuilder[Int]
        while (reader.loadNextBatch()) sizes += root.getRowCount
        (root.getSchema, sizes.result())
      } finally { reader.close(); in.close(); allocator.close() }
    }

  test("logs-shaped DataFrame round-trips through Arrow IPC") {
    val dir = Artifacts.newDir("graft_arrow")
    val df = spark.read.format("graft-eth").option("dataset", "logs")
      .option("startBlock", "0").option("endBlock", "199").load()
    ArrowEdge.writeIpc(df, dir, batchSize = 128)
    val back = ArrowEdge.readIpc(dir)
    assert(back.size === df.count())
    val expected = df.orderBy("blockNumber", "logIndex")
      .select("address", "blockNumber", "topics").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2).toList)).toSeq
    val cols = df.schema.fieldNames.zipWithIndex.toMap
    val got = back.map(r => (
      r(cols("address")).asInstanceOf[String],
      r(cols("blockNumber")).asInstanceOf[Long],
      r(cols("topics")).asInstanceOf[List[String]]))
      .sortBy(t => (t._2, t._1))
    assert(got.sortBy(t => (t._2, t._1)) === expected.sortBy(t => (t._2, t._1)))
  }

  test("null vs empty list are preserved distinctly (ConverterTest semantics)") {
    val dir = Artifacts.newDir("graft_arrow_nulls")
    val df = Seq(
      (1L, Some(Seq("a", "b")), Some("x")),
      (2L, Some(Seq.empty[String]), None),
      (3L, None, Some("z")),
      (4L, Some(Seq("a", null)), Some("w"))
    ).toDF("id", "arr", "s")
      .select($"id", $"arr".cast("array<string>").as("arr"), $"s")
    ArrowEdge.writeIpc(df.coalesce(1), dir)
    val back = ArrowEdge.readIpc(dir).sortBy(_(0).asInstanceOf[Long])
    assert(back(0)(1) === List("a", "b"))
    assert(back(1)(1) === List.empty) // empty list stays empty, not null
    assert(back(1)(2) === null)
    assert(back(2)(1) === null) // null list stays null, not empty
    assert(back(2)(2) === "z")
    assert(back(3)(1) === List("a", null)) // a null element stays a null element
  }

  test("batch_size controls record-batch granularity (SURVEY §8.1 fix)") {
    val dir = Artifacts.newDir("graft_arrow_batch")
    val df = spark.range(1000).select(col("id"), concat(lit("v"), col("id")).as("s"))
    ArrowEdge.writeIpc(df.coalesce(1), dir, batchSize = 100)
    // 1000 rows / batch 100 → readable, complete, in ten full batches
    val back = ArrowEdge.readIpc(dir)
    assert(back.size === 1000)
    assert(back.map(_(0).asInstanceOf[Long]).toSet === (0L until 1000L).toSet)
    assert(streams(dir).map(_._2) === Seq(Seq.fill(10)(100)))
    intercept[IllegalArgumentException](
      ArrowEdge.writeIpc(df, Artifacts.newDir("graft_arrow_batch0"), batchSize = 0))
  }

  test("an empty partition still writes a stream with the schema and no batches") {
    val dir = Artifacts.newDir("graft_arrow_empty")
    val df = spark.range(2).select(col("id"), concat(lit("v"), col("id")).as("s")).repartition(4)
    ArrowEdge.writeIpc(df, dir)
    val files = streams(dir)
    assert(files.size === 4)
    files.foreach { case (schema, _) => assert(schema === ArrowEdge.toArrowSchema(df.schema)) }
    assert(files.exists(_._2.isEmpty), s"2 rows over 4 partitions: $files")
    assert(files.flatMap(_._2).sum === 2)
    assert(ArrowEdge.readIpc(dir).map(_(1)).toSet === Set("v0", "v1"))
  }

  test("an unsupported column type is rejected on the driver, before any file") {
    val dir = Artifacts.newDir("graft_arrow_reject")
    val df = Seq((1L, Map("k" -> "v"))).toDF("id", "attrs")
    val e = intercept[IllegalArgumentException](ArrowEdge.writeIpc(df, dir))
    assert(e.getMessage.contains("column attrs"), e.getMessage)
    assert(new File(dir).list().isEmpty)
  }
}
