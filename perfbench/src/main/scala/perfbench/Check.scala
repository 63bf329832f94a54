package perfbench

import java.io.{File, FileInputStream}

import scala.util.hashing.MurmurHash3

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader

import graft.arrow.ArrowEdge

/** Row count plus an order-independent checksum of a set of rows. */
final case class Digest(rows: Long, sum: Long)

object Digest {
  private def canon(v: Any): String = v match {
    case null => "∅"
    case xs: java.util.List[_] => canon(scala.jdk.CollectionConverters.ListHasAsScala(xs).asScala.toSeq)
    case xs: Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  private def row(fields: Seq[Any]): Long = MurmurHash3.stringHash(fields.map(canon).mkString("\u0001")).toLong

  def of(rows: Iterable[Seq[Any]]): Digest = Digest(rows.size, rows.iterator.map(row).sum)

  /** Digest of case-class values (EthLog / EthBlock), whose field order is
    * the dataset schema's column order.
    */
  def ofProducts(ps: Iterable[Product]): Digest = of(ps.map(_.productIterator.toSeq))
}

/** What an Arrow output directory holds. */
final case class ArrowOut(digest: Digest, rows: Seq[Seq[Any]], batches: Int, bytes: Long)

object ArrowOut {
  /** Read an output directory back through graft's own `ArrowEdge.readIpc`,
    * and count its record batches and bytes.
    */
  def read(dir: String): ArrowOut = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty).filter(_.getName.endsWith(".arrow"))
    val rows = ArrowEdge.readIpc(dir)
    val alloc = new RootAllocator()
    val batches = try files.map { f =>
      val in = new FileInputStream(f)
      val r = new ArrowStreamReader(in, alloc)
      try { var n = 0; while (r.loadNextBatch()) n += 1; n } finally { r.close(); in.close() }
    }.sum finally alloc.close()
    ArrowOut(Digest.of(rows), rows, batches, files.map(_.length).sum)
  }
}
