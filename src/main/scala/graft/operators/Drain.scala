package graft.operators

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, Row, SparkSession}
import org.apache.spark.sql.functions.{lit, max, min, pmod}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The bounded streaming drain every StreamShape query runs: stage a feed,
  * run the writer to completion under `Trigger.AvailableNow`, read the
  * result back. Feeds and checkpoints live in [[Artifacts.newDir]] dirs, so
  * the JVM's shutdown reaper deletes them. Checkpoints are committed
  * through the session's checkpoint file manager, which
  * [[graft.SparkEntry.install]] sets to the fork-free
  * [[graft.streaming.LocalCheckpointFileManager]]. `q` is the query's short id
  * (x04, d24, …): it prefixes those dirs and the fed-batch failure message.
  * A feed is split with [[byKey]] or [[cuts]]; a [[batches]] body keeps its
  * cross-batch state in a [[Store]], and [[partials]] is the body that
  * keeps one partial per batch.
  */
object Drain {

  // unique memory-sink names so concurrent builds in one session never collide
  private val memId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Stage each part as one delivery, in order, and return the feed. */
  def feed(s: SparkSession, q: String, parts: DataFrame*): DataFrame =
    read(s, stage(q, parts: _*), parts.head.schema)

  /** Write each part as one parquet dir of a fresh feed dir, delivery order
    * pinned to the argument order; returns the feed dir.
    */
  def stage(q: String, parts: DataFrame*): String = {
    val dir = Artifacts.newDir(s"${q}src")
    parts.zipWithIndex.foreach { case (p, i) => p.coalesce(1).write.parquet(s"$dir/b$i") }
    (1 until parts.size).foreach(i => forceDeliveryOrder(s"$dir/b${i - 1}", s"$dir/b$i"))
    dir
  }

  /** The `n` parts `pmod(key, n) === r`, r = 0 until n: every row lands in
    * exactly one part, negative keys included.
    */
  def byKey(df: DataFrame, key: Column, n: Int): Seq[DataFrame] =
    (0 until n).map(r => df.where(pmod(key, lit(n)) === r))

  /** The `n` equal-width parts of `c`'s range, cut at
    * `lo + k * ((hi - lo) / n)` for k = 1 until n: every row lands in
    * exactly one part, the max row in the last. `c` is a BIGINT column;
    * its min and max are one driver-side aggregate.
    */
  def cuts(df: DataFrame, c: Column, n: Int): Seq[DataFrame] = {
    val r = df.agg(min(c), max(c)).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val at = (1 until n).map(k => lo + k * ((hi - lo) / n))
    (0 until n).map { k =>
      (at.lift(k - 1).map(c >= _).toSeq ++ at.lift(k).map(c < _))
        .reduceOption(_ && _).fold(df)(cond => df.where(cond))
    }
  }

  /** Stage fixture files copied as they are, and return the feed. The file
    * stream lists a DIRECTORY; a fixture table is a single parquet file.
    */
  def copies(s: SparkSession, q: String, files: String*): DataFrame = {
    val dir = Paths.get(Artifacts.newDir(s"${q}src"))
    files.zipWithIndex.foreach { case (f, i) =>
      Files.copy(Paths.get(f), dir.resolve(s"f$i.parquet"))
    }
    read(s, dir.toString, Catalog.parquet(s, files.head).schema)
  }

  /** A staged feed dir as a stream: one file per micro-batch. */
  def read(s: SparkSession, dir: String, schema: StructType): DataFrame =
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(dir)

  /** Run `w`, a writer of a stream in session `s`, to completion under
    * AvailableNow on checkpoint `ckpt`, and require at least `minFed`
    * micro-batches that read input. `s` is a session made ready by
    * [[graft.SparkEntry.install]].
    */
  def run(s: SparkSession, q: String, ckpt: String, w: DataStreamWriter[_], minFed: Int,
      reason: String): StreamingQuery = {
    val sq = w.trigger(Trigger.AvailableNow()).option("checkpointLocation", ckpt).start()
    sq.awaitTermination()
    val fed = sq.recentProgress.count(_.numInputRows > 0)
    require(fed >= minFed, s"$q drained in $fed micro-batch(es) — $reason")
    sq
  }

  def run(s: SparkSession, q: String, ckpt: String, w: DataStreamWriter[_]): StreamingQuery =
    run(s, q, ckpt, w, 0, "")

  /** Drain `df` into a memory sink and return its rows with the finished
    * query. The sink's view is dropped: the returned plan keeps its own
    * reference to the sink.
    */
  def memoryQuery(q: String, df: DataFrame, mode: String, minFed: Int,
      reason: String): (DataFrame, StreamingQuery) = {
    val s = df.sparkSession
    val name = s"${q}_mem_${memId.incrementAndGet()}"
    try {
      val sq = run(s, q, Artifacts.newDir(s"${q}ckpt"),
        df.writeStream.format("memory").queryName(name).outputMode(mode), minFed, reason)
      (s.table(name), sq)
    } finally s.catalog.dropTempView(name)
  }

  def memory(q: String, df: DataFrame, mode: String, minFed: Int, reason: String): DataFrame =
    memoryQuery(q, df, mode, minFed, reason)._1

  def memory(q: String, df: DataFrame, mode: String): DataFrame = memory(q, df, mode, 0, "")

  /** Drain `df` through foreachBatch: `f` gets every non-empty micro-batch
    * with its batch id.
    */
  def batches(q: String, df: DataFrame, minFed: Int, reason: String)(
      f: (DataFrame, Long) => Unit): Unit =
    run(df.sparkSession, q, Artifacts.newDir(s"${q}ckpt"),
      df.writeStream.foreachBatch { (b: DataFrame, id: Long) => if (!b.isEmpty) f(b, id) },
      minFed, reason)

  /** Drain `stream` through [[batches]], keep `f(batch)` as the batch's
    * [[Store]] entry, and return every entry's rows. The caller merges
    * them by its own law (a sum, a max, a union and re-take-k, …).
    */
  def partials(q: String, stream: DataFrame, minFed: Int, reason: String)(
      f: DataFrame => DataFrame): DataFrame = {
    val store = Store(s"${q}part")
    batches(q, stream, minFed, reason)((b, id) => store.put(id, f(b)))
    store.read(stream.sparkSession)
  }

  /** The cross-batch state of a [[batches]] query: micro-batch `id`'s entry
    * is the dir `b<id>` under `root`. [[put]] replaces the entry, so a
    * retried batch overwrites its first attempt instead of adding to it
    * (the idempotent sink keyed by batch id that exactly-once
    * foreachBatch output needs). The entries are found by listing `root`,
    * not through a driver-side index: a query restarted from its
    * checkpoint, in a new JVM or with a new `Store` on the same root, sees
    * every entry its earlier lives wrote. An empty micro-batch writes no
    * entry, so a batch chains from [[latestBefore]], never from `id - 1`.
    */
  final class Store(val root: String) {

    /** Delete `b<batchId>` if an earlier attempt left it, then `write` the
      * entry into that dir; returns the dir.
      */
    def put(batchId: Long)(write: String => Unit): String = {
      val dir = Paths.get(root, s"b$batchId")
      Artifacts.deleteRecursively(dir)
      write(dir.toString)
      dir.toString
    }

    /** [[put]] `df` as batch `batchId`'s parquet entry. */
    def put(batchId: Long, df: DataFrame): String = put(batchId)(df.write.parquet(_))

    /** The newest entry of a batch before `batchId`. */
    def latestBefore(batchId: Long): Option[String] = allBefore(batchId).lastOption

    /** [[latestBefore]]'s rows, or no rows of DDL schema `empty` when no
      * earlier batch wrote an entry.
      */
    def readLatestBefore(s: SparkSession, batchId: Long, empty: String): DataFrame =
      latestBefore(batchId).fold(
        s.createDataFrame(java.util.Collections.emptyList[Row](), StructType.fromDDL(empty)))(
        s.read.parquet(_))

    /** Every entry of a batch before `batchId`, in batch order. */
    def allBefore(batchId: Long): Seq[String] =
      listDir(root).toSeq.map(_.getFileName.toString)
        .collect { case Store.Entry(id) => id.toLong }.filter(_ < batchId).sorted
        .map(id => s"$root/b$id")

    /** Every entry's rows, read through `r`. */
    def read(r: DataFrameReader): DataFrame = r.option("recursiveFileLookup", "true").parquet(root)

    def read(s: SparkSession): DataFrame = read(s.read)
  }

  object Store {
    private val Entry = "b(\\d+)".r

    /** A store in a fresh [[Artifacts.newDir]] dir prefixed `q`. */
    def apply(q: String): Store = new Store(Artifacts.newDir(q))
  }

  /** Force every file under `laterDir` to an mtime strictly past any file
    * under `earlierDir`: FileStreamSource orders pending files by
    * modification time with no tiebreak, so [[stage]] pins the argument
    * order this way.
    */
  private def forceDeliveryOrder(earlierDir: String, laterDir: String): Unit = {
    val maxEarlier = listDir(earlierDir).map(p => Files.getLastModifiedTime(p).toMillis).max
    listDir(laterDir).foreach { p =>
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(maxEarlier + 60000))
    }
  }

  private def listDir(dir: String): Array[java.nio.file.Path] = {
    val st = Files.list(Paths.get(dir))
    try st.toArray.map(_.asInstanceOf[java.nio.file.Path]) finally st.close()
  }
}
