package graft.operators

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.streaming.LocalCheckpointFileManager

/** The bounded streaming drain every StreamShape query runs: stage a feed,
  * run the writer to completion under `Trigger.AvailableNow`, read the
  * result back. Feeds and checkpoints live in [[Artifacts.newDir]] dirs, so
  * the JVM's shutdown reaper deletes them. Checkpoints are committed
  * through [[graft.streaming.LocalCheckpointFileManager]], so a local
  * offset-, commit-log or state-store write forks no `chmod`/`readlink`
  * process (see [[run]]). `q` is the query's short id
  * (x04, d24, …): it prefixes those dirs and the fed-batch failure message.
  * A [[batches]] body keeps its cross-batch state in a [[Store]].
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
    * micro-batches that read input. The checkpoint (offset and commit logs,
    * state-store files) is written through [[LocalCheckpointFileManager]]
    * unless `s` already names a checkpoint file manager.
    */
  def run(s: SparkSession, q: String, ckpt: String, w: DataStreamWriter[_], minFed: Int,
      reason: String): StreamingQuery = {
    LocalCheckpointFileManager.install(s)
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

    /** The newest entry of a batch before `batchId`. */
    def latestBefore(batchId: Long): Option[String] = allBefore(batchId).lastOption

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
