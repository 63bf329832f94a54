package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.{SparkEntry, SparkSpec}
import graft.operators.Artifacts
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.Trigger

/** JFR event committed after a measured block: once the stream has seen
  * it, every event committed before it has been dispatched.
  */
@jdk.jfr.Name("graft.test.ForkMarker")
class ForkMarker extends jdk.jfr.Event

/** The local raw FS under another scheme, for the delegation case. */
class OtherSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftother:///")
  override def getScheme: String = "graftother"
}

/** [[LocalCheckpointFileManager]]: atomic publish, cancel, the
  * no-overwrite contract `HDFSMetadataLog` relies on, delegation for other
  * schemes, and a streaming query whose checkpoint commits fork nothing.
  */
class LocalCheckpointFileManagerSpec extends SparkSpec {
  import LocalCheckpointFileManager.Key

  private def manager(dir: String) =
    new LocalCheckpointFileManager(new Path(dir), spark.sessionState.newHadoopConf())

  private def write(m: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def entries(dir: String): Set[String] = {
    val st = Files.list(Paths.get(dir))
    try st.iterator.asScala.map(_.getFileName.toString).toSet finally st.close()
  }

  test("a file is visible only after close, and no temp file is left") {
    val dir = Artifacts.newDir("lcfm")
    val m = manager(dir)
    val p = new Path(s"$dir/offsets/0")
    val out = m.createAtomic(p, overwriteIfPossible = false)
    out.write("v1\n{}".getBytes(UTF_8))
    out.flush()
    assert(!m.exists(p), "target visible before close")
    out.close()
    assert(m.exists(p))
    assert(new String(Files.readAllBytes(Paths.get(s"$dir/offsets/0")), UTF_8) === "v1\n{}")
    assert(entries(s"$dir/offsets") === Set("0"))
    val in = m.open(p)
    try assert(new String(in.readAllBytes(), UTF_8) === "v1\n{}") finally in.close()
  }

  test("cancel leaves no target and no temp file") {
    val dir = Artifacts.newDir("lcfm")
    val m = manager(dir)
    val p = new Path(s"$dir/commits/3")
    val out = m.createAtomic(p, overwriteIfPossible = true)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close() // after cancel: a no-op, as in Spark's own streams
    assert(!m.exists(p))
    assert(entries(s"$dir/commits").isEmpty)
  }

  test("no overwrite: an existing target throws FileAlreadyExistsException and stays byte-identical") {
    val dir = Artifacts.newDir("lcfm")
    val m = manager(dir)
    val p = new Path(s"$dir/offsets/7")
    write(m, p, "first", overwrite = false)
    val before = Files.readAllBytes(Paths.get(s"$dir/offsets/7"))
    intercept[FileAlreadyExistsException](write(m, p, "second writer", overwrite = false))
    assert(Files.readAllBytes(Paths.get(s"$dir/offsets/7")) sameElements before)
    assert(entries(s"$dir/offsets") === Set("7"))
  }

  test("overwrite replaces the target and drops its stale .crc") {
    val dir = Artifacts.newDir("lcfm")
    val m = manager(dir)
    val p = new Path(s"$dir/state/1.delta")
    write(m, p, "old", overwrite = true)
    Files.write(Paths.get(s"$dir/state/.1.delta.crc"), Array[Byte](1, 2, 3))
    assert(m.list(new Path(s"$dir/state")).map(_.getPath.getName).toSeq === Seq("1.delta"))
    write(m, p, "new", overwrite = true)
    assert(new String(Files.readAllBytes(Paths.get(s"$dir/state/1.delta")), UTF_8) === "new")
    assert(entries(s"$dir/state") === Set("1.delta"))
    m.delete(p)
    assert(!m.exists(p) && entries(s"$dir/state").isEmpty)
  }

  test("a non-file scheme gets the manager Spark would pick") {
    val dir = Artifacts.newDir("lcfm")
    val conf = new Configuration(spark.sessionState.newHadoopConf())
    conf.set("fs.graftother.impl", classOf[OtherSchemeFileSystem].getName)
    conf.setBoolean("fs.graftother.impl.disable.cache", true)
    val p = new Path(s"graftother://$dir")
    val m = new LocalCheckpointFileManager(p, conf)
    val unset = new Configuration(conf)
    unset.unset(Key)
    val sparks = CheckpointFileManager.create(p, unset).getClass
    // no AbstractFileSystem for the scheme: FileContext fails, FileSystem serves
    assert(sparks === classOf[FileSystemBasedCheckpointFileManager])
    assert(m.delegate.map(_.getClass) === Some(sparks))
    write(m, new Path(p, "offsets/0"), "v1", overwrite = false)
    assert(m.exists(new Path(p, "offsets/0")))
    assert(manager(dir).delegate.isEmpty)
  }

  /** Commands of the processes Hadoop code started while `body` ran. Only
    * those: Spark's executor-metrics poller runs `getconf PAGESIZE` once
    * per JVM, at a time no test controls.
    */
  private def forks(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val marked = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[ForkMarker])
      rs.onEvent("jdk.ProcessStart", e => {
        val frames = Option(e.getStackTrace).fold(Seq.empty[jdk.jfr.consumer.RecordedFrame])(_.getFrames.asScala.toSeq)
        if (frames.exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.")))
          seen.add(e.getString("command"))
      })
      rs.onEvent("graft.test.ForkMarker", _ => marked.countDown())
      rs.startAsync()
      body
      new ForkMarker().commit()
      assert(marked.await(60, TimeUnit.SECONDS), "JFR never delivered the marker")
    } finally rs.close()
    seen.asScala.toSeq
  }

  /** A 20-trigger query over the synthetic chain into a no-op sink. */
  private def twentyTriggers(): Unit = {
    val q = spark.readStream.format("graft-eth")
      .option("dataset", "logs").option("startBlock", "0").option("head", "199")
      .option("maxBlocksPerTrigger", "10").load()
      .writeStream.format("noop")
      .option("checkpointLocation", Artifacts.newDir("lcfm_ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000L)
    assert(q.exception.isEmpty, q.exception.toString)
    assert(q.recentProgress.count(_.numInputRows > 0) === 20)
  }

  test("a 20-trigger streaming query forks no Hadoop process; Spark's default manager forks") {
    assert(spark.conf.get(Key) === classOf[LocalCheckpointFileManager].getName)
    twentyTriggers() // warm-up: class loading and the synthetic chain
    val ours = forks(twentyTriggers())
    assert(ours.isEmpty, s"${ours.size} forks, e.g. ${ours.take(5)}")
    spark.conf.unset(Key)
    val default = try forks(twentyTriggers()) finally SparkEntry.install(spark)
    assert(default.nonEmpty, "Spark's default manager forked nothing: the check sees no forks")
  }
}
