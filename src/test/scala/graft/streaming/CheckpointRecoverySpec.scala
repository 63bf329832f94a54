package graft.streaming

import graft.{SparkEntry, SparkSpec}
import graft.operators.{Artifacts, Drain}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import scala.jdk.CollectionConverters._

/** Checkpointed resume: stop a streaming query mid-backfill, restart it
  * against a LONGER chain, and require exactly-once block coverage across
  * the two runs. This is durability the reference does not have at all —
  * its subscriptions restart from scratch on reconnect (SURVEY §3.2) —
  * and it closes the §8.3 duplicate window. The same holds for a
  * foreachBatch query's [[Drain.Store]]: a restarted or re-executed batch
  * chains from the entries its earlier lives wrote.
  */
class CheckpointRecoverySpec extends SparkSpec {

  /** One life of the logs stream over a chain whose head is `head`. */
  private def runOnce(ckpt: String, out: String, head: Long): Unit = {
    val df = spark.readStream.format("graft-eth")
      .option("dataset", "logs")
      .option("startBlock", "0")
      .option("head", head.toString)
      .option("maxBlocksPerTrigger", "200")
      .load()
      .select("blockNumber", "logIndex", "address")
    val q = df.writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000L)
  }

  /** Every log of blocks 0..2500 in `out` exactly once. */
  private def assertExactlyOnce(out: String): Unit = {
    val got = spark.read.parquet(out)
    val expected = new graft.sources.SyntheticRpc(42, 2500).getLogs(0, 2500, Seq.empty, Seq.empty)
    assert(got.count() === expected.size, "row count after resume")
    // exactly-once: every (block, logIndex) appears exactly once
    val dups = got.groupBy("blockNumber", "logIndex").count().where(col("count") > 1).count()
    assert(dups === 0, s"$dups duplicated (block,logIndex) pairs after resume")
    val blocks = got.select("blockNumber").distinct().count()
    val expectedBlocks = (0L to 2500L).count(b => new graft.sources.SyntheticRpc(42, 2500).logsInBlock(b) > 0)
    assert(blocks === expectedBlocks, "block coverage after resume")
  }

  test("stream resumes from checkpoint with no loss and no duplicates") {
    val ckpt = Artifacts.newDir("graft_ckpt")
    val out = Artifacts.newDir("graft_ckpt_out")
    runOnce(ckpt, out, head = 1000)  // first life: blocks 0..1000
    runOnce(ckpt, out, head = 2500)  // second life: must resume at 1001, not 0
    assertExactlyOnce(out)
  }

  test("a checkpoint begun by Spark's default manager resumes under graft's") {
    val ckpt = Artifacts.newDir("graft_ckpt_mixed")
    val out = Artifacts.newDir("graft_ckpt_mixed_out")
    def crcs(): Int = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      try walk.iterator.asScala.count(_.getFileName.toString.endsWith(".crc")) finally walk.close()
    }
    spark.conf.unset(LocalCheckpointFileManager.Key)
    try runOnce(ckpt, out, head = 1000) // life 1 writes .crc files next to its logs
    finally SparkEntry.install(spark)
    val life1Crcs = crcs()
    assert(life1Crcs > 0, "Spark's default manager wrote no .crc")
    runOnce(ckpt, out, head = 2500) // life 2 reads them, writes none
    assert(crcs() === life1Crcs)
    assertExactlyOnce(out)
  }

  test("a Drain.Store running total survives a restart and a re-executed batch") {
    import spark.implicits._
    val parts = Seq((1L to 5L).toDF("x"), (6L to 9L).toDF("x"))
    /** One life: each batch stores its rows with the running total so far.
      * Returns the store's rows and the ids of the batches this life fed.
      */
    def life(feedDir: String, ckpt: String, store: Drain.Store): (Seq[String], Seq[Long]) = {
      val feed = Drain.read(spark, feedDir, parts.head.schema)
      val sq = Drain.run(spark, "ckptstore", ckpt, feed.writeStream.foreachBatch {
        (b: DataFrame, id: Long) =>
          val prev = store.latestBefore(id)
            .map(spark.read.parquet(_).agg(max("total")).head().getLong(0)).getOrElse(0L)
          val total = prev + b.agg(sum("x")).head().getLong(0)
          store.put(id)(b.withColumn("total", lit(total)).write.parquet(_))
          ()
      })
      (store.read(spark).collect().map(_.mkString("|")).toSeq.sorted,
        sq.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq)
    }
    val (single, _) = life(Drain.stage("ckptstore", parts: _*),
      Artifacts.newDir("ckptstore_ckpt"), Drain.Store("ckptstore"))
    assert(single === ((1 to 5).map(x => s"$x|15") ++ (6 to 9).map(x => s"$x|45")).sorted)

    val feedDir = Drain.stage("ckptstore", parts.head)
    val ckpt = Artifacts.newDir("ckptstore_ckpt")
    val root = Drain.Store("ckptstore").root
    assert(life(feedDir, ckpt, new Drain.Store(root)) === (single.filter(_.endsWith("|15")), Seq(0L)))
    parts(1).coalesce(1).write.parquet(s"$feedDir/b1")
    // life 2: a new Store object, as a restarted JVM would hold
    assert(life(feedDir, ckpt, new Drain.Store(root)) === (single, Seq(1L)))
    // batch 1 ran but its commit was lost: it re-executes and replaces b1
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "commits", "1"))
    assert(life(feedDir, ckpt, new Drain.Store(root)) === (single, Seq(1L)))
    assert(new Drain.Store(root).allBefore(Long.MaxValue).map(_.split('/').last) === Seq("b0", "b1"))
  }

  test("LOCF ValueState survives a restart: life 2 fills from life 1's state") {
    import spark.implicits._
    val ckpt = Artifacts.newDir("locf_ckpt")
    val srcDir = Artifacts.newDir("locf_src")
    val outDir = Artifacts.newDir("locf_out")
    // two lives over a 2-user feed: life 1 delivers each user's last real
    // reading; life 2 delivers ONLY NULL readings, so every life-2 fill
    // must come from state recovered off the checkpoint
    val life1 = Seq(
      StreamOps.LocfEvent(1L, 10L, 100L, Some(1.5)),
      StreamOps.LocfEvent(1L, 11L, 200L, None),
      StreamOps.LocfEvent(2L, 20L, 150L, Some(7.25)),
      StreamOps.LocfEvent(3L, 30L, 120L, None)) // user 3: NO real value ever
    val life2 = Seq(
      StreamOps.LocfEvent(1L, 12L, 300L, None),
      StreamOps.LocfEvent(2L, 21L, 350L, None),
      StreamOps.LocfEvent(3L, 31L, 320L, None))
    val providerConf = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerConf)
    spark.conf.set(providerConf,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def runLife(rows: Seq[StreamOps.LocfEvent], file: String): Unit = {
        rows.toDF().coalesce(1).write.parquet(s"$srcDir/$file")
        val in = spark.readStream.schema(rows.toDF().schema)
          .option("recursiveFileLookup", "true").parquet(srcDir)
          .as[StreamOps.LocfEvent]
        val q = StreamOps.locfStream(in).toDF()
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(180000L)
      }
      runLife(life1, "b0")
      runLife(life2, "b1")
    } finally prev match {
      case Some(p) => spark.conf.set(providerConf, p)
      case None => spark.conf.unset(providerConf)
    }
    val got = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("event_id") ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got.size == 7, s"expected 7 filled rows, got $got")
    assert(got(12L) == Some(1.5), "life-2 NULL must fill from life-1 state (user 1)")
    assert(got(21L) == Some(7.25), "life-2 NULL must fill from life-1 state (user 2)")
    assert(got(31L).isEmpty, "a user with no real reading ever stays NULL across lives")
    assert(got(11L) == Some(1.5) && got(30L).isEmpty, "life-1 fills intact")
  }
}
