package graft.operators

import graft.SparkSpec

/** The shared streaming drain: memory sinks leave no view behind, the
  * fed-batch check still fails a drain that is too short, and no staging
  * dir in the main or test sources bypasses the [[Artifacts]] reaper.
  */
class DrainSpec extends SparkSpec {

  private def memViews(): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).filter(_.contains("_mem_")).toSeq

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  test("x04 and x19 drop their memory views and still return their rows") {
    val x04 = Catalog.byName("x04_stream_tumbling").build(spark, sfDir)
    val x19 = Catalog.byName("x19_stream_cms_merge").build(spark, sfDir)
    assert(memViews().isEmpty, s"memory-sink views left behind: ${memViews()}")
    // x04 is x01 drained through the stream; x19 lands on c34's sketch
    val (r04, r19) = (rows(x04), rows(x19))
    assert(r04.nonEmpty && r19.nonEmpty)
    assert(r04 === rows(Catalog.byName("x01_tumbling_window").build(spark, sfDir)))
    assert(r19 === rows(Catalog.byName("c34_countmin_heavy").build(spark, sfDir)))
  }

  test("a one-part feed fails a drain that requires two fed micro-batches") {
    val feed = Drain.feed(spark, "drainspec", spark.range(5).toDF("id"))
    val e = intercept[IllegalArgumentException] {
      Drain.memory("drainspec", feed, "append", 2, "one part cannot feed two batches")
    }
    assert(e.getMessage.contains("drainspec drained in 1 micro-batch(es)"), e.getMessage)
    assert(e.getMessage.contains("one part cannot feed two batches"), e.getMessage)
    assert(memViews().isEmpty, s"a failed drain left its view behind: ${memViews()}")
  }

  test("no main or test source creates a temp dir outside Artifacts") {
    val own = Set("Artifacts.scala", "DrainSpec.scala") // the reaper and this lint
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      val root = java.nio.file.Paths.get(dir)
      assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root not found")
      val walk = java.nio.file.Files.walk(root)
      try walk.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.toString.endsWith(".scala") && !own(p.getFileName.toString))
        .filter(p => java.nio.file.Files.readString(p).contains("createTempDirectory"))
        .map(_.toString).toSeq
      finally walk.close()
    }
    assert(offenders.isEmpty,
      s"staging dirs must come from Artifacts.newDir (reaped at exit): $offenders")
  }
}
