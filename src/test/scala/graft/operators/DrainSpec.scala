package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The shared streaming drain: memory sinks leave no view behind, the
  * fed-batch check still fails a drain that is too short, a [[Drain.Store]]
  * keeps one replaceable entry per batch, found by listing, [[Drain.byKey]]
  * and [[Drain.cuts]] put every row in exactly one part, and no staging
  * dir, cross-batch store, feed split, chain stream or chain-dump path in
  * the main or test sources bypasses them.
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

  test("a Store entry is replaced on retry and found by listing, in batch order") {
    import spark.implicits._
    val store = Drain.Store("drainspec")
    def put(id: Long, xs: Int*): String = store.put(id)(xs.toDF("x").write.parquet(_))
    def entry(id: Long) = s"${store.root}/b$id"
    put(0, 1, 2)
    assert(put(0, 3) === entry(0)) // a retried batch 0
    assert(rows(spark.read.parquet(entry(0))) === Seq("3"), "the retry must replace, not add")
    put(2, 4) // batch 1 was empty and wrote no entry
    assert(store.latestBefore(2) === Some(entry(0)))
    assert(store.latestBefore(0) === None)
    assert(rows(store.readLatestBefore(spark, 2, "x INT")) === Seq("3"))
    val none = store.readLatestBefore(spark, 0, "x INT")
    assert(none.columns.toSeq === Seq("x") && none.isEmpty)
    put(10, 5) // b10 sorts before b2 by name
    assert(store.allBefore(Long.MaxValue) === Seq(entry(0), entry(2), entry(10)))
    assert(store.allBefore(10) === Seq(entry(0), entry(2)))
    assert(rows(store.read(spark)) === Seq("3", "4", "5"))
    // a restarted query holds a new Store on the same root
    val restarted = new Drain.Store(store.root)
    assert(restarted.allBefore(Long.MaxValue) === store.allBefore(Long.MaxValue))
    assert(rows(restarted.read(spark)) === Seq("3", "4", "5"))
  }

  private def longs(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq

  test("byKey puts every row in exactly one part, negative keys included") {
    val df = spark.range(-7, 8).toDF("k")
    Seq(2, 3).foreach { n =>
      val parts = Drain.byKey(df, col("k"), n).map(longs)
      assert(parts.size === n)
      assert(parts.flatten.sorted === (-7L to 7L), s"n = $n")
      assert(parts.forall(_.nonEmpty), s"n = $n")
    }
  }

  test("cuts puts every row in exactly one part, the max row in the last") {
    // contiguous values, so every cut point is itself a row
    val df = spark.range(-5, 32).toDF("c")
    Seq(2, 3, 4).foreach { n =>
      val parts = Drain.cuts(df, col("c"), n).map(longs)
      assert(parts.size === n)
      assert(parts.flatten.sorted === (-5L to 31L), s"n = $n")
      assert(parts.last.contains(31L), s"n = $n")
      assert(parts.forall(_.nonEmpty), s"n = $n")
    }
  }

  test("partials replaces the entry an earlier attempt of a batch left behind") {
    import spark.implicits._
    // partials' store is a fresh `<q>part…` dir under the artifact root
    val artifactRoot = Paths.get(Artifacts.newDir("drainspecprobe")).getParent
    def stores(): Set[Path] = {
      val st = Files.list(artifactRoot)
      try st.toArray.map(_.asInstanceOf[Path])
        .filter(_.getFileName.toString.startsWith("drainspecretrypart")).toSet
      finally st.close()
    }
    val before = stores()
    val feed = Drain.feed(spark, "drainspecretry", Seq(1L, 2L).toDF("x"), Seq(3L).toDF("x"))
    val out = Drain.partials("drainspecretry", feed, 2, "two parts feed two batches") { b =>
      // what a failed earlier life left: an entry for each batch id
      val fresh = stores() -- before
      assert(fresh.size === 1, s"expected one new store dir, found $fresh")
      Seq(0, 1).map(id => fresh.head.resolve(s"b$id")).filterNot(Files.exists(_))
        .foreach(e => Seq(99L).toDF("x").write.parquet(e.toString))
      b
    }
    assert(longs(out).sorted === Seq(1L, 2L, 3L), "a stale entry survived its batch's put")
  }

  /** The argument text of every `Drain.feed(` and `Drain.stage(` call. */
  private def feedArgs(src: String): Seq[String] =
    "Drain\\.(feed|stage)\\(".r.findAllMatchIn(src).map { m =>
      var (depth, i) = (1, m.end)
      while (depth > 0) {
        src(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
        }
        i += 1
      }
      src.substring(m.end, i - 1)
    }.toSeq

  test("StreamShape splits feeds and opens the chain through the streaming kit") {
    val hand = Seq("% 2", "< mid")
    def handSplits(src: String): Seq[String] = feedArgs(src).filter(a => hand.exists(a.contains))
    assert(handSplits("""Drain.feed(s, "x", ev.where(col("id") % 2 === 0), ev.where(f(x)))""")
      .size === 1)
    assert(handSplits("""Drain.stage("x", b.where(col("us") < mid))""").size === 1)
    val shape = Files.readString(Paths.get("src/main/scala/graft/operators/StreamShape.scala"))
    assert(feedArgs(shape).size >= 20, "the call finder lost track of StreamShape's feeds")
    assert(handSplits(shape).isEmpty, "split a feed with Drain.byKey or Drain.cuts")
    assert(!shape.contains("readStream.format(\"graft-eth\")"),
      "open a chain stream with StreamOps.ethStream")
    // the chain dump's layout is spelled once, next to its writer
    val dumpPaths = scalaSources("src/main/scala")
      .filter(p => Files.readString(p).contains("ChainDumpDir}/"))
      .map(_.getFileName.toString)
    assert(dumpPaths.isEmpty, s"read the chain dump through Verify.chainTable: $dumpPaths")
  }

  private def scalaSources(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repo root: $root not found")
    val walk = Files.walk(root)
    try walk.toArray.map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
  }

  test("no main or test source creates a temp dir outside Artifacts") {
    val own = Set("Artifacts.scala", "DrainSpec.scala") // the reaper and this lint
    val offenders = (scalaSources("src/main/scala") ++ scalaSources("src/test/scala"))
      .filter(p => !own(p.getFileName.toString))
      .filter(p => Files.readString(p).contains("createTempDirectory"))
      .map(_.toString)
    assert(offenders.isEmpty,
      s"staging dirs must come from Artifacts.newDir (reaped at exit): $offenders")
  }

  test("StreamShape keeps its cross-batch state in Drain.Store") {
    // an append store doubles a retried batch, and a driver-side index
    // forgets every entry on restart
    val shape = Files.readString(Paths.get("src/main/scala/graft/operators/StreamShape.scala"))
    val banned = Seq("ConcurrentHashMap[Long", "def latestBefore", "def priorDirs",
      "mode(\"append\")", "recursiveFileLookup")
    assert(banned.filter(shape.contains).isEmpty, "StreamShape must use Drain.Store")
    // a recursive read of per-batch dirs belongs to Drain (its feed and Store.read)
    val recursive = scalaSources("src/main/scala")
      .filter(p => Files.readString(p).contains("recursiveFileLookup"))
      .map(_.getFileName.toString)
    assert(recursive === Seq("Drain.scala"))
  }
}
