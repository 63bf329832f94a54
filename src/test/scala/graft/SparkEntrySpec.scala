package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.internal.SQLConf

import graft.functions.GraftFunctions
import graft.operators.Catalog
import graft.streaming.LocalCheckpointFileManager

/** [[SparkEntry.localSession]] sets no `spark.sql.adaptive.enabled`: a
  * session that leaves it unset runs adaptive query execution.
  * [[SparkEntry.install]] is the one place a session is made ready for
  * graft: a query built on a session that never went through
  * `localSession` gets the same result, a second install changes nothing,
  * and no other main source registers kernels, sets `nanosAsLong` or
  * names a checkpoint file manager.
  */
class SparkEntrySpec extends SparkSpec {

  private val Nanos = "spark.sql.legacy.parquet.nanosAsLong"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private def functions(s: SparkSession): Seq[String] =
    s.sessionState.functionRegistry.listFunction().map(_.unquotedString).sorted

  test("adaptive query execution is on in a session that does not set it") {
    assert(SQLConf.ADAPTIVE_EXECUTION_ENABLED.defaultValue.contains(true))
    // a new session starts from the context conf, which neither SparkSpec
    // nor localSession gives an adaptive setting
    assert(!spark.sparkContext.getConf.contains(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key))
    assert(spark.newSession().conf.get(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key) === "true")
  }

  test("queries that once set up their own session run from a fresh one") {
    // each of these registered kernels, set nanosAsLong or relied on a
    // table read that did, before Q.build installed
    Seq("c21_udaf_sum_squares", "s18_hex_decode", "e02_eth_blocks_scan", "e08_erc20_decode",
      "e11_erc721_decode", "x04_stream_tumbling", "x05_stream_dedup", "x08_stream_curation",
      "x13_stream_decontaminate", "x28_stream_lsh_neardup", "x43_stream_data_card").foreach { n =>
      val fresh = spark.newSession()
      val registry = fresh.sessionState.functionRegistry
      assert(!GraftFunctions.kernels.exists(k => registry.functionExists(k.id)), n)
      assert(!registry.functionExists(FunctionIdentifier("sum_of_squares")), n)
      assert(fresh.conf.getOption(Nanos).forall(_ != "true"), n)
      assert(fresh.conf.getOption(LocalCheckpointFileManager.Key).isEmpty, n)
      val q = Catalog.byName(n)
      assert(rows(q.build(fresh, sfDir)) === rows(q.build(spark, sfDir)), n)
      assert(fresh.conf.getOption(LocalCheckpointFileManager.Key) ===
        Some(classOf[LocalCheckpointFileManager].getName), n)
    }
  }

  test("a second install leaves the function list and the confs as the first left them") {
    val fresh = spark.newSession()
    SparkEntry.install(fresh)
    val (fns, confs) = (functions(fresh), fresh.conf.getAll)
    assert(GraftFunctions.kernels.forall(k => fns.contains(k.name)))
    assert(fns.contains("sum_of_squares"))
    assert(confs.get(Nanos) === Some("true"))
    SparkEntry.install(fresh)
    assert(functions(fresh) === fns)
    assert(fresh.conf.getAll === confs)
  }

  test("install keeps a checkpoint file manager the session already names") {
    val fresh = spark.newSession()
    val other = classOf[FileSystemBasedCheckpointFileManager].getName
    fresh.conf.set(LocalCheckpointFileManager.Key, other)
    SparkEntry.install(fresh)
    assert(fresh.conf.get(LocalCheckpointFileManager.Key) === other)
  }

  /** The session-setup steps in `src`, each as its pattern's name. */
  private def setupSteps(src: String): Seq[String] = Seq(
    "GraftFunctions.register(" -> """GraftFunctions\.register\(""",
    "a nanosAsLong set" -> """\.(?:set|config)\(\s*"spark\.sql\.legacy\.parquet\.nanosAsLong"""",
    "a checkpoint-manager set" -> ("""\.(?:set|config)\(\s*(?:LocalCheckpointFileManager\.Key|""" +
      """"spark\.sql\.streaming\.checkpointFileManagerClass")""")
  ).flatMap { case (name, re) => re.r.findAllIn(src).map(_ => name) }

  /** SparkEntry's source without `install`, and `install`: the text from
    * `def install(` to the next member `def`.
    */
  private def splitInstall(src: String): (String, String) = {
    val at = src.indexOf("def install(")
    val end = src.indexOf("\n  def ", at)
    (src.take(at) + src.drop(end), src.slice(at, end))
  }

  test("session setup happens in SparkEntry.install only, and only three places call it") {
    val bad = """object Q { def body(s: SparkSession) = {
                |  GraftFunctions.register(s)
                |  s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
                |  s.conf.set(LocalCheckpointFileManager.Key, "x") } }""".stripMargin
    assert(setupSteps(bad).size === 3)
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root not found")
    val walk = Files.walk(root)
    val sources = try walk.toArray.map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p)).toSeq
    finally walk.close()
    val (outside, body) = splitInstall(sources.toMap.apply("SparkEntry.scala"))
    assert(setupSteps(body).sorted ===
      Seq("GraftFunctions.register(", "a checkpoint-manager set", "a nanosAsLong set"))
    val offenders = sources.map {
      case ("SparkEntry.scala", _) => "SparkEntry.scala" -> setupSteps(outside)
      case (f, src) => f -> setupSteps(src)
    }.filter(_._2.nonEmpty)
    assert(offenders.isEmpty, s"set a session up through SparkEntry.install: $offenders")
    // Q.build, localSession and RequestRouter.route's streaming branch
    val callers = sources.flatMap { case (f, src) =>
      val calls = """(?<!def )\binstall\(""".r.findAllIn(src).size
      if (calls > 0) Some(f -> calls) else None
    }.toMap
    assert(callers ===
      Map("Catalog.scala" -> 1, "SparkEntry.scala" -> 1, "RequestRouter.scala" -> 1))
  }
}
