package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run measured, written as JSON for `run.py` to turn into the
  * reported metrics: scalar `values`, raw `samples` (percentiles are taken
  * by the reporter, with their sample counts), the operation counts, and
  * context strings.
  */
final class Results {
  val values = mutable.LinkedHashMap.empty[String, Double]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val info = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Mark the end of set-up: process start to the first timed operation. */
  def ready(): Unit =
    values("setup_s") = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def toJson: String = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def obj[V](m: Iterable[(String, V)])(f: V => String) =
      m.map { case (k, v) => s"${q(k)}:${f(v)}" }.mkString("{", ",", "}")
    Seq(
      s""""attempted":$attempted""", s""""failed":$failed""",
      s""""values":${obj(values)(num)}""",
      s""""samples":${obj(samples)(_.map(num).mkString("[", ",", "]"))}""",
      s""""info":${obj(info)(q)}""").mkString("{", ",", "}")
  }
}

/** Everything a workload needs: the session, the probes, the run's
  * arguments, and the directory it owns (checkpoints, Arrow output, Spark
  * local dirs all live under `root`, which the caller removes).
  */
final class Ctx(
    val spark: SparkSession, val probes: Probes, val res: Results,
    val seed: Long, val seconds: Double, val trace: Boolean,
    val root: String, val data: String, val cores: Int) {
  def dir(name: String): String = {
    val p = Paths.get(root, name); Files.createDirectories(p); p.toString
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val cores = a("cores").toInt
    val root = a("root")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    mark("spark session up")
    val res = new Results
    val ctx = new Ctx(spark, new Probes(spark), res, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", root, a.getOrElse("data", ""), cores)
    res.info("spark") = spark.version
    res.info("jdk") = System.getProperty("java.vm.name") + " " + System.getProperty("java.runtime.version")
    res.info("cores") = cores.toString
    res.info("heap_max_mb") = (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString
    try workload match {
      case "ticket_scan" => TicketScan.run(ctx)
      case "catalog_mix" => CatalogMix.run(ctx)
      case "live_tail" => LiveTail.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      res.values("jvm.threads_end") = Jvm.threads
      Files.writeString(Paths.get(a("out")), res.toJson)
      if (ctx.trace) Files.writeString(Paths.get(a("out") + ".spans"), spansJson(Trace.all))
      spark.stop()
    }
  }

  private def spansJson(spans: Seq[Span]): String =
    spans.map(s => s"""{"id":${s.id},"op":${s.op},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_us":${s.startUs},"end_us":${s.endUs}}""").mkString("[\n", ",\n", "\n]\n")

  /** Log a set-up milestone (seconds since the JVM started) to the run log. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.2fs $what")

  /** Time `body` in milliseconds. */
  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
