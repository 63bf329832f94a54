package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.{SparkEntry, Verify}
import graft.operators._

/** Warm passes over catalog queries on generated parquet, each forced with
  * a `noop` write. The list covers every `graft.operators` module; the
  * seed sets the order within each pass. An untimed warm-up pass (which
  * also builds memoised artifacts) counts in set-up and writes each
  * query's result for the DuckDB oracle check `run.py` makes afterwards.
  */
object CatalogMix {
  val Queries: Seq[String] = Seq(
    "a07_group_count",
    "c11_orderby_limit", "c67_bool_aggs",
    "t01_token_count",
    "d02_ngram_jaccard",
    "sim16_pq_adc_search",
    "g02_degree_histogram",
    "r04_gap_fill",
    "k01_salted_agg",
    "m05_media_dedup",
    "s18_hex_decode")

  private val modules: Seq[(String, Seq[Q])] = Seq(
    "relational" -> RelationalQueries.all, "stock" -> StockOps.all, "text" -> TextOps.all,
    "dedup" -> DedupOps.all, "similarity" -> SimilarityOps.all, "graph" -> GraphOps.all,
    "temporal" -> TemporalOps.all, "skew" -> SkewOps.all, "multimodal" -> MultimodalOps.all,
    "engine" -> EngineOps.all)

  def moduleOf(name: String): String =
    modules.find(_._2.exists(_.name == name)).map(_._1).getOrElse("other")

  def run(ctx: Ctx): Unit = {
    import ctx._
    val rng = new scala.util.Random(seed)
    res.info("catalog_queries") = Queries.mkString(",")
    val results = ctx.dir("results")
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
    // some oracles read dumps the JVM computes outside the engine under test
    if (oracle.values.exists(_.contains(Verify.SigDumpDir))) Verify.dumpSignatures(spark, data)
    if (oracle.values.exists(_.contains(Verify.ChainDumpDir))) Verify.dumpSyntheticChain(spark)
    Files.writeString(Paths.get(results, "oracle_sql.json"),
      oracle.map { case (k, v) => s"${json(k)}:${json(v)}" }.mkString("{", ",", "}"))

    val broken = mutable.Set.empty[String]
    Queries.foreach { name =>
      try {
        val (_, ms) = Main.timeMs(Catalog.byName(name).build(spark, data)
          .coalesce(1).write.mode("overwrite").parquet(s"$results/$name"))
        Main.mark(f"warm-up $name: $ms%.0f ms")
      } catch { case e: Throwable =>
        broken += name
        System.err.println(s"[catalog_mix] $name failed in warm-up: $e")
      }
    }
    res.info("catalog_broken") = broken.mkString(",")
    res.ready()

    val runs = mutable.Map.empty[String, Int].withDefaultValue(0)
    val opWall = mutable.Map.empty[Long, Double]
    val moduleS = mutable.Map.empty[String, Double].withDefaultValue(0.0)

    def pass(): Double = {
      val (_, ms) = Main.timeMs(rng.shuffle(Queries).foreach { name =>
        val q = Catalog.byName(name)
        var op = 0L
        res.attempted += 1
        try {
          val (_, qms) = Main.timeMs(Trace.op("query") {
            op = Trace.currentOp
            probes.tagThread()
            val df = Trace.span("catalog.build")(q.build(spark, data))
            // the DataFrame is analysed when built; the noop write's own
            // query execution (seen by the listener) holds the other phases
            if (Trace.enabled) probes.planPhases(df.queryExecution, op, Trace.currentRoot, Set("analysis"))
            Trace.span("catalog.execute")(df.write.format("noop").mode("overwrite").save())
          })
          if (Trace.enabled) { probes.drain(); opWall(op) = qms; moduleS(moduleOf(name)) += qms / 1000.0 }
          res.sample("latency_ms", qms)
          Main.mark(f"$name: $qms%.0f ms")
          runs(name) += 1
        } catch { case e: Throwable =>
          res.failed += 1
          System.err.println(s"[catalog_mix] $name failed: $e")
        }
      })
      ms
    }

    def passes(seconds: Double): Seq[Double] = {
      val out = mutable.ArrayBuffer(pass())
      while (out.sum / 1000.0 < seconds) out += pass()
      out.toSeq
    }

    Jvm.resetPeak()
    val gc0 = Jvm.gcMs
    Trace.enabled = trace
    val ps = passes(seconds)
    Trace.enabled = false
    res.values("throughput_per_s") = res.attempted / (ps.sum / 1000.0)
    res.values("throughput_samples") = ps.size
    res.values("catalog.pass_s") = Stats.percentile(ps, 50) / 1000.0
    if (trace) {
      modules.foreach { case (m, _) => res.values(s"catalog.${m}_s") = moduleS(m) / ps.size }
      Probes.layerValues(probes, opWall.toMap, cores).foreach { case (k, v) => res.values(k) = v }
      res.values("jvm.heap_peak_mb") = Jvm.heapPeakMb
      res.values("jvm.gc_ms") = Jvm.gcMs - gc0
      kernelProbes(ctx)
    }
    Queries.foreach(n => res.values(s"runs.$n") = runs(n))
    broken.foreach(n => res.failed += runs(n))
  }

  /** graft.functions kernels over the documents' text (repeated to 50x so
    * the kernel, not the job, dominates), each the median of 3 runs, next
    * to a length(text) baseline over the same rows.
    */
  private def kernelProbes(ctx: Ctx): Unit = {
    import ctx._
    graft.functions.GraftFunctions.register(spark)
    val docs = Catalog.t(spark, data, "documents").select("text")
      .crossJoin(spark.range(50).toDF("rep")).select("text").cache()
    docs.count()
    val probes = Seq(
      "fn.scan_baseline_ms" -> "length(text)",
      "fn.word_shingles_ms" -> "word_shingles(text, 3)",
      "fn.minhash_signature_ms" -> "minhash_signature(text, 3, 64)",
      "fn.simhash64_ms" -> "simhash64(text)",
      "fn.token_fingerprint_ms" -> "token_fingerprint(text)",
      "fn.word_set_counts_ms" -> "word_set_counts(text, array(array('spark', 'data'), array('the', 'a')))")
    probes.foreach { case (metric, e) =>
      val times = (1 to 3).map(_ => Main.timeMs(docs.select(count(expr(e))).collect())._2)
      res.values(metric) = Stats.percentile(times, 50)
    }
    docs.unpersist()
  }

  private def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}
