package graft
import org.apache.spark.sql.SparkSession
import graft.operators.{Artifacts, Catalog}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Location of the synthetic-chain reference dump; the connector and
    * stream oracle SQL reads its tables through [[chainTable]] in DuckDB.
    * The oracle strings and the dump are produced by the same JVM, so the
    * env override stays consistent between them. The default is
    * PID-NAMESPACED: two
    * Verify JVMs (e.g. a targeted re-run while a full sweep's comparator is
    * still reading) must never clobber each other's dumps mid-compare —
    * the oracle_sql.json each emits embeds its own path, so the comparator
    * always reads the dump its oracle strings were built against.
    */
  val ChainDumpDir: String =
    sys.env.getOrElse("GRAFT_CHAIN_DUMP_DIR",
      s"/tmp/graft_synthetic_chain_${ProcessHandle.current().pid()}")

  private def chainDir(name: String): String = s"$ChainDumpDir/$name.parquet"

  /** A chain-dump table as a quoted DuckDB glob, for oracle SQL: the one
    * place the dump's layout is spelled on the oracle side.
    */
  def chainTable(name: String): String = s"'${chainDir(name)}/*.parquet'"

  /** Location of the driver-computed signature dump (PureSig): ground truth
    * for the engine-hash dedup/ANN family (d03/d04/d06/d07/d08, sim02). The
    * oracle SQL for those queries reads these files in DuckDB. PID-namespaced
    * like [[ChainDumpDir]] — this dump is additionally SF-DEPENDENT, so a
    * concurrent run at another SF would otherwise false-fail the whole
    * PureSig-oracled family (observed: 8 false reds in a round-8 local
    * check overlapped by a targeted re-run).
    */
  val SigDumpDir: String =
    sys.env.getOrElse("GRAFT_SIG_DUMP_DIR",
      s"/tmp/graft_sig_dump_${ProcessHandle.current().pid()}")

  /** Materialize the deterministic synthetic chain (seed 42, the connector's
    * default) as parquet, WITHOUT going through the DSv2 read path: rows come
    * straight from SyntheticRpc's pure functions (over a plain range, not a
    * `graft-eth` scan), so the dump
    * is an independent ground truth for the connector's scan machinery
    * (chunked partitions, pushdown, bisection). totalDifficulty is decoded
    * with BigInteger — independent of the HexToDecimal kernel too.
    */
  /** x16's reorg scenario — ONE set of constants shared by the driver-side
    * dump below, the x16 streaming query's source options, and its oracle
    * SQL, so the three cannot drift apart.
    */
  val ReorgAt = 50L
  val ReorgDepth = 2
  val ReorgHead = 99L

  def dumpSyntheticChain(spark: SparkSession): Unit = {
    import spark.implicits._
    val rpc = new graft.sources.SyntheticRpc(42L, 10000L)
    // the ~10k logs are generated inside the one write task (a driver-side
    // Seq would ship them in that task's closure, ~6 MB)
    spark.range(0L, 3000L, 1L, 1).as[Long]
      .flatMap(b => (0 until rpc.logsInBlock(b)).map(i => rpc.logAt(b, i)))
      .toDF().write.mode("overwrite").parquet(chainDir("logs"))
    // the delivered event stream of the reorg-mode chain (appends +
    // removed=true retractions + replacements), straight from SyntheticRpc's
    // pure functions on the driver — ground truth for x16's streamed path
    val reorgRpc = new graft.sources.SyntheticRpc(42L, 10000L,
      reorgAt = ReorgAt, reorgDepth = ReorgDepth)
    (0L to ReorgHead).flatMap(reorgRpc.deliveredAt).toDF()
      .coalesce(1).write.mode("overwrite").parquet(chainDir("reorg_logs"))
    val blocks = (0L to 999L).flatMap(rpc.getBlock).map { b =>
      (b.number, new java.math.BigInteger(b.totalDifficulty.stripPrefix("0x"), 16).longValueExact(),
        b.gasUsed, b.transactions.size, b.timestamp)
    }
    blocks.toDF("number", "td_dec", "gasUsed", "n_tx", "timestamp")
      .coalesce(1).write.mode("overwrite").parquet(chainDir("blocks"))
  }

  /** MinHash/SimHash signatures and hyperplane buckets for the CURRENT
    * sfDir's corpus, computed on the driver by graft.verify.PureSig — a
    * from-scratch reimplementation (public xxHash spec, no Catalyst, no
    * Spark hash classes) — so the LSH/SimHash/ANN pipelines are oracled
    * against math computed entirely outside the engine under test.
    */
  /** dumpSignatures collects both tables to the driver BY DESIGN (the
    * oracle must be computed outside the engine under test); that is only
    * sane at verification scale. Guarded so pointing Verify at a big sfDir
    * fails with an explanation instead of an OOM'd driver.
    */
  private val SigDumpMaxRows = 1000000L

  def dumpSignatures(spark: SparkSession, sfDir: String): Unit = {
    import graft.verify.PureSig
    import spark.implicits._
    Seq("documents", "embeddings").foreach { tbl =>
      val n = Catalog.parquet(spark, s"$sfDir/$tbl.parquet").count()
      require(n <= SigDumpMaxRows,
        s"dumpSignatures is a TEST-SCALE oracle aid: it materializes $tbl on the driver " +
          s"($n rows > $SigDumpMaxRows). Run Verify against a verification-scale sfDir.")
    }
    val docs = Catalog.parquet(spark, s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    docs.toSeq.map { case (id, txt) =>
      (id, PureSig.simhash64(txt), PureSig.minhashSignature(txt, 3, 64).toSeq)
    }.toDF("doc_id", "simhash", "sig")
      .coalesce(1).write.mode("overwrite").parquet(s"$SigDumpDir/doc_sigs.parquet")
    val embs = Catalog.parquet(spark, s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    embs.toSeq.map { case (id, v) => (id, PureSig.hyperplaneBucket(v, 60)) }
      .toDF("vec_id", "bucket")
      .coalesce(1).write.mode("overwrite").parquet(s"$SigDumpDir/emb_buckets.parquet")
  }

  /** Static wall-time hints (seconds, MEASURED: full sf0.01 sweep,
    * par=6, local[32] — `_verify_timings.json` of that run) for LPT
    * scheduling: start the long-running entries first so the parallel
    * sweep's makespan is not a straggler scheduled last. Unlisted batch
    * queries default to 1 (measured median 0.7); unlisted streaming (x*)
    * entries default to 9 (measured median 9.3 — each drains multiple
    * micro-batches of real trigger wall time). Only the RANKING matters —
    * a stale hint costs seconds, not correctness.
    */
  private val CostHint: Map[String, Double] = Map(
    "x40_stream_deletions" -> 30, "x41_stream_tombstone_serve" -> 28,
    "x21_stream_outer_join" -> 28, "x17_stream_ann_serve" -> 25,
    "m09_phash_neardup" -> 4, "x43_stream_data_card" -> 22,
    "x42_stream_interval_join" -> 20, "x44_stream_liststate_topk" -> 20,
    "x22_stream_kmv_merge" -> 18, "x06_stream_stream_join" -> 16,
    "x18_stream_late_data" -> 16, "x45_stream_mapstate_counts" -> 15,
    "x24_stream_topk" -> 14, "x26_stream_ohlc" -> 13,
    "x12_stream_index_append" -> 13, "x38_stream_knn_maintain" -> 13,
    "x47_stream_pagerank" -> 12, "x48_stream_triangles" -> 11,
    "x49_stream_assortativity" -> 14, "d24_incremental_clusters" -> 12,
    "x23_stream_partitioned_sink" -> 11, "r10_linear_interp" -> 11,
    "x19_stream_cms_merge" -> 11, "r04_gap_fill" -> 11,
    "x09_stream_restart" -> 11, "x25_stream_cdc_upsert" -> 10,
    "x27_stream_hist_merge" -> 10, "sim49_layered_walk_recall" -> 14,
    "x11_stream_content_dedup" -> 10, "x10_transform_with_state" -> 9,
    // round-8 remeasure (full sf0.001 sweep _verify_timings): the walk /
    // graph-ANN sims were unlisted (default 1) and scheduled last — the
    // 20 s sim48 became the sweep's final straggler. Only the ranking
    // matters; these move them to the front of the LPT queue.
    "sim48_layered_walk" -> 21, "sim45_pruned_walk_recall" -> 14,
    "sim40_walk_hop_sweep" -> 11, "sim39_walk_recall" -> 10,
    "sim38_graph_ann_walk" -> 10, "sim43_delete_recall" -> 7,
    "sim42_ivf_compaction" -> 6, "sim41_ivf_delete_serve" -> 6,
    "sim31_nprobe_sweep" -> 6, "sim37_knn_connectivity" -> 6,
    "g06_community_sizes" -> 5, "t26_bpe_apply" -> 5,
    "d06c_dedup_clusters_star" -> 8, "d06b_dedup_clusters_exact" -> 6,
    "d06_dedup_clusters" -> 6)

  private def costHint(name: String): Double =
    CostHint.getOrElse(name, if (name.startsWith("x")) 9.0 else 1.0)

  /** Best-effort reaper for PID-namespaced dumps left by EARLIER Verify
    * JVMs: a dump must outlive its own JVM (the comparator reads it after
    * Verify exits), so cleanup can't be a shutdown hook — instead each new
    * run deletes sibling dumps older than 2 h (any comparator reads its
    * dump within minutes). Never touches this run's own dirs and never
    * fails the run.
    */
  private def reapStaleDumps(): Unit = try {
    val cutoff = System.currentTimeMillis() - 2L * 3600 * 1000
    val tmp = java.nio.file.Paths.get("/tmp")
    val st = Files.list(tmp)
    val stale =
      try st.toArray.map(_.asInstanceOf[java.nio.file.Path]).filter { p =>
        val n = p.getFileName.toString
        (n.startsWith("graft_synthetic_chain_") || n.startsWith("graft_sig_dump_")) &&
          !Seq(ChainDumpDir, SigDumpDir).contains(p.toString) &&
          Files.getLastModifiedTime(p).toMillis < cutoff
      } finally st.close()
    stale.foreach(Artifacts.deleteRecursively)
  } catch { case _: Throwable => () }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    reapStaleDumps()
    val spark = SparkEntry.localSession(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle_sql.json is written FIRST: it depends on nothing the query
    // loop produces, and the driver's comparator loads it before anything
    // else — a sweep interrupted by the driver's time budget must score
    // its completed prefix, not zero the round (the round-7 failure mode).
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    dumpSyntheticChain(spark)
    dumpSignatures(spark, sfDir)
    // Per-query watchdog: one hung/pathological query must not zero the
    // whole correctness round — cancel its job group and move on.
    val timeoutMs = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "600").toLong * 1000
    // dev aid (mirrors Bench): GRAFT_VERIFY_ONLY=q1,q2 restricts the dump
    // an empty/blank value means "no filter", not "match nothing"
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).filter(_.nonEmpty)
    // Wall-clock budget for the WHOLE sweep (driver's slot is finite): once
    // exceeded, workers stop pulling new queries and finish in-flight ones;
    // everything already dumped still scores against the pre-written oracle.
    // Default 900 s: the measured full sweep is 147-207 s (sf0.001-0.1,
    // par=6, exclusive), so the backstop only fires on a pathologically
    // crowded host — where losing the queue tail beats losing the round
    // (the round-7 failure). GRAFT_VERIFY_BUDGET_SEC= (empty) disables.
    val sweepStart = System.nanoTime()
    val budgetNanos = sys.env.get("GRAFT_VERIFY_BUDGET_SEC")
      .map(_.trim).orElse(Some("900")).filter(_.nonEmpty).map(_.toLong * 1000000000L)
    // The 313 catalog queries are independent; run them through a small
    // worker pool, each worker on its OWN spark.newSession() — isolated
    // SQLConf/temp views (queries that set session confs or register views
    // can't interfere) while the scheduler, executor threads and the
    // SharedState catalog (memoized bucketed/IVF warehouses) stay shared.
    val par = math.max(1, sys.env.getOrElse("GRAFT_VERIFY_PAR", "6").toInt)
    val work = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy { case (name, _) => (-costHint(name), name) }
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
    work.foreach(queue.add)
    val times = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val skipped = new java.util.concurrent.atomic.AtomicInteger(0)
    def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // _verify_timings.json is REWRITTEN after every completed query (tiny
    // file, atomic move), not only at sweep end: a sweep killed by the
    // driver's slot budget still leaves the timing record of its completed
    // prefix — the same partial-credit contract the oracle-first
    // oracle_sql.json write established for the results themselves.
    def flushTimings(): Unit = this.synchronized {
      import scala.jdk.CollectionConverters._
      val body = times.asScala.toSeq.sortBy(_._1)
        .map { case (n, s) => s"${q(n)}: ${num(s)}" }.mkString("{", ",", "}") + "\n"
      try {
        val tmp = Paths.get(s"$outDir/_verify_timings.json.tmp")
        Files.writeString(tmp, body)
        Files.move(tmp, Paths.get(s"$outDir/_verify_timings.json"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] timings flush failed: $e")
      }
    }
    def runOne(sess: SparkSession, name: String,
               fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val timer = new java.util.Timer(true)
      sess.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
      timer.schedule(new java.util.TimerTask {
        def run(): Unit = {
          System.err.println(s"[verify] $name timed out after ${timeoutMs / 1000}s — cancelling")
          sess.sparkContext.cancelJobGroup(name)
        }
      }, timeoutMs)
      val t0 = System.nanoTime()
      try {
        fn(sess, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val secs = (System.nanoTime() - t0) / 1e9
        times.put(name, secs)
        flushTimings()
        System.err.println(f"[verify] $name ok ${secs}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        timer.cancel()
        sess.sparkContext.clearJobGroup()
      }
    }
    val threads = (1 to par).map { i =>
      val th = new Thread(() => {
        val sess = spark.newSession()
        // explicit per-worker confs: newSession starts from the context
        // conf, not the parent session's mutations
        sess.conf.set("spark.sql.shuffle.partitions", spark.conf.get("spark.sql.shuffle.partitions"))
        sess.conf.set("spark.sql.session.timeZone", "UTC")
        SparkSession.setActiveSession(sess)
        var next = queue.poll()
        while (next != null) {
          if (budgetNanos.exists(System.nanoTime() - sweepStart > _)) {
            skipped.incrementAndGet(); // count, then drain without running
          } else runOne(sess, next._1, next._2)
          next = queue.poll()
        }
      }, s"graft-verify-$i")
      th.start(); th
    }
    threads.foreach(_.join())
    val wall = (System.nanoTime() - sweepStart) / 1e9
    import scala.jdk.CollectionConverters._
    val done = times.asScala.toSeq.sortBy(-_._2)
    System.err.println(f"[verify] sweep done: ${done.size}/${work.size} queries " +
      f"in ${wall}%.1fs wall (par=$par, skipped=${skipped.get()} over budget); slowest: " +
      done.take(10).map { case (n, s) => f"$n=${s}%.1fs" }.mkString(", "))
    // machine-readable per-query timings (a FILE — the driver's comparator
    // globs only outDir subdirectories, so this never reads as a query);
    // already flushed incrementally after every query, this is the final
    // consistent rewrite
    flushTimings()
    spark.stop()
  }
}
