package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Catalog._
import graft.Verify.chainTable
import graft.streaming.StreamOps

/** The streaming catalog: event-time windows (tumbling, sliding and
  * session), watermarked joins and aggregates, stateful processors and the
  * streaming twins of batch queries (x08 curation, x39 packing, x43 data
  * card). x01–x03 pin window semantics as batch queries; every other
  * x-query runs a Structured Streaming query, drains it through [[Drain]],
  * and its drained result is oracle-checked against DuckDB like any batch
  * query.
  */
object StreamShape {

  private val fmtSec = "yyyy-MM-dd HH:mm:ss"

  /** Run `body` on the RocksDB state store provider, then restore the
    * session's own provider.
    */
  private def onRocksDb[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
  }

  /** x10's chain head — ONE constant shared by the engine build (trigger
    * size = head+1) and its oracle's block-range predicate.
    */
  private val X10Head = 999

  /** x21's pinned deterministic region boundary — ONE constant shared by
    * the streaming build, its catch-up drains, and the oracle SQL (the
    * X10Head convention), so engine and oracle cannot compare different
    * block regions.
    */
  private val X21Head = 999L

  /** x46's cohort horizon (ms): each user's snapshot timer fires when the
    * watermark passes first-event + this. 5 days — early enough that the
    * fixture's early-joining users fire MID-stream (the watermark during
    * batch 2 sits ~10 days in), so the timer path is exercised before the
    * end-of-stream sweep. ONE constant shared by the processor and the
    * oracle's replayed batch arithmetic (declared before `val all`).
    */
  private val SnapHorizonMs = 432000000L

  /** x46's watermark delay (ms) — mirrored in the oracle's wm arithmetic. */
  private val SnapDelayMs = 1000L

  /** x41's oracle serve after a tombstone set `del`: the trained-IVF top-3
    * over `iscored` (from [[SimilarityOps.sqlTrainedSearchCtes]]) with
    * deleted probes and candidates dropped.
    */
  private def tombstoneServe(del: String): String =
    SimilarityOps.sqlTopK(
      s"iscored WHERE qid NOT IN (SELECT vec_id FROM $del) AND vec_id NOT IN (SELECT vec_id FROM $del)",
      3, cols = "qid, vec_id, cos_sim, CAST(rk AS INT) AS rk")

  /** Both orientations (a, b) of an undirected (u, v) edge frame. */
  private def sym(e: DataFrame): DataFrame =
    e.select(col("u").as("a"), col("v").as("b"))
      .unionByName(e.select(col("v").as("a"), col("u").as("b")))

  val all: Seq[Q] = Seq(
    // Tumbling 1-hour event-time window (streaming: groupBy(window($"ts","1 hour"))).
    Q("x01_tumbling_window",
      (s, d) => t(s, d, "events")
        .withColumn("win_start", date_format(date_trunc("hour", col("ts")), fmtSec))
        .groupBy("win_start", "event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("win_start", "event_type"),
      Some(s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
                      event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
               FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""")),

    // Sliding 2-hour window every 1 hour: each event lands in 2 windows.
    Q("x02_sliding_window",
      (s, d) => t(s, d, "events")
        .select(window(col("ts"), "2 hours", "1 hour").as("w"), col("value"))
        .groupBy(date_format(col("w.start"), fmtSec).as("win_start"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy("win_start"),
      Some(s"""SELECT strftime(date_trunc('hour', ts) - o.h * INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS win_start,
                      COUNT(*) AS n, ${sqlDsum("value")} AS total
               FROM events CROSS JOIN (VALUES (0), (1)) o(h)
               GROUP BY 1 ORDER BY win_start""")),

    // The SAME tumbling aggregation as x01, but executed through the REAL
    // Structured Streaming path: readStream(parquet) → window agg →
    // complete-mode memory sink, Trigger.AvailableNow, drained to a batch
    // DataFrame — so a streaming-path result sits inside the hash-compare
    // gate (same oracle as x01), not only in specs.
    Q("x04_stream_tumbling",
      (s, d) => {
        val agg = Drain.copies(s, "x04", s"$d/events.parquet")
          .transform(normalizeEventTs)
          .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
          .select(date_format(col("win.start"), fmtSec).as("win_start"),
            col("event_type"), col("n"), col("total"))
        Drain.memory("x04", agg, "complete").orderBy("win_start", "event_type")
      },
      Some(s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
                      event_type, COUNT(*) AS n, ${sqlDsum("value")} AS total
               FROM events GROUP BY 1, 2 ORDER BY win_start, event_type"""),
      bench = false),

    // Session windows with a 30-minute inactivity gap per user
    // (streaming: session_window($"ts", "30 minutes")).
    Q("x03_session_window",
      (s, d) => t(s, d, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .select(col("user_id"),
          date_format(col("session_window.start"), fmtSec).as("session_start"),
          col("n"), col("total"))
        .orderBy("user_id", "session_start"),
      Some(s"""WITH marked AS (
                 SELECT user_id, ts, value,
                        CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
                             THEN 1 ELSE 0 END AS new_session
                 FROM events),
               sess AS (
                 SELECT user_id, ts, value,
                        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                 FROM marked)
               SELECT user_id,
                      strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                      COUNT(*) AS n, ${sqlDsum("value")} AS total
               FROM sess GROUP BY user_id, sid
               ORDER BY user_id, session_start""")),

    // Streaming DEDUPLICATION in the hash gate: the events table staged
    // TWICE into the stream source dir (double delivery — the reorg-replay
    // scenario), drained through dropDuplicatesWithinWatermark under
    // Trigger.AvailableNow. Exactly-once output: the oracle is the
    // single-delivery table. The watermark horizon bounds dedup state in a
    // live stream (keys older than the horizon evict — unbounded-state
    // dedup is not a thing at 100 TB); the run-long horizon here keeps the
    // bounded drain exact.
    Q("x05_stream_dedup",
      (s, d) => {
        val deduped = Drain.copies(s, "x05", s"$d/events.parquet", s"$d/events.parquet")
          .transform(normalizeEventTs)
          .withWatermark("ts", "3650 days")
          .dropDuplicatesWithinWatermark("event_id")
          .select("event_id", "user_id", "event_type", "value", "props")
        Drain.memory("x05", deduped, "append").orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, event_type, value, props
              FROM events ORDER BY event_id"""),
      bench = false),

    // Stream-stream INNER JOIN in the hash gate: logs and blocks as two
    // independent graft-eth micro-batch streams (2 batches each — the join
    // crosses batch boundaries through state), equi-joined on block number
    // + derived event time under watermarks, drained append-mode. Inner
    // join results emit eagerly; the watermark horizon only bounds state —
    // run-long here so the bounded drain is exact (production trades state
    // size against allowed inter-stream skew; a horizon below the streams'
    // batch skew would drop rows). Oracle: the batch join over the direct
    // SyntheticRpc chain dump.
    Q("x06_stream_stream_join",
      (s, d) => {
        def src(dataset: String) = StreamOps.ethStream(s, dataset, 500)
        val joined = StreamOps.logsWithBlocks(src("logs"), src("blocks"), "1000 hours")
          .select(col("blockNumber"), col("logIndex"), col("address"), col("gasUsed"))
        Drain.memory("x06", joined, "append").orderBy("blockNumber", "logIndex")
      },
      Some(s"""SELECT l.blockNumber, l.logIndex, l.address, b.gasUsed
               FROM ${chainTable("logs")} l
               JOIN ${chainTable("blocks")} b
                 ON l.blockNumber = b.number
               ORDER BY blockNumber, logIndex"""),
      bench = false),

    // CUSTOM TYPED STATE in the hash gate: per-address activity sessions
    // via KeyValueGroupedDataset.mapGroupsWithState (StreamOps
    // .addressActivity) over the graft-eth stream. State is per-key and
    // partition-distributed (no global state — the 100 TB shape). Update
    // mode emits one row per touched key per batch; the drain is sized to
    // ONE batch (maxBlocksPerTrigger covers [0..head]) so the sink holds
    // exactly the final state per address, oracled as the grouped
    // min/max/count over the direct chain dump.
    Q("x07_stateful_sessions",
      (s, d) => {
        val logs = StreamOps.ethStream(s, "logs", 1000)
        Drain.memory("x07", StreamOps.addressActivity(logs).toDF(), "update").orderBy("address")
      },
      Some(s"""SELECT address,
                      MIN(blockNumber) AS firstBlock,
                      MAX(blockNumber) AS lastBlock,
                      CAST(COUNT(*) AS BIGINT) AS n
               FROM ${chainTable("logs")}
               WHERE blockNumber <= 999
               GROUP BY address ORDER BY address"""),
      bench = false),

    // CURATION AS A STREAM: t06's quality filter (TextOps' qualitySignals
    // and qualityOk, codegen'd kernels included — word_set_counts runs
    // inside the streaming micro-batch) applied to a document stream, with a complete-mode per-lang count —
    // the shape of a continuously-ingesting training-data pipeline (the
    // filter is stateless/map-only, so the streaming plan is the batch
    // plan per micro-batch; only the final count carries state). Oracle:
    // the identical filter+count over the batch table.
    Q("x08_stream_curation",
      (s, d) => {
        val counts = TextOps.qualitySignals(Drain.copies(s, "x08", s"$d/documents.parquet"))
          .where(TextOps.qualityOk)
          .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        Drain.memory("x08", counts, "complete").orderBy("lang")
      },
      Some(s"""SELECT lang, COUNT(*) AS n_docs FROM ${TextOps.sqlDocToks}
               WHERE ${TextOps.sqlQualityOk} GROUP BY lang ORDER BY lang"""),
      bench = false),

    // The SAME per-address state machine as x07, through the Spark 4
    // transformWithState API (StatefulProcessor + named typed ValueState
    // on the RocksDB state store) — the successor of mapGroupsWithState,
    // with per-state TTL and timer support the old API lacks. Same
    // one-batch drain, same oracle as x07: both stateful surfaces are
    // pinned to the identical result in the hash gate.
    Q("x10_transform_with_state",
      (s, d) => {
        // trigger size derived from head so the whole chain drains in ONE
        // micro-batch by construction; the ORACLE interpolates the same
        // constant, so engine and oracle cannot drift apart
        val head = X10Head
        val sink = onRocksDb(s) {
          val logs = StreamOps.ethStream(s, "logs", head + 1, head = head)
          Drain.memory("x10", StreamOps.addressActivityTws(logs).toDF(), "update")
        }
        // the Update-mode memory sink APPENDS each batch's updated rows; if
        // the drain ever splits into >1 batch, keep only the LAST update per
        // address (n is the per-address row count, strictly increasing
        // across updates — max(n) identifies the final state)
        sink
          .groupBy("address")
          .agg(max(struct(col("n"), col("firstBlock"), col("lastBlock"))).as("__last"))
          .select(col("address"), col("__last.firstBlock").as("firstBlock"),
            col("__last.lastBlock").as("lastBlock"), col("__last.n").as("n"))
          .orderBy("address")
      },
      Some(s"""SELECT address,
                      MIN(blockNumber) AS firstBlock,
                      MAX(blockNumber) AS lastBlock,
                      CAST(COUNT(*) AS BIGINT) AS n
               FROM ${chainTable("logs")}
               WHERE blockNumber <= $X10Head
               GROUP BY address ORDER BY address"""),
      bench = false),

    // STREAMING CONTENT DEDUP — continuous-ingest exact dedup, the
    // streaming counterpart of d01: documents staged TWICE (re-delivered
    // feed), deduped ON THE CONTENT ITSELF with
    // dropDuplicatesWithinWatermark — the horizon bounds dedup state in a
    // live pipeline (run-long here so the bounded drain is exact). The
    // corpus holds true duplicate texts from sf0.1 up, and WHICH copy
    // survives first-arrival dedup is batch-order-dependent — so the
    // gate compares the kept CONTENT set (md5 identity), which is
    // deterministic no matter which doc_id carried it; the oracle is the
    // distinct content of the single-delivery table.
    Q("x11_stream_content_dedup",
      (s, d) => {
        val kept = Drain.copies(s, "x11", s"$d/documents.parquet", s"$d/documents.parquet")
          // epoch-offset the synthetic event time: a row AT the
          // clamped-to-zero watermark boundary counts as expired state
          // and silently vanishes (doc 0 did)
          .withColumn("event_time",
            timestamp_micros(col("doc_id") * 1000000L + lit(1700000000000000L)))
          .withWatermark("event_time", "3650 days")
          .dropDuplicatesWithinWatermark("text")
          .select(md5(col("text").cast(BinaryType)).as("content_md5"))
        Drain.memory("x11", kept, "append").orderBy("content_md5")
      },
      Some("""SELECT DISTINCT md5(text) AS content_md5
              FROM documents ORDER BY content_md5"""),
      bench = false),

    // STREAMING INDEX MAINTENANCE — the persisted IVF index (sim11) kept
    // fresh by a stream: newly arriving embeddings get their TRAINED-cell
    // assignment inside the micro-batch (the centroid_scores kernel is a
    // map-only projection, so the streaming plan is the batch plan) and
    // append into cell-partitioned parquet — exactly how the sim11 index
    // would absorb new corpus data continuously. The oracle REPLAYS the
    // two-iteration training and assignment in SQL (the a2 CTE).
    Q("x12_stream_index_append",
      (s, d) => {
        val cents = SimilarityOps.trainedCentroids(s, d, iters = 2)
        val out = Artifacts.newDir("x12out")
        // assignCells is a pure projection, so the batch assignment path
        // IS the streaming one — one implementation, one tie-break
        Drain.run(s, "x12", Artifacts.newDir("x12ckpt"), SimilarityOps
          .assignCells(Drain.copies(s, "x12", s"$d/embeddings.parquet"), cents)
          .select("vec_id", "cell")
          .writeStream.format("parquet").partitionBy("cell")
          .option("path", out))
        s.read.parquet(out).select("vec_id", "cell").orderBy("vec_id")
      },
      Some(s"""WITH ${SimilarityOps.sqlTrainedAssignCtes}
               SELECT vec_id, CAST(cell AS INT) AS cell FROM a2 ORDER BY vec_id"""),
      bench = false),

    // CHECKPOINTED RESTART in the hash gate — the durability story the
    // reference lacks (its subscriptions restart from scratch on
    // reconnect, SURVEY §3.2): the graft-eth log stream runs TWO LIVES
    // against one checkpoint + one parquet sink. Life 1 drains blocks
    // 0..499 in three micro-batches (maxBlocksPerTrigger=200) and stops;
    // life 2 sees a longer chain (head 999) and MUST resume at block 500 —
    // any re-read or gap breaks the hash against the single-delivery chain
    // dump, so exactly-once-across-restart is what the oracle checks.
    Q("x09_stream_restart",
      (s, d) => {
        val ckpt = Artifacts.newDir("x09ckpt")
        val out = Artifacts.newDir("x09out")
        def life(head: Long): Unit =
          Drain.run(s, "x09", ckpt, StreamOps.ethStream(s, "logs", 200, head = head)
            .select("blockNumber", "logIndex", "address")
            .writeStream.format("parquet")
            .option("path", out))
        life(head = 499)
        life(head = 999)
        s.read.parquet(out).orderBy("blockNumber", "logIndex")
      },
      Some(s"""SELECT blockNumber, logIndex, address
               FROM ${chainTable("logs")}
               WHERE blockNumber <= 999
               ORDER BY blockNumber, logIndex"""),
      bench = false),

    // STREAMING DECONTAMINATION — d16's contamination report over a LIVE
    // document feed: the benchmark shingle set is a STATIC (batch) side
    // joined into each micro-batch — the stream-static join Spark plans as
    // a broadcast against every batch, exactly how a production pipeline
    // screens incoming crawl data against a frozen eval set. The codegen'd
    // word_shingles kernel runs inside the micro-batch (stateless), only
    // the per-doc hit count carries state (complete mode; contaminated
    // docs ≪ corpus). Same oracle as d16: the streaming path must land on
    // the identical report.
    Q("x13_stream_decontaminate",
      (s, d) => {
        // static side: the frozen benchmark shingle set (batch read) —
        // the shared DedupOps definition
        val benchShingles = DedupOps.benchShingles8(s, d)
        val hits = Drain.copies(s, "x13", s"$d/documents.parquet")
          .where(col("source") =!= "src0")
          .select(col("doc_id"),
            explode(graft.functions.GraftFunctions.word_shingles(col("text"), 8)).as("shingle"))
          .join(broadcast(benchShingles), "shingle")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_hits"), min(col("shingle")).as("example_shingle"))
        Drain.memory("x13", hits, "complete").orderBy("doc_id")
      },
      Some(s"""WITH ${DedupOps.sqlDecontCtes}
               SELECT doc_id, COUNT(*) AS n_hits, MIN(shingle) AS example_shingle
               FROM tex JOIN bsh USING (shingle)
               GROUP BY doc_id ORDER BY doc_id"""),
      bench = false),

    // NATIVE STREAMING SESSION WINDOWS — x03's session_window aggregation
    // executed through the real Structured Streaming path (the x04
    // pattern): merging session state is the hardest stateful-streaming
    // shape (sessions GROW and MERGE as events arrive — unlike fixed
    // windows, a late event can fuse two open sessions), and Spark's
    // native session_window operator handles it inside the state store.
    // Complete mode + AvailableNow drains the bounded fixture exactly;
    // same oracle as x03 — the streaming execution must land on the
    // identical session set.
    Q("x14_stream_session_window",
      (s, d) => {
        // stage the fixture as TWO files split by event_id parity (time-
        // interleaved), so with maxFilesPerTrigger=1 the drain takes two
        // micro-batches and batch 2's events must MERGE INTO (and fuse)
        // sessions opened by batch 1 inside the state store — the cross-
        // batch path this operator exists to pin; a single staged file
        // would build every session within one batch and never exercise it
        val sessions = Drain.feed(s, "x14", Drain.byKey(t(s, d, "events"), col("event_id"), 2): _*)
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
          .select(col("user_id"),
            date_format(col("session_window.start"), fmtSec).as("session_start"),
            col("n"), col("total"))
        Drain.memory("x14", sessions, "complete", 2,
            "the cross-batch session merge was not exercised")
          .orderBy("user_id", "session_start")
      },
      Some(s"""WITH marked AS (
                 SELECT user_id, ts, value,
                        CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
                             THEN 1 ELSE 0 END AS new_session
                 FROM events),
               sess AS (
                 SELECT user_id, ts, value,
                        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                 FROM marked)
               SELECT user_id,
                      strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                      COUNT(*) AS n, ${sqlDsum("value")} AS total
               FROM sess GROUP BY user_id, sid
               ORDER BY user_id, session_start"""),
      bench = false),

    // SUBSCRIPTION → ARROW BATCHES — the reference's actual product
    // semantics (a live log subscription delivering Arrow record batches
    // to the client, Subscription.java:156-174), as dataflow: the
    // graft-eth STREAM drains in four micro-batches, each written to the
    // Arrow IPC edge via foreachBatch (one IPC stream file per partition
    // per micro-batch, real record-batch sizing), then every batch is
    // read back through the client path and compared against the chain
    // dump — exactly-once across the whole stream→Arrow→client loop.
    Q("x15_stream_arrow_sink",
      (s, d) => {
        import graft.arrow.ArrowEdge
        val outRoot = Artifacts.newDir("x15arrow")
        // schema captured from the equivalent batch read — the stream
        // emits the same connector schema
        val schema = s.read.format("graft-eth").option("dataset", "logs")
          .option("startBlock", "0").option("endBlock", "0").load()
          .select("blockNumber", "logIndex", "address").schema
        val logs = StreamOps.ethStream(s, "logs", 250).select("blockNumber", "logIndex", "address")
        Drain.run(s, "x15", Artifacts.newDir("x15ckpt"),
          logs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
            ArrowEdge.writeIpc(batch, s"$outRoot/batch-$id", batchSize = 128)
          })
        val dirs = Option(new java.io.File(outRoot).listFiles())
          .getOrElse(Array.empty).filter(_.isDirectory).sortBy(_.getName)
        require(dirs.length >= 4, s"expected >= 4 micro-batch dirs, got ${dirs.length}")
        val rows = dirs.toSeq.flatMap(dir => ArrowEdge.readIpc(dir.getPath))
          .map(vs => org.apache.spark.sql.Row.fromSeq(vs))
        import scala.jdk.CollectionConverters._
        s.createDataFrame(rows.asJava, schema)
          .orderBy("blockNumber", "logIndex")
      },
      Some(s"""SELECT blockNumber, logIndex, address
               FROM ${chainTable("logs")}
               WHERE blockNumber <= 999
               ORDER BY blockNumber, logIndex"""),
      bench = false),

    // REORG RETRACTION in the live path — the chain's one reorg signal is
    // a re-delivered log with removed=true (reference forwards it
    // verbatim, Converter.java:169; SURVEY §1.4): the reorg-mode
    // synthetic chain orphans blocks [48,49] when block 50 is read,
    // re-delivering their logs retracted and then the new canonical
    // replacements. With maxBlocksPerTrigger=25 the originals land in an
    // EARLIER micro-batch than their retractions (offset contiguity
    // guarantees it), so the retraction genuinely crosses batches. The
    // append-mode stream must preserve retraction rows verbatim; the
    // consumer-visible rule is pinned by RESOLVING the delivered stream —
    // net count per full row content (+1 append, −1 retraction; order-
    // free, so it hash-gates) — against the driver-computed delivery dump
    // with the same resolution applied: orphaned-block originals net to
    // zero, replacements and everything else survive.
    Q("x16_reorg_removal",
      (s, d) => {
        val logs = StreamOps.ethStream(s, "logs", 25, head = graft.Verify.ReorgHead,
            options = Map("reorgAt" -> graft.Verify.ReorgAt.toString,
              "reorgDepth" -> graft.Verify.ReorgDepth.toString))
          .select("blockNumber", "logIndex", "address", "data", "removed")
        val delivered = Drain.memory("x16", logs, "append", 3,
          "the cross-batch retraction was not exercised")
        require(delivered.where(col("removed")).count() > 0,
          "x16 stream delivered no removed=true retraction rows")
        delivered
          .groupBy("blockNumber", "logIndex", "address", "data")
          .agg(sum(when(col("removed"), -1L).otherwise(1L)).as("net"))
          .where(col("net") > 0)
          .select("blockNumber", "logIndex", "address", "data")
          .orderBy("blockNumber", "logIndex")
      },
      Some(s"""WITH raw AS (
                 SELECT * FROM ${chainTable("reorg_logs")}),
               resolved AS (
                 SELECT blockNumber, logIndex, address, data,
                        SUM(CASE WHEN removed THEN -1 ELSE 1 END) AS net
                 FROM raw GROUP BY 1, 2, 3, 4)
               SELECT blockNumber, logIndex, address, data
               FROM resolved WHERE net > 0
               ORDER BY blockNumber, logIndex"""),
      bench = false),

    // STREAMING ANN SERVING — the online half of the sim11 index story:
    // query vectors ARRIVE as a stream (staged as two files →
    // maxFilesPerTrigger=1 forces ≥2 micro-batches) and each micro-batch
    // is served via foreachBatch through the SAME serveIvfIndexed path as
    // the batch query — probe cells, statically cell-pruned index scan
    // (the pruning require() runs per batch), exact cosine, two-phase
    // top-3 — appending answers to a parquet sink. Per-query results are
    // independent, so the union over micro-batches must equal the batch
    // search over all 10 probes: the oracle is sim11's, replaying the
    // 2-iteration training + search in SQL. The index is built BEFORE the
    // stream starts (a serving tier boots with its index), and the serve
    // cost per batch is probes × pruned cells — corpus writes never touch
    // the query path.
    Q("x17_stream_ann_serve",
      (s, d) => {
        SimilarityOps.ensureIvfIndex(s, d)
        val q = Catalog.parquet(s, s"$d/embeddings.parquet").where(col("vec_id") < 10)
        val feed = Drain.feed(s, "x17", q.where(col("vec_id") < 5), q.where(col("vec_id") >= 5))
        Drain.partials("x17", feed, 2, "the per-batch serve path was not exercised") { batch =>
          SimilarityOps.serveIvfIndexed(s, d, SimilarityOps.withNormOf(batch), nProbes = 10)
        }.orderBy("qid", "rk")
      },
      Some(SimilarityOps.sqlTrainedSearchSql),
      bench = false),

    // WATERMARK LATE-DATA ACCOUNTING — the one event-time contract the
    // other streaming entries never pin: what happens to data that
    // arrives AFTER the watermark has evicted its window. Micro-batch
    // eviction LAGS one commit (probed empirically: rows arriving in the
    // batch right after their on-time peers still find live state and
    // merge), so the fixture is staged as THREE files with forced arrival
    // order (modification times — FileStreamSource sorts on them):
    // batch 1 = the on-time evens, batch 2 = the single global-max-ts row
    // (a pure watermark carrier — its own window never closes), batch 3 =
    // the odd rows, now TWO commits behind. Spark's TWO-WATERMARK rule
    // (probed on this exact staging): batch 3 drops late input against
    // the PREVIOUS trigger's watermark (max even ts − 30 min — the one
    // its last eviction ran with) while evicting against the current one
    // (global max − 30 min), so odd groups under the old watermark are
    // dropped at the state store but odds in the one-trigger GAP between
    // the two watermarks still find live state and merge. The oracle
    // replays exactly that: evens plus gap-window odds, cut at the final
    // watermark. The drop metric counts post-shuffle window GROUPS (one
    // state-input row per window), pinned exactly against the batch-
    // computed distinct-late-window count. Boundary conventions (< vs <=,
    // ms-truncated watermarks) cannot bite: window ends are round hours
    // and both watermarks carry random microseconds.
    Q("x18_stream_late_data",
      (s, d) => {
        val ev = t(s, d, "events")
        // the watermark carrier: THE row holding the global max ts
        // (min event_id on ties) — a 1-row bounded driver lookup
        val maxId = ev.orderBy(col("ts").desc, col("event_id")).limit(1)
          .head().getAs[Long]("event_id")
        val Seq(even, odd) = Drain.byKey(ev.where(col("event_id") =!= maxId), col("event_id"), 2)
        val windows = Drain.feed(s, "x18", even, ev.where(col("event_id") === maxId), odd)
          .withWatermark("ts", "30 minutes")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
          .select(date_format(col("window.start"), fmtSec).as("win_start"),
            col("n"), col("total"))
        val (out, sq) = Drain.memoryQuery("x18", windows, "append", 3,
          "the two-commit late-arrival path was not exercised")
        // exact late-drop accounting: batch 3 filters against the PREVIOUS
        // trigger's watermark = (ms-truncated) max on-time ts − 30 min;
        // a late window GROUP is dropped iff its window end has passed it
        val wm1Ms = even.agg(max(unix_micros(col("ts")))).head().getLong(0) / 1000L - 1800000L
        val expectedDrops = odd
          .where(unix_micros(date_trunc("hour", col("ts"))) / 1000L + 3600000L <= wm1Ms)
          .select(date_trunc("hour", col("ts"))).distinct().count()
        val dropped = sq.recentProgress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
        require(dropped == expectedDrops,
          s"watermark dropped $dropped window groups; staged semantics predict $expectedDrops")
        require(dropped > 0, "nothing was dropped by the watermark — late path not exercised")
        out.orderBy("win_start")
      },
      Some(s"""WITH am AS (SELECT event_id FROM events ORDER BY ts DESC, event_id LIMIT 1),
                 wm1 AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM events
                         WHERE event_id % 2 = 0
                           AND event_id <> (SELECT event_id FROM am)),
                 wmf AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM events),
                 contrib AS (
                   SELECT ts, value FROM events
                   WHERE event_id <> (SELECT event_id FROM am)
                     AND (event_id % 2 = 0
                          OR date_trunc('hour', ts) + INTERVAL 1 HOUR > (SELECT w FROM wm1))),
                 agg AS (SELECT date_trunc('hour', ts) AS ws, COUNT(*) AS n,
                                ${sqlDsum("value")} AS total
                         FROM contrib GROUP BY 1)
               SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, n, total
               FROM agg WHERE ws + INTERVAL 1 HOUR <= (SELECT w FROM wmf)
               ORDER BY win_start"""),
      bench = false),

    // STREAMING SKETCH MERGE — the property that makes Count-Min the
    // streaming-scale frequency estimator: partial sketches ADD. Each
    // micro-batch builds its own d×w partial sketch via foreachBatch
    // (c34's exact machinery — StockOps.cmsSketch) and appends it to a
    // sketch store; after the drain the partials are merged by addition
    // and queried. Because merge is exact counter addition, the streamed
    // union must land on bit-identical estimates to the one-shot batch
    // sketch — so x19 shares c34's oracle verbatim. At 100 TB this is the
    // shape that works when exact per-key counts don't fit: per-batch
    // state is d×w cells regardless of stream volume, and partials merge
    // associatively from any number of executors or days.
    Q("x19_stream_cms_merge",
      (s, d) => {
        val ev = t(s, d, "events").select("event_id", "user_id")
        val feed = Drain.feed(s, "x19", Drain.byKey(ev, col("event_id"), 2): _*)
        val merged = Drain.partials("x19", feed, 2, "the sketch merge was not exercised")(
            b => StockOps.cmsSketch(b.select("user_id")))
          .groupBy("r", "bucket").agg(sum("cnt").as("cnt"))
        StockOps.cmsCompare(t(s, d, "events"), merged)
      },
      Some(StockOps.sqlCms),
      bench = false),

    // STREAM-STATIC BROADCAST ENRICHMENT — the dimension-join shape x06's
    // stream-STREAM join deliberately doesn't cover: a live log stream
    // enriched against a STATIC dimension (block headers read once in
    // batch). Statelessness is the whole point at 100 TB — a broadcast
    // hash join per micro-batch, no state store, no watermark, no shuffle
    // of the stream side — so the query REQUIRES that plan shape per
    // batch (BroadcastHashJoin present, zero StateStore operators) the
    // same way e04 requires its pushdown; a regression to a stateful or
    // shuffled join fails the gate, not just a spec. Drained in ≥ 2
    // micro-batches; oracle = the same join over the chain dumps.
    Q("x20_stream_static_enrich",
      (s, d) => {
        val dim = s.read.format("graft-eth").option("dataset", "blocks")
          .option("startBlock", "0").option("endBlock", "999").load()
          .select(col("number"), col("gasUsed"))
        Drain.partials("x20", StreamOps.ethStream(s, "logs", 500), 2,
            "per-batch enrichment was not exercised") { batch =>
          val enriched = batch.join(broadcast(dim), batch("blockNumber") === dim("number"))
            .select(batch("blockNumber"), col("logIndex"), col("address"),
              expr("gasUsed div 4194304").as("gas_tier"))
          val plan = enriched.queryExecution.executedPlan.toString
          require(plan.contains("BroadcastHashJoin"),
            s"static dim was not broadcast in the micro-batch plan:\n$plan")
          require(!plan.contains("StateStore"),
            s"stream-static join must be stateless, found state operators:\n$plan")
          enriched
        }.orderBy("blockNumber", "logIndex")
      },
      Some(s"""SELECT l.blockNumber, l.logIndex, l.address,
                      b.gasUsed // 4194304 AS gas_tier
               FROM ${chainTable("logs")} l
               JOIN ${chainTable("blocks")} b
                 ON l.blockNumber = b.number
               ORDER BY blockNumber, logIndex"""),
      bench = false),

    // Stream-stream LEFT OUTER join in the hash gate — the semantics x06
    // (inner) cannot show: an unmatched left row (a block with ZERO logs —
    // ~1/8 of the synthetic chain) is held in state and emitted
    // null-padded only once the watermark passes its event time. The
    // GLOBAL watermark is the MIN across both inputs, and the logs side
    // only advances to its newest log's event time — so with 0-second
    // delays the final watermark stands at t(maxLogBlock), and STRICT
    // eviction guarantees null emission only for blocks strictly below
    // it. The query pins exactly that deterministic region
    // (`number < maxLogBlock`, the constant read off the batch connector
    // — a 1-value driver artifact); the oracle is then exactly the batch
    // LEFT JOIN over the chain dump. In-query requires: ≥ 2 fed
    // micro-batches (state genuinely crosses batches) and ≥ 1 null-padded
    // row (the outer path actually fired).
    Q("x21_stream_outer_join",
      (s, d) => {
        val ckpt = Artifacts.newDir("x21ckpt")
        val out = Artifacts.newDir("x21out")
        // The pinned deterministic region: blocks strictly below the first
        // drain's head. CRITICAL: this filter must NOT appear inside the
        // streaming plan — Catalyst pushes it (and its constraint-derived
        // twin on the logs side) BELOW the watermark operators, so the
        // filtered head events never enter watermark statistics and the
        // watermark provably never passes the region boundary: boundary
        // nulls then never evict. The region is selected on the SINK
        // output instead.
        val Head = X21Head
        def drain(head: Long, minFed: Int): Unit = {
          def src(dataset: String) = StreamOps.ethStream(s, dataset, 500, head = head)
          val b = src("blocks").select(col("number"), col("gasUsed"))
            .withColumn("b_time", to_timestamp(from_unixtime(col("number") * 12 + 1700000000L)))
            .withWatermark("b_time", "0 seconds")
          val l = src("logs").select(col("blockNumber"), col("logIndex"), col("address"))
            .withColumn("l_time", to_timestamp(from_unixtime(col("blockNumber") * 12 + 1700000000L)))
            .withWatermark("l_time", "0 seconds")
          val j = b.join(l,
              b("number") === l("blockNumber") && b("b_time") === l("l_time"),
              "left_outer")
            .select(col("number"), col("gasUsed"), col("logIndex"), col("address"))
          Drain.run(s, "x21", ckpt, j.writeStream.format("parquet").option("path", out)
            .outputMode("append"), minFed, "join state never crossed a batch boundary")
        }
        drain(Head, 2)
        // Watermark-advancing catch-up drains (same checkpoint, +50 then
        // +51 blocks = +600 s of event time): the watermark applied to
        // state eviction lags the newest processed event by one batch, so
        // the first catch-up advances the recorded watermark far past the
        // pinned region and the second applies it — every unmatched block
        // < Head is then evicted-and-emitted regardless of batch layout
        // or eviction strictness. Rows beyond the region (matched or
        // null) are deterministic-irrelevant: the post-drain region cut
        // below removes them.
        drain(Head + 50, 0)
        drain(Head + 51, 0)
        val res = s.read.parquet(out).where(col("number") < Head)
        require(res.where(col("logIndex").isNull).limit(1).count() == 1,
          "x21 emitted no null-padded rows — the outer-join eviction path never fired")
        res.orderBy("number", "logIndex")
      },
      Some(s"""SELECT b.number, b.gasUsed, l.logIndex, l.address
               FROM ${chainTable("blocks")} b
               LEFT JOIN ${chainTable("logs")} l
                 ON l.blockNumber = b.number
               WHERE b.number < $X21Head
               ORDER BY number, logIndex"""),
      bench = false),

    // STREAMING KMV MERGE — c38's distinct sketch maintained across
    // micro-batches (the x19 shape, distinct-count member): each batch
    // contributes a VALID partial (its k smallest distinct hashes per
    // key), appended to a sketch store; the drained union re-takes k and
    // reads out the same estimates as the batch sketch — the merge law
    // StockOpsSpec pins, exercised through the real streaming path. The
    // two staged files split users across batches, so the merge genuinely
    // reconciles overlapping partials.
    Q("x22_stream_kmv_merge",
      (s, d) => {
        val ev = t(s, d, "events").select("event_id", "event_type", "user_id")
        val feed = Drain.feed(s, "x22", Drain.byKey(ev, col("user_id"), 2): _*)
        val parts = Drain.partials("x22", feed, 2, "the sketch merge was not exercised")(
          StockOps.kmvPartial)
        val merged = StockOps.perKeyTopK(parts.distinct(), Seq("event_type"), Seq(col("h")),
          StockOps.KmvK)
        val tru = t(s, d, "events").groupBy("event_type")
          .agg(count_distinct(col("user_id")).as("true_distinct"))
        StockOps.kmvEstimate(merged).join(tru, "event_type")
          .select("event_type", "sketch_k", "kth_hash", "est_distinct", "true_distinct")
          .orderBy("event_type")
      },
      Some(StockOps.sqlKmv),
      bench = false),

    // STREAMING PARTITIONED FILE SINK — continuous ingest INTO a
    // partitioned lake layout (k06's concern, streamed): a document
    // stream drained through writeStream.partitionBy(lang) into an
    // exactly-once parquet file sink (transaction-logged — a crashed
    // writer never half-publishes a file), then audited from the WRITTEN
    // layout: an in-query require pins one lang= directory per language,
    // and the emitted per-lang manifest is re-measured from the read-back
    // files against the batch table as the oracle. ≥ 2 micro-batches so
    // the sink genuinely appends across commits.
    Q("x23_stream_partitioned_sink",
      (s, d) => {
        val out = Artifacts.newDir("x23out")
        val docs = Catalog.parquet(s, s"$d/documents.parquet")
        Drain.run(s, "x23", Artifacts.newDir("x23ckpt"),
          Drain.feed(s, "x23", Drain.byKey(docs, col("doc_id"), 2): _*)
            .writeStream.format("parquet").partitionBy("lang").option("path", out).outputMode("append"),
          2, "the sink never appended across commits")
        val langDirs = new java.io.File(out).listFiles().toSeq
          .count(f => f.isDirectory && f.getName.startsWith("lang="))
        val nLangs = docs.select("lang").distinct().count()
        require(langDirs.toLong == nLangs,
          s"written layout has $langDirs lang= dirs, corpus has $nLangs languages")
        s.read.parquet(out)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS n_docs,
                     CAST(SUM(n_chars) AS BIGINT) AS total_chars
              FROM documents GROUP BY lang ORDER BY lang"""),
      bench = false),

    // STREAMING TOP-K MERGE — a continuously-maintained per-key
    // leaderboard (the x19/x22 mergeable-summary shape, order-statistic
    // member): each micro-batch contributes its LOCAL per-type top-5
    // (a valid partial — any global top-5 row is necessarily in its own
    // batch's top-5, so top-k partials merge by union + re-take-k, the
    // same semilattice law as KMV), appended to a bounded store
    // (≤ k·batches rows per key, never the stream itself); the drained
    // union re-ranks and must equal the batch top-5 exactly. The two
    // staged files split events across batches, so the merge genuinely
    // reconciles competing partials. Ties broken by event_id — total
    // order, engine-exact.
    Q("x24_stream_topk",
      (s, d) => {
        val ev = t(s, d, "events").select("event_id", "event_type", "value")
        def top5(df: DataFrame) =
          StockOps.perKeyTopK(df, Seq("event_type"), Seq(desc("value"), col("event_id")), 5)
        val feed = Drain.feed(s, "x24", Drain.byKey(ev, col("event_id"), 2): _*)
        top5(Drain.partials("x24", feed, 2, "the top-k merge was not exercised")(
            top5(_).select("event_type", "event_id", "value")).distinct())
          .select("event_type", "rk", "event_id", "value")
          .orderBy("event_type", "rk")
      },
      Some("""SELECT event_type, CAST(rk AS INT) AS rk, event_id, value FROM (
                SELECT event_type, event_id, value,
                       ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rk
                FROM events) WHERE rk <= 5
              ORDER BY event_type, rk"""),
      bench = false),

    // STREAMING CDC SNAPSHOT MAINTENANCE — c48's dimension snapshot kept
    // current by a stream (materialized-view maintenance, the x22/x24
    // mergeable-summary shape for LATEST-STATE): each micro-batch reduces
    // to one (user, max(us, event_id, state)) row per key — a valid
    // partial, because max over the unique (us, event_id) order is
    // associative and commutative — appended to a snapshot store; the
    // drained union re-reduces and must equal the batch latest-state
    // table exactly. The staged files interleave each user's TIMELINE
    // across batches (odd/even event ids), so the merge genuinely picks
    // winners across batch boundaries, not within one.
    Q("x25_stream_cdc_upsert",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        def reduceBatch(df: DataFrame) =
          df.groupBy("user_id")
            .agg(max(struct(col("us"), col("event_id"), col("event_type"))).as("m"))
            .select(col("user_id"), col("m.us").as("us"),
              col("m.event_id").as("event_id"), col("m.event_type").as("event_type"))
        val feed = Drain.feed(s, "x25", Drain.byKey(ev, col("event_id"), 2): _*)
        reduceBatch(Drain.partials("x25", feed, 2, "the snapshot merge was not exercised")(
            reduceBatch).distinct())
          .select(col("user_id"), col("event_id").as("last_event_id"),
            col("event_type").as("state"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, event_id AS last_event_id, event_type AS state FROM (
                SELECT user_id, event_id, event_type,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                         ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC) AS rn
                FROM events) WHERE rn = 1
              ORDER BY user_id"""),
      bench = false),

    // STREAMING OHLC MAINTENANCE — r06's hourly bars kept current by a
    // stream: the x25 latest-state shape extended to a COMPOSITE
    // mergeable summary. Each micro-batch reduces to one partial bar per
    // (event_type, bucket) — open/close ride min/max over the TOTAL
    // (us, event_id, value) struct order (associative + commutative, so
    // any batch split yields valid partials; law spec-pinned across
    // arbitrary shard layouts in TemporalOpsSpec), high/low/count are
    // semilattice/monoid members, volume sums EXACTLY in decimal. The
    // partials append to a bar store; the drained union re-reduces
    // (TemporalOps.ohlcMerge) and must equal r06's batch bars
    // bit-for-bit — the SAME oracle grades both. Staged files interleave
    // each bucket's events across batches (odd/even event ids), so the
    // merge genuinely reconciles competing opens/closes across batch
    // boundaries.
    Q("x26_stream_ohlc",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_type"), unix_micros(col("ts")).as("us"),
            col("event_id"), col("value"))
          .withColumn("bucket", expr(s"us div ${TemporalOps.OhlcHourUs}"))
        val feed = Drain.feed(s, "x26", Drain.byKey(ev, col("event_id"), 2): _*)
        TemporalOps.ohlcMerge(Drain.partials("x26", feed, 2, "the bar merge was not exercised")(
            TemporalOps.ohlcPartials))
          .orderBy("event_type", "bucket")
      },
      Some(TemporalOps.sqlOhlc),
      bench = false),

    // STREAMING QUANTILE-SKETCH MAINTENANCE — the quantile member of the
    // streamed mergeable-sketch family (x19 = CMS/frequency, x22 = KMV/
    // distinct, x24 = top-k, x26 = OHLC bars): c37's fixed-width histogram
    // is a pure counter table, so per-micro-batch partials appended to a
    // store merge by ADDITION, and the read-out over the merged sketch
    // must land on exactly the batch sketch's quantiles — the oracle IS
    // c37's (shared verbatim). This is how a live pipeline serves p50/p95
    // over unbounded ingest without ever re-scanning history: per-batch
    // O(batch) partials, merge O(sketch domain), read-out O(sketch).
    Q("x27_stream_hist_merge",
      (s, d) => {
        val ord = Catalog.parquet(s, s"$d/orders.parquet")
          .select("o_orderkey", "o_totalprice")
        val feed = Drain.feed(s, "x27", Drain.byKey(ord, col("o_orderkey"), 2): _*)
        val merged = Drain.partials("x27", feed, 2, "the sketch merge was not exercised")(
            StockOps.histPartial)
          .groupBy("bucket").agg(sum("c").as("c"))
        StockOps.histQuantiles(s, merged)
      },
      Some(StockOps.sqlHistQuantiles),
      bench = false),

    // STREAMING NEAR-DUP DISCOVERY — d03's MinHash-LSH as continuous
    // ingest: each micro-batch's banded signatures (a pure projection —
    // the batch plan IS the streaming plan) append into a signature
    // store, and the batch's docs equi-join the store-so-far on
    // (band, sig) to discover candidate pairs INCREMENTALLY — a pair
    // surfaces exactly when its second member arrives, so the union of
    // per-batch discoveries over any delivery order is the batch
    // pipeline's candidate set. The drained pairs go through the shared
    // exact-Jaccard verify, and the gate pins the streamed result to
    // d03's batch oracle verbatim. This is the 100 TB dedup-at-ingest
    // shape: per-batch work is O(batch × store-bucket collisions), never
    // a corpus rescan.
    Q("x28_stream_lsh_neardup",
      (s, d) => {
        val sigStore = Drain.Store("x28sigs")
        val pairStore = Drain.Store("x28pairs")
        val docs = Catalog.parquet(s, s"$d/documents.parquet").select("doc_id", "text")
        val feed = Drain.feed(s, "x28", Drain.byKey(docs, col("doc_id"), 2): _*)
        Drain.batches("x28", feed, 2, "incremental discovery was not exercised") { (batch, id) =>
          val bb = DedupOps.bandBuckets(batch)
          sigStore.put(id, bb)
          // store-so-far INCLUDES this batch — within-batch pairs are
          // found here too; least/greatest canonicalizes direction
          val store = sigStore.read(s)
          pairStore.put(id, bb.select(col("doc_id").as("da"), col("band"), col("sig"))
            .join(store.select(col("doc_id").as("db"), col("band"), col("sig")),
              Seq("band", "sig"))
            .where(col("da") =!= col("db"))
            .select(least(col("da"), col("db")).as("da"),
              greatest(col("da"), col("db")).as("db"))
            .distinct())
        }
        // explicit schema: a corpus with zero bucket collisions leaves the
        // pair store empty, which schema inference would reject
        val pairSchema = StructType(Seq(
          StructField("da", LongType), StructField("db", LongType)))
        val candidates = pairStore.read(s.read.schema(pairSchema)).distinct()
        DedupOps.jaccardVerified(s, d, candidates)
          .orderBy("da", "db")
      },
      Some(s"""WITH ${DedupOps.sqlLshCtes}
               SELECT da, db, jaccard FROM lshpairs ORDER BY da, db"""),
      bench = false),

    // BACKFILL → LIVE HANDOFF — the reference's backfill state machine
    // (SURVEY S14–S15: batch-read history, then switch to the live
    // subscription without dropping or double-sending a block) as the
    // idiomatic Spark shape: a BATCH connector read covers [0, boundary),
    // a CHECKPOINTED stream resumes at exactly `boundary` (startBlock is
    // the stream's initial offset), and both phases land in one parquet
    // dataset. The handoff law is asserted in-query — the backfill's max
    // block stays below the boundary, the stream's min block starts at or
    // after it (offset-contiguous micro-batches guarantee no interior
    // gaps) — and then PINNED by the oracle: the union must equal the
    // independent driver-side chain dump over the full range, so any
    // dropped or doubled block at the seam hash-fails the gate. This is
    // the FSM the reference hand-codes, subsumed by offset arithmetic.
    Q("x29_backfill_handoff",
      (s, d) => {
        val boundary = 400L
        val root = Artifacts.newDir("x29out")
        s.read.format("graft-eth").option("dataset", "logs")
          .option("startBlock", "0").option("endBlock", (boundary - 1).toString).load()
          .select("blockNumber", "logIndex", "address", "data")
          .write.mode("overwrite").parquet(s"$root/backfill")
        Drain.run(s, "x29", Artifacts.newDir("x29ckpt"),
          StreamOps.ethStream(s, "logs", 200, startBlock = boundary)
            .select("blockNumber", "logIndex", "address", "data")
            .writeStream.format("parquet").option("path", s"$root/live")
            .outputMode("append"),
          2, "the multi-batch live path was not exercised")
        val back = s.read.parquet(s"$root/backfill")
        val live = s.read.parquet(s"$root/live")
        val maxBack = back.agg(max("blockNumber")).first().getLong(0)
        val minLive = live.agg(min("blockNumber")).first().getLong(0)
        require(maxBack < boundary && minLive >= boundary,
          s"x29 handoff violated: backfill reaches $maxBack, live starts at $minLive, boundary $boundary")
        back.unionByName(live).orderBy("blockNumber", "logIndex")
      },
      Some(s"""SELECT blockNumber, logIndex, address, data
               FROM ${chainTable("logs")}
               WHERE blockNumber <= 999
               ORDER BY blockNumber, logIndex"""),
      bench = false),

    // STREAMING ACCOUNT-ACTIVITY MAINTENANCE — e12's address card kept
    // live (the x24/x26 maintenance series): each micro-batch reduces to
    // per-address PARTIALS (count, min block, max block — a commutative
    // monoid/semilattice triple, so partials from any batch split
    // re-reduce to the batch truth) appended to a store; the distinct-tx
    // side appends (address, txHash) pairs — set union, the one
    // non-additive measure — deduplicated at read-out. The drained
    // re-reduction must equal the batch aggregate over the same range,
    // pinned against the independent chain dump. Per-batch state is
    // |active addresses| rows, never the log history.
    Q("x30_stream_address_activity",
      (s, d) => {
        val partStore = Drain.Store("x30part")
        val txStore = Drain.Store("x30tx")
        val logs = StreamOps.ethStream(s, "logs", 250)
          .select("address", "blockNumber", "transactionHash")
        Drain.batches("x30", logs, 3, "partial merging was not exercised") { (batch, id) =>
          partStore.put(id, batch.groupBy("address")
            .agg(count(lit(1)).as("n"), min("blockNumber").as("fb"), max("blockNumber").as("lb")))
          txStore.put(id, batch.select("address", "transactionHash").distinct())
        }
        val merged = partStore.read(s)
          .groupBy("address")
          .agg(sum("n").as("n_logs"), min("fb").as("first_block"),
            max("lb").as("last_block"))
        val txs = txStore.read(s).distinct()
          .groupBy("address").agg(count(lit(1)).as("n_txs"))
        merged.join(txs, "address")
          .select("address", "n_logs", "first_block", "last_block", "n_txs")
          .orderBy("address")
      },
      Some(s"""SELECT address, COUNT(*) AS n_logs,
                      MIN(blockNumber) AS first_block,
                      MAX(blockNumber) AS last_block,
                      COUNT(DISTINCT transactionHash) AS n_txs
               FROM ${chainTable("logs")}
               WHERE blockNumber <= 999
               GROUP BY address ORDER BY address"""),
      bench = false),

    // STREAMING FORWARD FILL — c52's LOCF column maintained LIVE: sensor
    // readings arrive in event-time order (staged as a time-split feed,
    // one file per micro-batch), every 5th reading is NULL, and each
    // emitted row carries the latest real value so far — the ValueState
    // holds exactly ONE row per user (the last real observation), so
    // state is |users|, never history. The fill genuinely crosses the
    // batch boundary: a user whose batch-2 prefix is all-NULL must be
    // filled from batch-1 state (asserted in-query). Oracle: the batch
    // LAST_VALUE IGNORE NULLS — engine and oracle agree row-for-row or
    // the stateful handoff is broken.
    Q("x31_stream_locf",
      (s, d) => {
        val base = t(s, d, "events")
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
            when(pmod(col("event_id"), lit(5L)) =!= 0L, col("value")).as("v"))
        val halves = Drain.cuts(base, col("us"), 2)
        // delivery order is LOAD-BEARING here: the feed pins b1 strictly
        // after b0
        val sink = onRocksDb(s) {
          import s.implicits._
          val in = Drain.feed(s, "x31", halves: _*).as[StreamOps.LocfEvent]
          Drain.memory("x31", StreamOps.locfStream(in).toDF(), "append", 2,
            "the cross-batch fill was not exercised")
        }
        // cross-batch handoff is genuinely exercised: some user's first
        // batch-2 reading is NULL (its fill can only come from batch-1
        // state)
        val firstB2 = halves(1)
          .groupBy(col("user_id").as("u2"))
          .agg(min(struct(col("us"), col("event_id"))).as("f"))
        val nullFirst = base.join(firstB2,
            col("user_id") === col("u2") &&
              col("us") === col("f.us") && col("event_id") === col("f.event_id"))
          .where(col("v").isNull).count()
        require(nullFirst > 0,
          "no user opens batch 2 with a NULL reading — the stateful fill path is vacuous")
        sink.select("event_id", "user_id", "filled").orderBy("event_id")
      },
      Some("""WITH base AS (
                 SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us,
                        CASE WHEN event_id % 5 <> 0 THEN value END AS v
                 FROM events)
              SELECT event_id, user_id,
                     LAST_VALUE(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
              FROM base ORDER BY event_id"""),
      bench = false),

    // TICKET → LIVE SUBSCRIPTION — the mode-matrix row e15 leaves
    // untested: a (startBlock, null) ticket is the reference's
    // backfill→live subscription (ClientRequest.java:30-36), which
    // RequestRouter routes to the CHECKPOINTED STREAM in one code path
    // (no separate backfill window — the §8.2 duplicate-window quirk
    // fixed by construction). The parsed ticket's start becomes the
    // stream's initial offset and its batch_size becomes micro-batch
    // admission (the reference documents batch_size but never implements
    // it — here it is real and asserted: the drain must take ≥ 3 fed
    // micro-batches under the requested pacing). Result pinned to the
    // independent chain dump over the subscribed range.
    Q("x32_stream_ticket_serve",
      (s, d) => {
        val ticket = """{"dataset": "logs", "startBlock": "300", "batch_size": "250"}"""
        val req = graft.api.RequestRouter.parseTicket(ticket)
        require(req.endBlock.isEmpty && req.batchSize.contains(250L),
          s"ticket parsed wrong: $req")
        val live = graft.api.RequestRouter.route(s, req, Map("head" -> "999"))
        require(live.isStreaming, "(start, null) ticket must route to a stream")
        Drain.memory("x32", live.select("blockNumber", "logIndex", "address", "data"), "append",
            3, "batch_size admission was not exercised")
          .orderBy("blockNumber", "logIndex")
      },
      Some(s"""SELECT blockNumber, logIndex, address, data
               FROM ${chainTable("logs")}
               WHERE blockNumber BETWEEN 300 AND 999
               ORDER BY blockNumber, logIndex"""),
      bench = false),

    // STREAMING CADENCE MAINTENANCE — e14's inter-block gap stats kept
    // live, with the trap the naive per-batch version falls into built
    // into the gate: a micro-batch's self-join sees only WITHIN-batch
    // consecutive pairs, so the pair that straddles each batch boundary
    // (last block of batch N, first of N+1) is silently lost — at
    // maxBlocksPerTrigger=250 that is 3 of 999 gaps, and the epoch
    // totals hash-fail. The correct incremental shape carries ONE row of
    // state (the previous batch's last block) and stitches the boundary
    // pair explicitly; gap partials then merge by addition like x26's
    // bars. Drained result must equal the batch e14 aggregate on the
    // independent chain dump — missing boundary pairs cannot hide.
    Q("x33_stream_cadence",
      (s, d) => {
        val gaps = Drain.Store("x33gaps")
        // the carried state: each batch's last block, one row per entry —
        // a retry of batch N recomputes from the prior batch's unchanged
        // entry and replaces its own gap partials
        val lasts = Drain.Store("x33last")
        val blocks = StreamOps.ethStream(s, "blocks", 250)
          .select(col("number"), col("timestamp"),
            size(col("transactions")).cast(LongType).as("n_tx"))
        Drain.batches("x33", blocks, 3, "the boundary stitch was not exercised") { (batch, batchId) =>
          val cur = batch.select("number", "timestamp", "n_tx")
          val prev = cur.select((col("number") + 1).as("number"),
            col("timestamp").as("prev_ts"))
          val within = cur.join(prev, "number")
            .select(col("number"), (col("timestamp") - col("prev_ts")).as("gap"),
              col("n_tx"))
          // stitch the boundary pair against the latest PRIOR batch's
          // carried last block (stable under retry of this batch;
          // empty batches leave no entry, so `latest before` not -1)
          val first = cur.orderBy("number").limit(1).collect()(0)
          val boundary = lasts.latestBefore(batchId).map(s.read.parquet(_).head()).toSeq
            .filter(last => last.getLong(0) + 1 == first.getLong(0))
            .map(last => (first.getLong(0), first.getLong(1) - last.getLong(1), first.getLong(2)))
          import batch.sparkSession.implicits._
          gaps.put(batchId, within.unionByName(boundary.toDF("number", "gap", "n_tx")))
          lasts.put(batchId, cur.orderBy(desc("number")).limit(1))
        }
        gaps.read(s)
          .select(expr("number div 100").as("epoch"), col("gap"), col("n_tx"))
          .groupBy("epoch")
          .agg(count(lit(1)).as("n_gaps"), sum("gap").as("gap_total"),
            min("gap").as("gap_min"), max("gap").as("gap_max"),
            expr("sum(n_tx) * 1000 div sum(gap)").as("tx_per_ksec"))
          .orderBy("epoch")
      },
      Some(s"""WITH b AS (SELECT number, timestamp, n_tx
                          FROM ${chainTable("blocks")}
                          WHERE number <= 999),
                 g AS (SELECT cur.number, cur.timestamp - prv.timestamp AS gap, cur.n_tx
                       FROM b cur JOIN b prv ON cur.number = prv.number + 1)
               SELECT number // 100 AS epoch, COUNT(*) AS n_gaps,
                      CAST(SUM(gap) AS BIGINT) AS gap_total,
                      MIN(gap) AS gap_min, MAX(gap) AS gap_max,
                      CAST(SUM(n_tx) * 1000 // SUM(gap) AS BIGINT) AS tx_per_ksec
               FROM g GROUP BY 1 ORDER BY epoch"""),
      bench = false),

    // LIVE TAIL — the router's (null, null) mode, the reference's plain
    // `eth_subscribe` with no history: the subscription must start at the
    // head OBSERVED AT REGISTRATION and deliver only what the chain
    // produces afterwards. Two lives against one checkpoint make both
    // halves observable: life 1 registers at head=500 (the snapshot makes
    // the initial offset 501 — beyond the chain, so it must deliver
    // NOTHING, asserted); life 2 sees the chain advanced to 999 and must
    // deliver exactly blocks 501–999 — the checkpoint carries the
    // registration offset forward, so no pre-registration block can leak
    // in and no post-registration block can be dropped. Oracle: the chain
    // dump over (500, 999].
    Q("x34_stream_live_tail",
      (s, d) => {
        val ckpt = Artifacts.newDir("x34ckpt")
        val outDir = Artifacts.newDir("x34out")
        val req = graft.api.RequestRouter.parseTicket("""{"dataset": "logs"}""")
        require(req.startBlock.isEmpty && req.endBlock.isEmpty,
          s"(null, null) ticket parsed wrong: $req")
        def life(head: Long): Unit = {
          val live = graft.api.RequestRouter.route(s, req,
            Map("head" -> head.toString, "maxBlocksPerTrigger" -> "200"))
          Drain.run(s, "x34", ckpt, live.select("blockNumber", "logIndex", "address", "data")
            .writeStream.format("parquet").option("path", outDir).outputMode("append"))
        }
        life(500)
        // the sink may commit an EMPTY part file for the no-data batch —
        // the law is about ROWS: nothing pre-registration may be delivered
        val afterLife1 = s.read.parquet(outDir).count()
        require(afterLife1 == 0L,
          s"live tail delivered $afterLife1 pre-registration row(s) — history leaked in")
        life(999)
        val out = s.read.parquet(outDir)
        val minB = out.agg(min("blockNumber")).first().getLong(0)
        require(minB > 500, s"live tail leaked pre-registration block $minB")
        out.orderBy("blockNumber", "logIndex")
      },
      Some(s"""SELECT blockNumber, logIndex, address, data
               FROM ${chainTable("logs")}
               WHERE blockNumber > 500 AND blockNumber <= 999
               ORDER BY blockNumber, logIndex"""),
      bench = false),

    // STREAMING QUARANTINE COUNTERS — p11's validation battery as the
    // live ingest monitor it would be in production: each micro-batch of
    // arriving events reduces to ONE row of per-reason counter partials
    // (pure sums — the x26/x30 additive-merge law), appended and
    // re-reduced at read-out. The drained totals must equal the batch p11
    // report over the same rows — a dropped batch, a double-counted
    // retry, or a drifted threshold all hash-fail. Per-batch state is one
    // counter row; nothing about the history is retained.
    Q("x35_stream_quarantine",
      (s, d) => {
        val ev = t(s, d, "events").select("event_id", "ts", "value", "props")
        val feed = Drain.feed(s, "x35", Drain.byKey(ev, col("event_id"), 2): _*)
        Drain.partials("x35", feed, 2, "counter merging was not exercised") { batch =>
          batch
            .select(
              (col("value") > 150.0).as("r_cap"),
              (get_json_object(col("props"), "$.k").cast(LongType) > 90L).as("r_k"),
              (col("ts") < lit("2024-01-01").cast(TimestampType) ||
                col("ts") >= lit("2024-03-01").cast(TimestampType)).as("r_ts"))
            .agg(
              sum(when(col("r_cap"), 1L).otherwise(0L)).as("n_value_above_cap"),
              sum(when(col("r_k"), 1L).otherwise(0L)).as("n_k_out_of_range"),
              sum(when(col("r_ts"), 1L).otherwise(0L)).as("n_ts_out_of_window"),
              sum(when(col("r_cap") || col("r_k") || col("r_ts"), 1L).otherwise(0L))
                .as("n_quarantined"),
              sum(when(!(col("r_cap") || col("r_k") || col("r_ts")), 1L).otherwise(0L))
                .as("n_passed"))
        }.agg(
          sum("n_value_above_cap").as("n_value_above_cap"),
          sum("n_k_out_of_range").as("n_k_out_of_range"),
          sum("n_ts_out_of_window").as("n_ts_out_of_window"),
          sum("n_quarantined").as("n_quarantined"),
          sum("n_passed").as("n_passed"))
      },
      // p11's oracle verbatim — the stream must land on the batch report
      Some("""WITH checks AS (
                 SELECT value > 150.0 AS r_cap,
                        CAST(json_extract_string(props, '$.k') AS BIGINT) > 90 AS r_k,
                        ts < TIMESTAMP '2024-01-01' OR ts >= TIMESTAMP '2024-03-01' AS r_ts
                 FROM events)
              SELECT CAST(SUM(CASE WHEN r_cap THEN 1 ELSE 0 END) AS BIGINT) AS n_value_above_cap,
                     CAST(SUM(CASE WHEN r_k THEN 1 ELSE 0 END) AS BIGINT) AS n_k_out_of_range,
                     CAST(SUM(CASE WHEN r_ts THEN 1 ELSE 0 END) AS BIGINT) AS n_ts_out_of_window,
                     CAST(SUM(CASE WHEN r_cap OR r_k OR r_ts THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
                     CAST(SUM(CASE WHEN NOT (r_cap OR r_k OR r_ts) THEN 1 ELSE 0 END) AS BIGINT) AS n_passed
              FROM checks"""),
      bench = false),

    // STREAMING SCD2 MAINTENANCE — c35's interval table kept live through
    // transformWithState (the x31 ValueState convention): one row of state
    // per user (the open interval), a state change closes it and opens the
    // next version, append-safe because each version is emitted at most
    // twice (open, then its close — collapsed by max(to_us) after drain).
    // The cross-batch interval-close LAW is require()d non-vacuous on the
    // staged split: some user changes state across the batch boundary (its
    // batch-1-opened interval can only close from carried state) AND some
    // user holds state across it (a per-batch rebuild would open a
    // spurious version — either failure hash-fails against c35's batch
    // oracle, pinned verbatim).
    Q("x36_stream_scd2",
      (s, d) => {
        val base = t(s, d, "events")
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
            col("event_type").as("state"))
        val Seq(b1, b2) = Drain.cuts(base, col("us"), 2)
        // the boundary laws must be exercised, not just possible: per-user
        // last batch-1 state vs first batch-2 state
        val lastB1 = b1
          .groupBy(col("user_id").as("u1"))
          .agg(max(struct(col("us"), col("event_id"), col("state"))).as("l"))
          .select(col("u1"), col("l.state").as("s1"))
        val firstB2 = b2
          .groupBy(col("user_id").as("u2"))
          .agg(min(struct(col("us"), col("event_id"), col("state"))).as("f"))
          .select(col("u2"), col("f.state").as("s2"))
        val boundary = lastB1.join(firstB2, col("u1") === col("u2"))
        require(boundary.where(col("s1") =!= col("s2")).count() > 0,
          "no user changes state across the batch boundary — the carried close is vacuous")
        require(boundary.where(col("s1") === col("s2")).count() > 0,
          "no user holds state across the batch boundary — the spurious-version trap is vacuous")
        val sink = onRocksDb(s) {
          import s.implicits._
          // delivery order is load-bearing (the x31 lesson)
          val in = Drain.feed(s, "x36", b1, b2).as[StreamOps.Scd2Event]
          Drain.memory("x36", StreamOps.scd2Stream(in).toDF(), "append", 2,
            "cross-batch maintenance was not exercised")
        }
        // collapse (open, close) emissions: the close carries to_us
        sink
          .groupBy("user_id", "version")
          .agg(max(col("state")).as("state"), min(col("from_us")).as("from_us"),
            max(col("to_us")).as("to_us"))
          .select(col("user_id"), col("state"),
            timestamp_micros(col("from_us")).as("valid_from"),
            timestamp_micros(col("to_us")).as("valid_to"), col("version"))
          .orderBy("user_id", "version")
      },
      // c35's batch oracle verbatim — the stream must land on it
      Some("""WITH o AS (SELECT user_id, ts, event_id, event_type AS state,
                                lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                         FROM events),
                 c AS (SELECT * FROM o WHERE prev IS NULL OR prev <> state)
              SELECT user_id, state, ts AS valid_from,
                     lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
                     CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS version
              FROM c ORDER BY user_id, version"""),
      bench = false),

    // INCREMENTAL CLUSTER MAINTENANCE — the step x28 leaves batch-only:
    // near-dup PAIRS surface at ingest, but cluster ids (d06) were still a
    // full-corpus rebuild. Here the union-find label store is maintained
    // ACROSS micro-batches: each batch's verified pairs are contracted to
    // a label graph (nodes = current cluster labels, size ≤ 2 × batch
    // pairs — never the corpus), min-label CC merges it, and the mapping
    // relabels the store. Per-batch work is bounded by the batch's
    // discoveries; the corpus is never rescanned. The staging withholds
    // every multi-member cluster's min-id member to batch 2, so batch 2
    // MUST relabel clusters batch 1 already closed over — the mapping-
    // update path a "labels never change" implementation lacks — and the
    // relabel count is require()d > 0. Drained labels pinned to d06's
    // batch oracle verbatim.
    Q("d24_incremental_clusters",
      (s, d) => {
        val sigStore = Drain.Store("d24sigs")
        val labels = Drain.Store("d24labels")
        val relabels = new java.util.concurrent.atomic.AtomicLong(0)
        val docs = Catalog.parquet(s, s"$d/documents.parquet").select("doc_id", "text")
        // canonical (min-id) members of multi-member clusters arrive LAST
        val canon = Catalog.byName("d06_dedup_clusters").build(s, d)
          .groupBy("cluster").agg(count(lit(1)).as("n")).where(col("n") >= 2)
          .select(col("cluster").as("doc_id"))
        val feed = Drain.feed(s, "d24",
          docs.join(canon, Seq("doc_id"), "left_anti"), docs.join(canon, Seq("doc_id"), "left_semi"))
        Drain.batches("d24", feed, 2, "incremental maintenance was not exercised") { (batch, batchId) =>
          val bb = DedupOps.bandBuckets(batch)
          sigStore.put(batchId, bb)
          val store = sigStore.read(s)
          val cands = bb.select(col("doc_id").as("da"), col("band"), col("sig"))
            .join(store.select(col("doc_id").as("db"), col("band"), col("sig")),
              Seq("band", "sig"))
            .where(col("da") =!= col("db"))
            .select(least(col("da"), col("db")).as("da"),
              greatest(col("da"), col("db")).as("db"))
            .distinct()
          val verified = DedupOps.jaccardVerified(s, d, cands).select("da", "db")
          val prevLabels = labels.readLatestBefore(s, batchId, "doc_id BIGINT, label BIGINT")
          val nodes = verified.select(col("da").as("doc_id"))
            .union(verified.select(col("db").as("doc_id"))).distinct()
          val withLab = nodes.join(prevLabels, Seq("doc_id"), "left")
            .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("label"))
          // contract pair edges to the label graph and merge it
          val lg = verified
            .join(withLab.select(col("doc_id").as("da"), col("label").as("la")), Seq("da"))
            .join(withLab.select(col("doc_id").as("db"), col("label").as("lb")), Seq("db"))
            .select(col("la").as("da"), col("lb").as("db"))
            .where(col("da") =!= col("db")).distinct()
          val mapping = DedupOps.connectedComponents(lg, maxIter = 20)
            .select(col("id").as("old_label"), col("label").as("new_label"))
            .where(col("old_label") =!= col("new_label"))
            .localCheckpoint()
          relabels.addAndGet(
            mapping.join(prevLabels.select(col("label").as("old_label")).distinct(),
              Seq("old_label"), "left_semi").count())
          val allNodes = prevLabels.unionByName(
            withLab.join(prevLabels.select("doc_id"), Seq("doc_id"), "left_anti"))
          labels.put(batchId, allNodes.join(mapping, col("label") === col("old_label"), "left")
            .select(col("doc_id"), coalesce(col("new_label"), col("label")).as("label")))
        }
        require(relabels.get() > 0,
          "no existing cluster was relabeled by a later batch — the mapping-update path was vacuous")
        s.read.parquet(labels.latestBefore(Long.MaxValue).get)
          .select(col("doc_id"), col("label").as("cluster"))
          .orderBy("doc_id")
      },
      // d06's batch oracle verbatim — the maintained store must land on it
      Some(s"""WITH RECURSIVE ${DedupOps.sqlLshClusterCtes}
               SELECT doc_id, cluster FROM lclusters ORDER BY doc_id"""),
      bench = false),

    // STREAMING HLL MERGE — c62's cardinality sketch maintained across
    // micro-batches, completing the mergeable-sketch trio's streaming
    // twins: CMS merges by ADDITION (x19), KMV by UNION + re-take-k
    // (x22), HLL by per-register MAX — each batch contributes a valid
    // (key, register, ρ) partial, and the drained MAX-merge must read out
    // the same estimates as the batch sketch (c62's oracle verbatim). The
    // user split across batches makes the merge reconcile overlapping
    // registers, not just concatenate.
    Q("x37_stream_hll_merge",
      (s, d) => {
        val ev = t(s, d, "events").select("event_id", "event_type", "user_id")
        val feed = Drain.feed(s, "x37", Drain.byKey(ev, col("user_id"), 2): _*)
        val merged = Drain.partials("x37", feed, 2, "the register merge was not exercised")(
            StockOps.hllPartial)
          .groupBy("event_type", "reg").agg(max(col("mj")).as("mj"))
        val tru = t(s, d, "events").groupBy("event_type")
          .agg(count_distinct(col("user_id")).as("true_distinct"))
        StockOps.hllEstimate(merged).join(tru, "event_type")
          .select("event_type", "n_filled", "reg_isum", "est_distinct", "true_distinct")
          .orderBy("event_type")
      },
      Some(StockOps.sqlHll),
      bench = false),

    // STREAMING k-NN GRAPH MAINTENANCE — sim36's navigation structure
    // kept live at ingest (the ANN sibling of d24's cluster maintenance):
    // the quantizer is trained ONCE on the corpus (sim11's
    // train-once/serve-many convention), each arriving vector is assigned
    // its cell as a pure projection, candidate pairs are the new vectors
    // × the cell-local vector store IN BOTH DIRECTIONS (a new vector both
    // builds its own list and can enter EXISTING nodes' lists), and the
    // per-node top-4 edge store merges by union + re-take-k (the x24
    // law). Per-batch work is O(batch × cell occupancy) — the corpus is
    // never rescanned. Both maintenance laws are require()d non-vacuous
    // on the parity staging: a batch-2 vector ENTERS some batch-1 node's
    // list, and DISPLACES some batch-1 edge from a full list. Drained
    // graph pinned to sim36's batch oracle verbatim.
    Q("x38_stream_knn_maintain",
      (s, d) => {
        val vecStore = Drain.Store("x38vecs")
        val edges = Drain.Store("x38edges")
        val cents = SimilarityOps.trainedCentroids(s, d, iters = 2)
        val vecs = Catalog.parquet(s, s"$d/embeddings.parquet").select("vec_id", "embedding")
        val feed = Drain.feed(s, "x38", Drain.byKey(vecs, col("vec_id"), 2): _*)
        Drain.batches("x38", feed, 2, "incremental maintenance was not exercised") { (batch, batchId) =>
          val assigned = SimilarityOps.assignCells(
            SimilarityOps.withNormOf(batch), cents)
            .select("cell", "vec_id", "embedding", "norm2")
          vecStore.put(batchId, assigned)
          val store = vecStore.read(s)
          val a = assigned.select(col("cell"), col("vec_id").as("na"),
            col("embedding").as("ea"), col("norm2").as("nna"))
          val b = store.select(col("cell"), col("vec_id").as("nb"),
            col("embedding").as("eb"), col("norm2").as("nnb"))
          val scored = a.join(b, Seq("cell")).where(col("na") =!= col("nb"))
            .withColumn("cos_sim", SimilarityOps.cosine(
              SimilarityOps.scaledDot(col("ea"), col("eb")), col("nna"), col("nnb")))
          // both directions: the new vector's own list AND its entry
          // into existing lists (same exact cosine either way)
          val newEdges = scored.select(col("na").as("u"), col("nb").as("v"), col("cos_sim"))
            .unionByName(scored.select(col("nb").as("u"), col("na").as("v"), col("cos_sim")))
            .distinct()
          val prev = edges.readLatestBefore(s, batchId, "u BIGINT, v BIGINT, cos_sim DOUBLE")
          edges.put(batchId, StockOps.perKeyTopK(prev.unionByName(newEdges).distinct(),
              Seq("u"), Seq(desc("cos_sim"), col("v")), SimilarityOps.KnnK)
            .select("u", "v", "cos_sim"))
        }
        val entries = edges.allBefore(Long.MaxValue)
        val finalEdges = s.read.parquet(entries.last)
        val firstEdges = s.read.parquet(entries.head)
        // maintenance laws: a later (odd) vector entered an existing
        // (even) node's list, and displaced one of its batch-1 edges
        require(finalEdges.where(col("u") % 2 === 0 && col("v") % 2 === 1).count() > 0,
          "no batch-2 vector entered an existing node's list — entry law vacuous")
        require(firstEdges.select("u", "v")
            .join(finalEdges.select("u", "v"), Seq("u", "v"), "left_anti").count() > 0,
          "no batch-1 edge was displaced by a later arrival — displacement law vacuous")
        StockOps.perKeyTopK(finalEdges, Seq("u"),
            Seq(desc("cos_sim"), col("v")), SimilarityOps.KnnK, outCol = "rank")
          .select(col("u").as("vec_id"), col("rank"), col("v").as("nbr_id"), col("cos_sim"))
          .orderBy("vec_id", "rank")
      },
      // sim36's batch oracle verbatim — the maintained graph must land on it
      Some(s"""WITH ${SimilarityOps.sqlTrainedAssignCtes}, ${SimilarityOps.sqlKnnCtes}
               SELECT u AS vec_id, CAST(rk AS INT) AS rank, v AS nbr_id, cos_sim
               FROM ktop WHERE rk <= ${SimilarityOps.KnnK} ORDER BY vec_id, rank"""),
      bench = false),

    // STREAMING SEQUENCE PACKING — t20's continuous form: the
    // pretraining-data assembler never stops ingesting, so each source's
    // packed token offset must carry across micro-batches (ONE Long of
    // state per source via transformWithState). A per-batch rebuild
    // restarts every source at token 0; the staging pins that bug out by
    // require()ing a source whose batch-1 token total ends MID-CHUNK —
    // its batch-2 documents can only land at the right offsets from
    // carried state. Chunk spans derive arithmetically after drain;
    // pinned to t20's batch oracle verbatim.
    Q("x39_stream_packing",
      (s, d) => {
        val nt = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            size(TextOps.tokens(col("text"))).cast(LongType).as("n_toks"))
        val halves = Drain.cuts(nt, col("doc_id"), 2)
        // the restart bug must be catchable: some source's batch-1 total
        // ends mid-chunk (continuation offset not a multiple of 128)
        val midChunk = halves.head
          .groupBy("source").agg(sum("n_toks").as("tot"))
          .where(pmod(col("tot"), lit(128L)) =!= 0L).count()
        require(midChunk > 0,
          "every source's batch-1 total is chunk-aligned — the carried-offset law is vacuous")
        val sink = onRocksDb(s) {
          import s.implicits._
          val in = Drain.feed(s, "x39", halves: _*).as[StreamOps.PackDoc]
          Drain.memory("x39", StreamOps.packStream(in).toDF(), "append", 2,
            "the carried offset was not exercised")
        }
        sink
          .withColumn("start_tok", col("end_tok") - col("n_toks"))
          .withColumn("first_chunk", expr("start_tok div 128"))
          .withColumn("last_chunk", expr("(end_tok - 1) div 128"))
          .select("doc_id", "source", "n_toks", "start_tok", "first_chunk", "last_chunk")
          .orderBy("doc_id")
      },
      // t20's batch oracle verbatim — the carried offsets must land on it
      Some("""WITH nt AS (SELECT doc_id, source,
                                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks
                          FROM documents),
                 c AS (SELECT doc_id, source, n_toks,
                              CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_tok
                       FROM nt)
              SELECT doc_id, source, n_toks, end_tok - n_toks AS start_tok,
                     (end_tok - n_toks) // 128 AS first_chunk,
                     (end_tok - 1) // 128 AS last_chunk
              FROM c ORDER BY doc_id"""),
      bench = false),

    // STREAMING DELETION PROPAGATION — p12's right-to-be-forgotten sweep
    // as a continuous process over the near-dup cluster space (exact-digest
    // duplicates don't exist below sf0.1; LSH clusters exist at every SF).
    // Deletion requests arrive in waves and the cluster membership store is
    // maintained incrementally: each deletion batch anti-joins the prior
    // entry (bounded by the batch, never a corpus rescan), and a cluster's
    // representative is its min surviving doc_id, so a wave's re-elections
    // and deaths read off the entries before and after it.
    // The staging makes every maintenance path load-bearing: wave 1
    // deletes every cluster's CURRENT representative (all must re-elect,
    // none may die — every cluster has ≥2 members), wave 2 deletes the
    // re-elected representative (every pair cluster must DIE, and any
    // ≥3-member cluster must re-elect a SECOND time — the cross-batch law
    // a per-batch rebuild that forgets wave 1's store cannot satisfy).
    // Each law is require()d per wave. Drained report pinned to a DuckDB
    // replay over d06's cluster CTEs.
    Q("x40_stream_deletions",
      (s, d) => {
        val store = Drain.Store("x40store")
        val clusters = Catalog.byName("d06_dedup_clusters").build(s, d)
          .localCheckpoint() // (doc_id, cluster); every cluster has ≥ 2 members
        val sizes = clusters.groupBy("cluster")
          .agg(count(lit(1)).as("n_before")).localCheckpoint()
        val adds = clusters.select(lit("add").as("kind"), col("doc_id"), col("cluster"))
        // wave 1: the current representative of every cluster (== the
        // cluster id — d06 labels by min member); wave 2: the member that
        // wave 1's re-election must have promoted (second-smallest)
        val wave1 = clusters.select("cluster").distinct()
          .select(lit("del").as("kind"), col("cluster").as("doc_id"),
            lit(null).cast(LongType).as("cluster"))
        val wave2 = clusters.where(col("doc_id") =!= col("cluster"))
          .groupBy("cluster").agg(min("doc_id").as("doc_id"))
          .select(lit("del").as("kind"), col("doc_id"),
            lit(null).cast(LongType).as("cluster"))
        val feed = Drain.feed(s, "x40", adds, wave1, wave2)
        Drain.batches("x40", feed, 3, "the two deletion waves were not separate") { (batch, batchId) =>
          val newMembers = batch.where(col("kind") === "add").select("doc_id", "cluster")
          val delIds = batch.where(col("kind") === "del").select("doc_id")
          val prev = store.readLatestBefore(s, batchId, "doc_id BIGINT, cluster BIGINT")
          store.put(batchId,
            prev.unionByName(newMembers).join(broadcast(delIds), Seq("doc_id"), "left_anti"))
        }
        // a wave's laws, read off the entries before and after it: a
        // cluster re-elected iff its min(doc_id) changed, died iff it
        // vanished
        def reps(p: String) = s.read.parquet(p).groupBy("cluster").agg(min("doc_id").as("rep"))
        def wave(before: String, after: String): (Long, Long) = {
          val (b, a) = (reps(before), reps(after).withColumnRenamed("rep", "rep_after"))
          (b.join(a, "cluster").where(col("rep") =!= col("rep_after")).count(),
            b.join(a, Seq("cluster"), "left_anti").count())
        }
        val Seq(added, afterWave1, afterWave2) = store.allBefore(Long.MaxValue).takeRight(3)
        val (r1, d1) = wave(added, afterWave1)
        val (r2, d2) = wave(afterWave1, afterWave2)
        require(r1 > 0, "wave 1 deleted every representative yet re-elected none")
        require(d1 == 0, "wave 1 killed a cluster — impossible, every cluster has ≥ 2 members")
        require(d2 > 0, "wave 2 killed no pair cluster")
        if (sizes.where(col("n_before") >= 3).count() > 0)
          require(r2 > 0,
            "a ≥3-member cluster lost its second representative without a second re-election")
        val finalStore = s.read.parquet(afterWave2)
        val after = finalStore.groupBy("cluster")
          .agg(count(lit(1)).as("n_after"), min("doc_id").as("rep_after"))
        sizes.join(after, Seq("cluster"), "left")
          .select(col("cluster"), col("n_before"),
            (col("n_before") - coalesce(col("n_after"), lit(0L))).as("n_deleted"),
            coalesce(col("n_after"), lit(0L)).as("n_after"), col("rep_after"))
          .orderBy("cluster")
      },
      // batch replay over d06's cluster CTEs: delete rep + second member,
      // survivors re-elect by min — the maintained store must land on it
      Some(s"""WITH RECURSIVE ${DedupOps.sqlLshClusterCtes},
                 xsizes AS (SELECT cluster, COUNT(*) AS n_before FROM lclusters GROUP BY cluster),
                 xd2 AS (SELECT MIN(doc_id) AS doc_id FROM lclusters
                         WHERE doc_id <> cluster GROUP BY cluster),
                 xdels AS (SELECT cluster AS doc_id FROM xsizes
                           UNION ALL SELECT doc_id FROM xd2),
                 xsurv AS (SELECT cluster, doc_id FROM lclusters
                           WHERE doc_id NOT IN (SELECT doc_id FROM xdels)),
                 xafter AS (SELECT cluster, COUNT(*) AS n_after, MIN(doc_id) AS rep_after
                            FROM xsurv GROUP BY cluster)
               SELECT s.cluster, s.n_before,
                      s.n_before - COALESCE(a.n_after, 0) AS n_deleted,
                      COALESCE(a.n_after, 0) AS n_after, a.rep_after
               FROM xsizes s LEFT JOIN xafter a USING (cluster)
               ORDER BY cluster"""),
      bench = false),

    // STREAMING TOMBSTONE SERVE — sim41's deletion-aware ANN serve under a
    // LIVE deletion feed: tombstone waves arrive as micro-batches, the
    // cumulative tombstone store is maintained across batches (one
    // Drain.Store entry per batch), and the SAME static probe set
    // is re-served after each wave through serveIvfIndexed — the answer a
    // user gets depends on every deletion seen so far, which a per-batch
    // rebuild that forgets wave 0's store cannot reproduce. Wave 0 is half
    // of p12's selector (id % 40 = 0); wave 1 deletes the top-1 ANSWER of
    // the lowest surviving probe under the wave-0 serve — a deletion that
    // provably changes a served result, so the phase-1-differs law is
    // guaranteed exercised, not just possible (a fixed second selector
    // could silently stop intersecting the top-3 at a new SF). The oracle
    // replays both phases AND re-derives wave 1's pick from the phase-0
    // replay itself, so the pick rule is cross-engine-pinned too.
    Q("x41_stream_tombstone_serve",
      (s, d) => {
        val tombs = Drain.Store("x41tomb")
        val served = Drain.Store("x41out")
        val corpus = SimilarityOps.withNorm(s, d)
        val w0 = corpus.where(docHash(col("vec_id"), 40) === 0).select("vec_id")
          .localCheckpoint()
        // wave 1's pick: the top-1 result of the lowest surviving probe
        // under the wave-0 serve — derived by the same deterministic serve
        // the stream runs, and re-derived in SQL by the oracle
        val ph0 = SimilarityOps.serveIvfIndexed(s, d, corpus, nProbes = 10,
          tombstones = Some(w0)).localCheckpoint()
        val minQid = ph0.agg(min("qid")).head().getLong(0)
        val w1 = ph0.where(col("qid") === minQid && col("rk") === 1).select("vec_id")
        val feed = Drain.feed(s, "x41", w0, w1)
        Drain.batches("x41", feed, 2, "the cumulative tombstone store was not exercised") { (batch, batchId) =>
          val prev = tombs.readLatestBefore(s, batchId, "vec_id BIGINT")
          val cum = s.read.parquet(
            tombs.put(batchId, prev.unionByName(batch.select("vec_id")).distinct()))
          served.put(batchId, SimilarityOps.serveIvfIndexed(s, d, corpus, nProbes = 10,
              tombstones = Some(cum))
            .withColumn("phase", lit(batchId).cast(IntegerType)))
        }
        val out = served.read(s)
        val p0 = out.where(col("phase") === 0).select("qid", "vec_id", "rk")
        val p1 = out.where(col("phase") === 1).select("qid", "vec_id", "rk")
        require(p1.exceptAll(p0).count() > 0,
          "wave 1 changed no served row — the cross-batch tombstone carry was vacuous")
        out.select("phase", "qid", "vec_id", "cos_sim", "rk")
          .orderBy("phase", "qid", "rk")
      },
      Some(s"""WITH ${SimilarityOps.sqlTrainedSearchCtes},
                 tdel0 AS (SELECT vec_id FROM nv WHERE ${Catalog.sqlDocHash("vec_id", 40)} = 0),
                 tph0 AS (${tombstoneServe("tdel0")}),
                 tpick AS (SELECT vec_id FROM tph0
                           WHERE rk = 1 AND qid = (SELECT MIN(qid) FROM tph0)),
                 tdel1 AS (SELECT vec_id FROM tdel0 UNION SELECT vec_id FROM tpick),
                 tph1 AS (${tombstoneServe("tdel1")})
               SELECT 0 AS phase, qid, vec_id, cos_sim, rk FROM tph0
               UNION ALL
               SELECT 1, qid, vec_id, cos_sim, rk FROM tph1
               ORDER BY phase, qid, rk"""),
      bench = false),

    // STREAM-STREAM INTERVAL JOIN (attribution): each view matched to the
    // same user's purchases inside [view ts, view ts + 2 h]. The
    // time-bounded join condition is the load-bearing part: it lets
    // Structured Streaming derive a STATE WATERMARK per side and evict
    // buffered rows that can no longer match — an unbounded-condition
    // stream-stream join buffers both streams forever (x06's equi-join
    // shape holds state to the watermark horizon; here the interval bound
    // itself caps it). Both sides carry a 1-hour event-time watermark and
    // the feed is time-SPLIT into 3 mtime-ordered files (x31's staging:
    // the watermark must ADVANCE mid-run) so eviction actually fires —
    // require()d via numRowsRemoved. Because an INNER interval join emits
    // eagerly and eviction only drops provably-unmatchable rows, the
    // drained sink is exact — the oracle is the plain batch interval join.
    Q("x42_stream_interval_join",
      (s, d) => {
        val ev = t(s, d, "events").select("event_id", "ts", "user_id", "event_type")
        val feedDir = Drain.stage("x42", Drain.cuts(ev, unix_micros(col("ts")), 3): _*)
        def side(et: String, idAs: String, tsAs: String, uidAs: String) =
          Drain.read(s, feedDir, ev.schema)
            .where(col("event_type") === et)
            .select(col("event_id").as(idAs), col("ts").as(tsAs),
              col("user_id").as(uidAs))
            .withWatermark(tsAs, "1 hour")
        val views = side("view", "view_id", "vts", "user_id")
        val purch = side("purchase", "purchase_id", "pts", "p_user")
        val joined = views.join(purch,
            col("user_id") === col("p_user") &&
              col("pts") >= col("vts") &&
              col("pts") <= col("vts") + expr("INTERVAL 2 HOURS"))
          .select(col("user_id"), col("view_id"), col("purchase_id"),
            unix_micros(col("vts")).as("view_us"),
            unix_micros(col("pts")).as("purchase_us"))
        val (out, sq) = Drain.memoryQuery("x42", joined, "append", 3,
          "the multi-batch eviction path was not exercised")
        val removed = sq.recentProgress
          .flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
        require(removed > 0,
          "no join state was evicted — the interval bound never capped the buffers")
        out.orderBy("user_id", "view_id", "purchase_id")
      },
      Some("""SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
                     epoch_ns(v.ts) // 1000 AS view_us,
                     epoch_ns(p.ts) // 1000 AS purchase_us
              FROM events v JOIN events p
                ON v.user_id = p.user_id
               AND v.event_type = 'view' AND p.event_type = 'purchase'
               AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR
              ORDER BY v.user_id, view_id, purchase_id"""),
      bench = false),

    // STREAMING DATA CARD — p04's per-source governance report maintained
    // incrementally as documents arrive, pinned to p04's batch oracle
    // verbatim. Three of the five columns are additive monoids (docs,
    // tokens, quality passes — per-batch partials merge by SUM, x30's
    // convention); contamination is a per-batch stream-static broadcast
    // semi-join (x13's shape; doc_ids are unique so its count is additive
    // too); the NON-additive column is exact-duplicate incidence — a doc
    // counts iff its text occurs >1 times CORPUS-WIDE, which no per-batch
    // flag can know. It is carried as (source, text-digest, n) partial
    // counts: additive rows whose post-drain GROUP BY text-digest
    // recovers the global copy counts (the KMV/CMS mergeable-sketch
    // discipline applied to a governance report). Partials are Drain.Store
    // entries, replaced on retry.
    Q("x43_stream_data_card",
      (s, d) => {
        val scalarStore = Drain.Store("x43sc")
        val tkeyStore = Drain.Store("x43tk")
        val docs = Catalog.parquet(s, s"$d/documents.parquet")
        val feed = Drain.feed(s, "x43", Drain.byKey(docs, col("doc_id"), 3): _*)
        val cont = DedupOps.contaminatedIds(s, d)
          .withColumn("is_cont", lit(true)).localCheckpoint()
        Drain.batches("x43", feed, 3, "partial merging was not exercised") { (batch, batchId) =>
          scalarStore.put(batchId, TextOps.dataCardDocFlags(batch)
            .join(broadcast(cont), Seq("doc_id"), "left")
            .groupBy("source")
            .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
              count_if(coalesce(col("is_cont"), lit(false))).as("n_contaminated"),
              count_if(col("q_ok")).as("n_quality")))
          tkeyStore.put(batchId, batch.groupBy(col("source"), md5(col("text")).as("tkey"))
            .agg(count(lit(1)).as("n"))
            .withColumn("batch_id", lit(batchId)))
        }
        val sc = scalarStore.read(s).groupBy("source")
          .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
            sum("n_contaminated").as("n_contaminated"),
            sum("n_quality").as("n_quality"))
        val tk = tkeyStore.read(s).localCheckpoint()
        val bySrc = tk.groupBy("source", "tkey").agg(sum("n").as("n_in_source"))
        val tot = bySrc.groupBy("tkey").agg(sum("n_in_source").as("n_total"))
          .where(col("n_total") > 1).localCheckpoint()
        val dup = bySrc.join(tot.select("tkey"), "tkey")
          .groupBy("source").agg(sum("n_in_source").cast(LongType).as("n_dup_docs"))
        // when duplicates exist at this SF, the cross-batch merge must be
        // the thing that found them: some duplicated digest has to span
        // two micro-batches (doc_id%3 staging puts copies in different
        // batches), else the store degenerate-reduces to per-batch flags
        val nDupTexts = tot.count()
        if (nDupTexts > 0) {
          val spanning = tk.join(tot.select("tkey"), "tkey")
            .groupBy("tkey").agg(countDistinct(col("batch_id")).as("nb"))
            .where(col("nb") >= 2).count()
          require(spanning > 0,
            "every duplicated text landed inside one micro-batch — the cross-batch count merge was vacuous")
        }
        sc.join(dup, Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("n_tokens"),
            coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
            col("n_contaminated"), col("n_quality"))
          .orderBy("source")
      },
      Some(TextOps.sqlDataCard),
      bench = false),

    // LIST STATE — the transformWithState typed-state surface the
    // ValueState entries (x31/x36/x39) leave untested: per-user RUNNING
    // top-3 purchases where the state IS the top-k list (bounded at k per
    // key forever — the x24 semilattice carried as keyed state instead of
    // per-batch partials), composed with a ValueState event counter that
    // totally orders emissions so the drained append sink resolves each
    // user's latest list by max(n_seen) — order-free (the counter is
    // cumulative, its max is the final state under ANY delivery order).
    // Laws require()d: the counter reconciles with the true per-user
    // purchase count, and some user's final top-3 spans ≥ 2 staged
    // micro-batches (the carried list, not a per-batch flag, found it).
    // Oracle: the batch per-user top-3 under the same total order.
    Q("x44_stream_liststate_topk",
      (s, d) => {
        val base = t(s, d, "events").where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
            col("value")).localCheckpoint()
        val thirds = Drain.cuts(base, col("us"), 3)
        val sink = onRocksDb(s) {
          import s.implicits._
          val in = Drain.feed(s, "x44", thirds: _*)
            .select("user_id", "event_id", "value")
            .as[StreamOps.TopEvent]
          Drain.memory("x44", StreamOps.topKStream(in, 3).toDF(), "append", 3,
            "the cross-batch list merge was not exercised")
        }
        val latest = sink
          .join(sink.groupBy(col("user_id").as("u2")).agg(max("n_seen").as("mx")),
            col("user_id") === col("u2") && col("n_seen") === col("mx"))
          .select("user_id", "n_seen", "rank", "event_id", "value")
          .localCheckpoint()
        // counter integrity: the latest emission's n_seen IS the user's
        // true purchase count (a dropped or double-counted batch breaks it)
        val badCount = latest.select("user_id", "n_seen").distinct()
          .join(base.groupBy("user_id").agg(count(lit(1)).as("n")), "user_id")
          .where(col("n_seen") =!= col("n")).count()
        require(badCount == 0,
          s"$badCount user(s) whose ListState event counter diverged from the true count")
        // the carried list genuinely merged across batches
        val seg = thirds.zipWithIndex
          .map { case (p, i) => p.select(col("event_id"), lit(i).as("seg")) }.reduce(_ unionByName _)
        val spanning = latest.join(seg, "event_id")
          .groupBy("user_id").agg(countDistinct(col("seg")).as("nseg"))
          .where(col("nseg") >= 2).count()
        require(spanning > 0,
          "no user's final top-3 spans two micro-batches — the cross-batch list merge was vacuous")
        latest.select("user_id", "rank", "event_id", "value")
          .orderBy("user_id", "rank")
      },
      Some("""SELECT user_id, CAST(rk AS INT) AS rank, event_id, value FROM (
                SELECT user_id, event_id, value,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY value DESC, event_id) AS rk
                FROM events WHERE event_type = 'purchase') WHERE rk <= 3
              ORDER BY user_id, rank"""),
      bench = false),

    // MAP STATE — the third and last typed-state primitive (value: x31,
    // list: x44): per-user live event-type counters held as a MapState
    // sub-keyed by type — the online feature-store shape (one counter map
    // per entity, updated in place). Entries touched by a batch re-emit
    // their new cumulative count; counts are MONOTONE per (user, type),
    // so the drained append sink resolves the final map by MAX(cnt) with
    // no emission counter at all — order-free under any delivery. The
    // cross-batch law: some (user, type) must emit ≥ 2 DISTINCT counts
    // (it was accumulated across micro-batches, not recomputed per
    // batch). Oracle: the batch per-(user, type) counts.
    Q("x45_stream_mapstate_counts",
      (s, d) => {
        val base = t(s, d, "events")
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
          .localCheckpoint()
        val sink = onRocksDb(s) {
          import s.implicits._
          val in = Drain.feed(s, "x45", Drain.cuts(base, col("us"), 3): _*)
            .select("user_id", "event_type")
            .as[StreamOps.TypedEvent]
          Drain.memory("x45", StreamOps.typeCountStream(in).toDF(), "append", 3,
            "cross-batch map accumulation was not exercised")
        }
        val accumulated = sink.groupBy("user_id", "event_type")
          .agg(countDistinct(col("cnt")).as("n_emissions"))
          .where(col("n_emissions") >= 2).count()
        require(accumulated > 0,
          "no (user, type) counter was updated in two micro-batches — the in-place map update was vacuous")
        sink.groupBy("user_id", "event_type").agg(max("cnt").as("cnt"))
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT user_id, event_type, COUNT(*) AS cnt
              FROM events GROUP BY user_id, event_type
              ORDER BY user_id, event_type"""),
      bench = false),

    // EVENT-TIME TIMERS — the transformWithState facet the typed-state
    // entries (x31/x44/x45) never touch: each user's first event registers
    // a timer at first + 5 days, and when the WATERMARK passes it,
    // handleExpiredTimer emits a snapshot of the user's accumulated count
    // — the cohort-at-T+H readout. The deterministic content law is the
    // interesting part: input rows are processed BEFORE expired timers
    // within a micro-batch and the watermark lags one data batch (the x21
    // lesson), so a timer firing "during" batch k snapshots everything
    // through batch k's own file. The oracle replays exactly that: the
    // staged thirds' cut points, the per-batch watermarks, and the
    // fire-batch CASE — engine and oracle agree row-for-row or the timer
    // model is wrong. A mid-stream fire (snapshot < the user's total) is
    // require()d so the entry can never degenerate to the end-of-stream
    // sweep. Only TWO watermarks gate oracle branches (wm2 for batch 2,
    // wmf for eligibility): a timer firing during batch 3 snapshots the
    // same n_all as one firing in the final no-data batch, because batch
    // 3's own file is processed before its timers — the two arms coincide
    // and need no wm3.
    Q("x46_stream_timer_snapshot",
      (s, d) => {
        val base = t(s, d, "events")
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
            col("ts")).localCheckpoint()
        val sink = onRocksDb(s) {
          import s.implicits._
          // delivery order is load-bearing (watermark advancement feeds the
          // timers): the feed pins the thirds in order
          val in = Drain.feed(s, "x46", Drain.cuts(base, col("us"), 3): _*)
            .withWatermark("ts", "1 second")
            .as[StreamOps.SnapEvent]
          Drain.memory("x46", StreamOps.snapshotStream(in, SnapHorizonMs).toDF(),
            "append", 3, "the watermark never advanced mid-stream")
        }.localCheckpoint()
        require(sink.count() > 0, "no timer ever fired — the event-time timer path is vacuous")
        val totals = base.groupBy("user_id").agg(count(lit(1)).as("n_total"))
        val midFires = sink.join(totals, "user_id")
          .where(col("n_events") < col("n_total")).count()
        require(midFires > 0,
          "every snapshot equals the user's final total — no timer fired mid-stream, the entry degenerated to the end-of-stream sweep")
        sink.select("user_id", "first_us", "n_events", "last_us")
          .orderBy("user_id")
      },
      Some(s"""WITH ev AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
                 bounds AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM ev),
                 cuts AS (SELECT lo + (hi - lo) // 3 AS t1,
                                 lo + 2 * ((hi - lo) // 3) AS t2 FROM bounds),
                 wms AS (SELECT
                     (SELECT MAX(us) FROM ev WHERE us < (SELECT t1 FROM cuts)) // 1000 - $SnapDelayMs AS wm2,
                     (SELECT MAX(us) FROM ev) // 1000 - $SnapDelayMs AS wmf),
                 usr AS (SELECT user_id, MIN(us) AS first_us,
                                MIN(us) // 1000 + $SnapHorizonMs AS timer_ms,
                                COUNT(*) AS n_all, MAX(us) AS last_all
                         FROM ev GROUP BY user_id),
                 pre AS (SELECT user_id, COUNT(*) AS n_pre, MAX(us) AS last_pre
                         FROM ev WHERE us < (SELECT t2 FROM cuts) GROUP BY user_id)
               SELECT u.user_id, u.first_us,
                      CASE WHEN u.timer_ms <= (SELECT wm2 FROM wms)
                           THEN p.n_pre ELSE u.n_all END AS n_events,
                      CASE WHEN u.timer_ms <= (SELECT wm2 FROM wms)
                           THEN p.last_pre ELSE u.last_all END AS last_us
               FROM usr u LEFT JOIN pre p USING (user_id)
               WHERE u.timer_ms <= (SELECT wmf FROM wms)
               ORDER BY user_id"""),
      bench = false),

    // STREAMING GRAPH MAINTENANCE — g01's PageRank kept current as the
    // LINK GRAPH GROWS, completing the last batch family with no live
    // twin (the reference's only stateful live operator is the backfill
    // buffer — Subscription.java:39-149; this is the d24 incremental-state
    // convention applied to the link graph). Edges arrive in micro-batches;
    // the maintained state is the per-iteration CONTRIBUTION tables
    // C_k(v) = Σ_{(s→v)∈E_seen} w·(m_{k-1}(s) div 3), k = 1..3, from which
    // every mass is a closed form (m_k = Base + 85·C_k div 100). A batch
    // updates each level by DELTA PROPAGATION, never a full re-iteration:
    //   • new edges contribute at the current upstream mass;
    //   • OLD edges are corrected only where the upstream mass CHANGED
    //     (w·(m_new div 3 − m_old div 3)), i.e. work ∝ |ΔE| + out-edges of
    //     changed nodes — at 100 TB the edge store would be bucketed by
    //     src so the changed-src probe prunes instead of scans.
    // Levels materialize per batch into one Drain.Store entry;
    // correctness is ORDER-INDEPENDENT (each level's invariant
    // is restored exactly per batch), and the drained C_3 read-out must
    // land bit-for-bit on g01's replayed-3-iteration oracle. Two laws are
    // require()d in-flight: the correction path fired (a later batch
    // re-priced an earlier batch's edges), and at some batch the touched
    // old-edge set was a PROPER subset of the store (the delta did less
    // work than recompute).
    Q("x47_stream_pagerank",
      (s, d) => {
        import GraphOps.{BaseMass, DampNum, OutDeg, Scale}
        val edgeStore = Drain.Store("x47edges")
        val cStore = Drain.Store("x47c")
        val corrections = new java.util.concurrent.atomic.AtomicLong(0)
        val properSubset = new java.util.concurrent.atomic.AtomicBoolean(false)
        val docs = Catalog.parquet(s, s"$d/documents.parquet").select("doc_id")
        val edges = GraphOps.linkEdgesShared(s, d)
        val feed = Drain.feed(s, "x47", Drain.byKey(edges, col("src"), 3): _*)
        Drain.batches("x47", feed, 2, "incremental maintenance was not exercised") { (batch, batchId) =>
          val dE = batch.groupBy("src", "dst").agg(count(lit(1)).as("w"))
            .localCheckpoint()
          edgeStore.put(batchId, dE)
          val oldEdgeDirs = edgeStore.allBefore(batchId)
          val oldEdges =
            if (oldEdgeDirs.isEmpty) None else Some(s.read.parquet(oldEdgeDirs: _*))
          val prevCDir = cStore.latestBefore(batchId)
          def prevC(k: Int): Option[org.apache.spark.sql.DataFrame] =
            prevCDir.map(p => s.read.parquet(s"$p/c$k"))
          def emptyC = {
            import s.implicits._
            Seq.empty[(Long, Long)].toDF("doc_id", "c")
          }
          // merge a (doc_id, dc) delta into a C table
          def merge(prev: org.apache.spark.sql.DataFrame,
              delta: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
            prev.join(delta, Seq("doc_id"), "full_outer")
              .select(col("doc_id"),
                (coalesce(col("c"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("c"))
          cStore.put(batchId) { newDir =>
            // ——— level 1: upstream mass is the CONSTANT m0 = Scale ———
            val dC1 = dE.groupBy(col("dst").as("doc_id"))
              .agg(sum(col("w") * lit(Scale / OutDeg)).as("dc"))
            merge(prevC(1).getOrElse(emptyC), dC1)
              .write.parquet(s"$newDir/c1")
            // ——— levels 2..3: delta-propagate through the mass change ———
            (2 to 3).foreach { k =>
              val newUp = s.read.parquet(s"$newDir/c${k - 1}")
              val oldUp = prevC(k - 1).getOrElse(emptyC)
              // nodes whose upstream mass changed, with both masses
              val changed = newUp.select(col("doc_id"), col("c").as("cn"))
                .join(oldUp.select(col("doc_id"), col("c").as("co")),
                  Seq("doc_id"), "full_outer")
                .select(col("doc_id").as("src"),
                  (lit(BaseMass) + expr(s"$DampNum * coalesce(cn, 0L) div 100")).as("mn"),
                  (lit(BaseMass) + expr(s"$DampNum * coalesce(co, 0L) div 100")).as("mo"))
                .where(col("mn") =!= col("mo"))
                .localCheckpoint()
              val corr = oldEdges.map { oe =>
                val c = oe.join(changed, "src")
                  .select(col("dst"),
                    (col("w") * (expr(s"mn div $OutDeg") - expr(s"mo div $OutDeg"))).as("dc"))
                  .localCheckpoint()
                val touched = c.count()
                corrections.addAndGet(touched)
                if (k == 2 && touched < oe.count()) properSubset.set(true)
                c
              }
              val add = dE.join(
                  newUp.select(col("doc_id").as("src"), col("c")), Seq("src"), "left")
                .select(col("dst"),
                  (col("w") * expr(s"(($BaseMass + $DampNum * coalesce(c, 0L) div 100)) div $OutDeg")).as("dc"))
              val dCk = corr.map(_.unionByName(add)).getOrElse(add)
                .groupBy(col("dst").as("doc_id")).agg(sum("dc").as("dc"))
              merge(prevC(k).getOrElse(emptyC), dCk)
                .write.parquet(s"$newDir/c$k")
            }
          }
        }
        require(corrections.get() > 0,
          "no earlier batch's edges were ever re-priced — the correction path was vacuous")
        require(properSubset.get(),
          "every batch touched the WHOLE old-edge store — delta propagation never pruned")
        val finalDir = cStore.latestBefore(Long.MaxValue).get
        docs.join(s.read.parquet(s"$finalDir/c3"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            (lit(BaseMass) + expr(s"$DampNum * coalesce(c, 0L) div 100"))
              .cast(LongType).as("mass"))
          .orderBy("doc_id")
      },
      // g01's batch oracle verbatim — the maintained store must land on it
      Some(
        s"""WITH ${GraphOps.sqlEdges},
               m0 AS (SELECT doc_id, CAST(${GraphOps.Scale} AS BIGINT) AS mass FROM documents),
               ${GraphOps.sqlIter(1)},
               ${GraphOps.sqlIter(2)},
               ${GraphOps.sqlIter(3)}
             SELECT doc_id, mass FROM m3 ORDER BY doc_id"""),
      bench = false),

    // STREAMING TRIANGLE MAINTENANCE — g03's per-node triangle
    // participation kept EXACT as edges arrive (the classic incremental
    // triangle count: Becchetti-style last-edge attribution). Every
    // triangle is counted exactly once, in the batch its LAST edge
    // arrives, by decomposing on how many of its edges are in the
    // current delta Δ:
    //   T1 (1 new edge): Δ(u,v) wedge-closed through TWO store edges —
    //      work ∝ |Δ|·deg, a probe of the adjacency store by Δ's
    //      vertices (at 100 TB the store is bucketed by vertex, so the
    //      probe prunes instead of scans);
    //   T2 (2 new edges): the two new edges share their wedge vertex, so
    //      the pair is found once at that vertex, closed by ONE store
    //      edge;
    //   T3 (3 new edges): the a<b<c canonical pattern inside Δ alone.
    // Per-node participation is carried as ADDITIVE (doc_id, +3·count)
    // partials per batch (the x37 mergeable-partial discipline) — the
    // drained GROUP-BY-sum must land bit-for-bit on g03's batch oracle.
    // Both the single-new-edge and the multi-new-edge paths are
    // require()d non-vacuous.
    Q("x48_stream_triangles",
      (s, d) => {
        val edgeStore = Drain.Store("x48edges")
        val parts = Drain.Store("x48parts")
        val oneNew = new java.util.concurrent.atomic.AtomicLong(0)
        val multiNew = new java.util.concurrent.atomic.AtomicLong(0)
        val feed = Drain.feed(s, "x48",
          Drain.byKey(GraphOps.undirectedEdges(s, d), col("u") + col("v"), 3): _*)
        Drain.batches("x48", feed, 2, "incremental maintenance was not exercised") { (batch, batchId) =>
          val dE = batch.localCheckpoint() // canonical u < v
          edgeStore.put(batchId, dE)
          val oldDirs = edgeStore.allBefore(batchId)
          val old = if (oldDirs.isEmpty) None else Some(s.read.parquet(oldDirs: _*))
          val dSym = sym(dE)
          // T1: the new edge is the triangle's LAST — both closing
          // edges already in the store
          val t1 = old.map { oe =>
            val os = sym(oe)
            dE.join(os.select(col("a").as("u"), col("b").as("w")), Seq("u"))
              .join(os.select(col("a").as("v"), col("b").as("w")), Seq("v", "w"), "left_semi")
              .select(col("u"), col("v"), col("w"))
          }
          // T2: two new edges wedge at w, closed by one store edge
          val t2 = old.map { oe =>
            dSym.select(col("a").as("w"), col("b").as("u"))
              .join(dSym.select(col("a").as("w"), col("b").as("v")), Seq("w"))
              .where(col("u") < col("v"))
              .join(oe, Seq("u", "v"), "left_semi")
              .select(col("u"), col("v"), col("w"))
          }
          // T3: all three edges in this delta (a<b<c canonical)
          val t3 = dE.as("ab")
            .join(dE.as("bc"), col("ab.v") === col("bc.u"))
            .join(dE.select(col("u").as("xa"), col("v").as("xc")),
              col("ab.u") === col("xa") && col("bc.v") === col("xc"), "left_semi")
            .select(col("ab.u").as("u"), col("ab.v").as("v"), col("bc.v").as("w"))
          val newTris = (t1.toSeq ++ t2.toSeq :+ t3)
            .reduce(_ unionByName _).localCheckpoint()
          oneNew.addAndGet(t1.map(_.count()).getOrElse(0L))
          multiNew.addAndGet(t2.map(_.count()).getOrElse(0L) + t3.count())
          parts.put(batchId, newTris
            .select(explode(array(col("u"), col("v"), col("w"))).as("doc_id"))
            .groupBy("doc_id").agg(count(lit(1)).as("c")))
        }
        require(oneNew.get() > 0,
          "no triangle was ever closed through the edge store — the T1 probe path was vacuous")
        require(multiNew.get() > 0,
          "no triangle ever had 2+ edges in one delta — the T2/T3 paths were vacuous")
        parts.read(s)
          .groupBy("doc_id").agg(sum("c").as("n_tri"))
          .orderBy("doc_id")
      },
      // g03's batch oracle verbatim — the maintained partials must land on it
      Some(
        s"""WITH ${GraphOps.sqlEdges},
               und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
                       FROM e WHERE src <> dst),
               deg AS (SELECT node, COUNT(*) AS dg
                       FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
                       GROUP BY node),
               o AS (SELECT CASE WHEN (du.dg, u) < (dv.dg, v) THEN u ELSE v END AS a,
                            CASE WHEN (du.dg, u) < (dv.dg, v) THEN v ELSE u END AS b
                     FROM und JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
               tri AS (SELECT o1.a, o1.b, o2.b AS c FROM o o1 JOIN o o2 ON o2.a = o1.b
                       WHERE EXISTS (SELECT 1 FROM o o3 WHERE o3.a = o1.a AND o3.b = o2.b))
             SELECT doc_id, COUNT(*) AS n_tri
             FROM (SELECT UNNEST([a, b, c]) AS doc_id FROM tri)
             GROUP BY doc_id ORDER BY doc_id"""),
      bench = false),

    // STREAMING ASSORTATIVITY — g11's degree-degree Pearson r maintained
    // as edges arrive. The moment algebra makes this cleanly incremental:
    // over the ORIENTED adjacency, m = Σd, sx = sy = Σd², sxx = syy = Σd³
    // are pure DEGREE-TABLE aggregates (each node appears as left endpoint
    // exactly deg times), recomputed exactly from the additively-maintained
    // degree table each batch — only sxy = Σ dx·dy needs edge-level
    // maintenance. A batch changes degrees by Δd on the delta's vertices
    // C, and the product expands exactly:
    //   new·new − old·old = Δd(a)·old(b) + old(a)·Δd(b) + Δd(a)·Δd(b),
    // so the old-edge correction is THREE inner joins against the small
    // Δd table (work ∝ edges incident to C, never the store), plus the
    // new edges priced at the new degrees. All integer until g11's own
    // final cast/sqrt, so the drained scalar lands bit-for-bit on the
    // batch oracle. Correction path require()d non-vacuous.
    Q("x49_stream_assortativity",
      (s, d) => {
        val edgeStore = Drain.Store("x49edges")
        val degs = Drain.Store("x49deg")
        val sxys = Drain.Store("x49sxy")
        val corrections = new java.util.concurrent.atomic.AtomicLong(0)
        val feed = Drain.feed(s, "x49",
          Drain.byKey(GraphOps.undirectedEdges(s, d), col("u") + col("v"), 3): _*)
        Drain.batches("x49", feed, 2, "incremental maintenance was not exercised") { (batch, batchId) =>
          import s.implicits._
          val dE = batch.localCheckpoint()
          edgeStore.put(batchId, dE)
          val oldDirs = edgeStore.allBefore(batchId)
          val oldDeg = degs.readLatestBefore(s, batchId, "node BIGINT, dg BIGINT")
          val prevSxy = sxys.latestBefore(batchId)
            .map(p => s.read.parquet(p).head().getLong(0)).getOrElse(0L)
          // degree delta of this batch's vertices, merged degree table
          val dd = sym(dE).groupBy(col("a").as("node"))
            .agg(count(lit(1)).as("delta")).localCheckpoint()
          val newDeg = oldDeg.join(dd, Seq("node"), "full_outer")
            .select(col("node"),
              (coalesce(col("dg"), lit(0L)) + coalesce(col("delta"), lit(0L))).as("dg"))
          val ndg = s.read.parquet(degs.put(batchId, newDeg))
          // sxy correction on OLD edges: three inner joins vs Δd
          val corr: Long = if (oldDirs.isEmpty) 0L else {
            val oa = sym(s.read.parquet(oldDirs: _*))
            def j(left: org.apache.spark.sql.DataFrame, la: String,
                  right: org.apache.spark.sql.DataFrame, rb: String): Long = {
              val r = oa
                .join(left.select(col("node").as("a"), col(la).as("xa")), Seq("a"))
                .join(right.select(col("node").as("b"), col(rb).as("xb")), Seq("b"))
              corrections.addAndGet(r.count())
              // coalesce: the Δd×Δd term is legitimately empty when no
              // old edge has BOTH endpoints in this delta's vertex set
              r.agg(coalesce(sum(col("xa") * col("xb")), lit(0L))).head().getLong(0)
            }
            j(dd.withColumnRenamed("delta", "x"), "x", oldDeg.withColumnRenamed("dg", "x"), "x") +
              j(oldDeg.withColumnRenamed("dg", "x"), "x", dd.withColumnRenamed("delta", "x"), "x") +
              j(dd.withColumnRenamed("delta", "x"), "x", dd.withColumnRenamed("delta", "x"), "x")
          }
          // new edges priced at the NEW degrees (both orientations)
          val add = sym(dE)
            .join(ndg.select(col("node").as("a"), col("dg").as("da")), Seq("a"))
            .join(ndg.select(col("node").as("b"), col("dg").as("db")), Seq("b"))
            .agg(sum(col("da") * col("db"))).head().getLong(0)
          sxys.put(batchId, Seq(prevSxy + corr + add).toDF("sxy").coalesce(1))
        }
        require(corrections.get() > 0,
          "no old edge was ever re-priced for a degree change — the correction path was vacuous")
        val finalDeg = s.read.parquet(degs.latestBefore(Long.MaxValue).get)
        val sxy = s.read.parquet(sxys.latestBefore(Long.MaxValue).get).head().getLong(0)
        finalDeg.agg(sum("dg").as("m"), sum(col("dg") * col("dg")).as("sx"),
            sum(col("dg") * col("dg") * col("dg")).as("sxx"))
          .select(col("m"), col("sx"), lit(sxy).as("sxy"),
            ((col("m") * lit(sxy) - col("sx") * col("sx")).cast(DoubleType) /
              sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
                (col("m") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)))
              .as("assortativity"))
      },
      // g11's batch oracle verbatim — the maintained moments must land on it
      Some(s"""WITH ${GraphOps.sqlEdges},
                 und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
                         FROM e WHERE src <> dst),
                 adj AS (SELECT u AS node, v AS nbr FROM und
                         UNION ALL SELECT v, u FROM und),
                 deg AS (SELECT node, COUNT(*) AS dg FROM adj GROUP BY node),
                 p AS (SELECT a.node, a.nbr, dx.dg AS dx, dy.dg AS dy
                       FROM adj a JOIN deg dx ON dx.node = a.node
                                  JOIN deg dy ON dy.node = a.nbr)
               SELECT COUNT(*) AS m,
                      CAST(SUM(dx) AS BIGINT) AS sx,
                      CAST(SUM(dx * dy) AS BIGINT) AS sxy,
                      CAST(COUNT(*) * SUM(dx * dy) - SUM(dx) * SUM(dy) AS DOUBLE) /
                        SQRT(CAST(COUNT(*) * SUM(dx * dx) - SUM(dx) * SUM(dx) AS DOUBLE) *
                             CAST(COUNT(*) * SUM(dy * dy) - SUM(dy) * SUM(dy) AS DOUBLE)) AS assortativity
               FROM p"""),
      bench = false)
  )
}
