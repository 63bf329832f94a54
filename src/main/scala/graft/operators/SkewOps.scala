package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import Catalog._

/** Skew-mitigation utilities for cluster-scale joins and aggregations.
  *
  * AQE's skew-join handling (spark.sql.adaptive.skewJoin) covers sort-merge
  * joins after a shuffle exists; explicit salting is still the tool when
  * (a) a single hot key dominates a shuffle-hash path, or (b) a high-
  * cardinality aggregation has a heavy-hitter key (the classic web3 case:
  * one exchange contract emitting 30% of all logs).
  */
object SkewOps {

  /** Salted large×small equi-join: the large side gets a random salt in
    * [0, buckets); the small side is exploded `buckets`× so every
    * (key, salt) partition finds its match. Turns one hot key's single
    * straggler partition into `buckets` even ones at the cost of
    * replicating the small side.
    *
    * Salt derivation is deterministic (hash of the large side's full row
    * tuple, not rand()) so retries and speculative tasks are idempotent —
    * rand() salting breaks exactly-once on task retry.
    */
  def saltedJoin(
      large: DataFrame,
      small: DataFrame,
      key: String,
      buckets: Int,
      joinType: String = "inner",
      saltCols: Seq[Column] = Seq.empty): DataFrame = {
    require(buckets > 0)
    val saltBasis = if (saltCols.nonEmpty) saltCols else large.columns.map(col).toSeq
    val saltedLarge = large.withColumn("__salt", pmod(xxhash64(saltBasis: _*), lit(buckets)))
    val saltedSmall = small
      .withColumn("__salt", explode(sequence(lit(0L), lit(buckets - 1L))))
    val out = saltedLarge.join(saltedSmall, Seq(key, "__salt"), joinType)
    out.drop("__salt")
  }

  /** Two-phase (partial → final) aggregation with explicit salting for a
    * heavy-hitter group-by: phase 1 aggregates (key, salt) — hot keys fan
    * out over `buckets` reducers — phase 2 merges the per-salt partials.
    * Only works for decomposable aggregates; exposed for count/sum.
    */
  def saltedCountSum(
      df: DataFrame,
      key: String,
      sumCol: String,
      buckets: Int): DataFrame = {
    df.withColumn("__salt", pmod(xxhash64(df.columns.map(col).toSeq: _*), lit(buckets)))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__n"), sum(col(sumCol)).as("__s"))
      .groupBy(col(key))
      .agg(sum("__n").as("n"), sum("__s").as(s"sum_$sumCol"))
  }

  /** The salting utilities as oracle-checked catalog queries: salted results
    * must be IDENTICAL to the plain single-shuffle formulations (decimal
    * sums → exact + order-independent, so the equality is bit-for-bit).
    */
  val all: Seq[Q] = Seq(
    // Two-phase salted aggregation on a heavy-hitter group-by: phase 1
    // fans each hot key over 32 (key, salt) reducers, phase 2 merges the
    // partials — vs the oracle's plain GROUP BY.
    Q("k01_salted_agg",
      (s, d) => {
        val df = t(s, d, "events").select(col("event_type"), dec(col("value")).as("value"))
        saltedCountSum(df, "event_type", "value", 32)
          .select(col("event_type"), col("n"),
            col("sum_value").cast(DoubleType).as("sum_value"))
          .orderBy("event_type")
      },
      Some(s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
               FROM events GROUP BY event_type ORDER BY event_type""")),

    // Salted large×small join: lineitem's hot part keys fan out over 8
    // salt buckets while part is replicated 8× — same rows as the plain
    // equi-join (the oracle).
    Q("k02_salted_join",
      (s, d) => {
        val large = t(s, d, "lineitem")
          .select(col("l_partkey").as("pk"), dec(col("l_quantity")).as("qty"))
        val small = t(s, d, "part").select(col("p_partkey").as("pk"), col("p_brand"))
        saltedJoin(large, small, "pk", 8)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"), sum(col("qty")).cast(DoubleType).as("sum_qty"))
          .orderBy("p_brand")
      },
      Some(s"""SELECT p_brand, COUNT(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty
               FROM lineitem JOIN part ON l_partkey = p_partkey
               GROUP BY p_brand ORDER BY p_brand""")),

    // Z-ORDER LAYOUT — the multi-dimensional data-clustering move of
    // 100 TB lakehouse tables: interleave the bits of two filter columns
    // into a Morton code and bucket by its prefix, so each bucket (≈ one
    // file after a z-sorted write) is confined to a SMALL RANGE IN BOTH
    // dimensions — min/max file stats then prune scans on either column,
    // which a one-column range layout cannot give. Emitted as the layout
    // report: per z-bucket, the per-dimension extents (fixing the top 8
    // z-bits fixes the top 4 bits of each 16-bit coordinate, so every
    // extent is provably < 2^12 — spec-pinned). Pure bit arithmetic,
    // mirrored term-for-term in the oracle.
    Q("k03_zorder_layout",
      (s, d) => {
        val x = col("user_id").bitwiseAND(lit(65535L))
        val y = col("event_id").bitwiseAND(lit(65535L))
        val z = (0 until 16).map { i =>
          shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
            .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
        }.reduce(_ bitwiseOR _)
        t(s, d, "events")
          .withColumn("zbucket", shiftright(z, 24))
          .groupBy("zbucket")
          .agg(count(lit(1)).as("n"),
            min(x).as("u_min"), max(x).as("u_max"),
            min(y).as("e_min"), max(y).as("e_max"))
          .orderBy("zbucket")
      },
      Some {
        val zExpr = (0 until 16).map { i =>
          s"((((user_id & 65535) >> $i) & 1) << ${2 * i}) | " +
            s"((((event_id & 65535) >> $i) & 1) << ${2 * i + 1})"
        }.mkString("(", " | ", ")")
        s"""WITH z AS (SELECT *, $zExpr AS zc FROM events)
            SELECT zc >> 24 AS zbucket, COUNT(*) AS n,
                   MIN(user_id & 65535) AS u_min, MAX(user_id & 65535) AS u_max,
                   MIN(event_id & 65535) AS e_min, MAX(event_id & 65535) AS e_max
            FROM z GROUP BY 1 ORDER BY 1"""
      }),

    // COMPACTION PLAN — the other constant data-layout chore of a 100 TB
    // lakehouse: bin-pack many small document payloads into target-sized
    // output files per source partition. Greedy fill in doc_id order:
    // file_no = (cumulative bytes BEFORE the doc) div target — each file
    // is filled to the 64 KiB target and may overrun by at most one doc,
    // the standard size-based assignment. The running total is the
    // two-phase groupedRunningTotal (range repartition → local prefix
    // sums → broadcast offsets — t20's scale shape, never one task per
    // source), and the emitted MANIFEST (one row per planned file:
    // doc count, bytes, doc-id span) is what a compactor executes with a
    // partitionBy((source, file_no)) write.
    Q("k04_compaction_plan",
      (s, d) => {
        val target = 65536L
        val sized = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            octet_length(col("text")).cast(LongType).as("bytes"))
        StockOps.groupedRunningTotal(sized, "source", "doc_id", "bytes", "end_b")
          .withColumn("file_no", expr(s"(end_b - bytes) div $target"))
          .groupBy("source", "file_no")
          .agg(count(lit(1)).as("n_docs"), sum(col("bytes")).as("bytes"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy("source", "file_no")
      },
      Some("""WITH sized AS (
                -- DuckDB octet_length is BLOB-only; strlen is the VARCHAR
                -- byte length (Spark-side octet_length)
                SELECT doc_id, source, CAST(strlen(text) AS BIGINT) AS bytes
                FROM documents),
              c AS (
                SELECT doc_id, source, bytes,
                       CAST(SUM(bytes) OVER (PARTITION BY source ORDER BY doc_id
                                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_b
                FROM sized)
              SELECT source, (end_b - bytes) // 65536 AS file_no,
                     COUNT(*) AS n_docs, CAST(SUM(bytes) AS BIGINT) AS bytes,
                     MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
              FROM c GROUP BY 1, 2 ORDER BY source, file_no""")),

    // COMPACTION APPLY — k04 EXECUTED: the planned (source, file_no)
    // assignment is physically written as a partitionBy layout, read
    // BACK, and the manifest re-measured from the written files; the
    // oracle is k04's planned manifest, so plan and layout cannot drift.
    // An in-query require pins one leaf directory per manifest row — the
    // layout exists on disk, not just in the plan. The write is the
    // standard distributed partitioned sink (no driver funnels); the
    // read-back manifest is a plain scan + map-side-combined aggregate.
    Q("k06_compaction_apply",
      (s, d) => {
        val target = 65536L
        val out = Artifacts.newDir("k06layout")
        val sized = t(s, d, "documents")
          .select(col("doc_id"), col("source"), col("text"),
            octet_length(col("text")).cast(LongType).as("bytes"))
        StockOps.groupedRunningTotal(sized, "source", "doc_id", "bytes", "end_b")
          .withColumn("file_no", expr(s"(end_b - bytes) div $target"))
          .select("source", "file_no", "doc_id", "text", "bytes")
          .write.mode("overwrite").partitionBy("source", "file_no").parquet(out)
        val back = s.read.parquet(out)
        val manifest = back.groupBy(col("source"), col("file_no").cast(LongType).as("file_no"))
          .agg(count(lit(1)).as("n_docs"), sum("bytes").as("bytes"),
            min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
          .orderBy("source", "file_no")
        val leafDirs = new java.io.File(out).listFiles().toSeq
          .filter(f => f.isDirectory && f.getName.startsWith("source="))
          .flatMap(_.listFiles().toSeq)
          .count(f => f.isDirectory && f.getName.startsWith("file_no="))
        val planned = manifest.count()
        require(leafDirs.toLong == planned,
          s"written layout has $leafDirs leaf dirs, manifest plans $planned")
        manifest
      },
      Some("""WITH sized AS (
                SELECT doc_id, source, CAST(strlen(text) AS BIGINT) AS bytes
                FROM documents),
              c AS (
                SELECT doc_id, source, bytes,
                       CAST(SUM(bytes) OVER (PARTITION BY source ORDER BY doc_id
                                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_b
                FROM sized)
              SELECT source, (end_b - bytes) // 65536 AS file_no,
                     COUNT(*) AS n_docs, CAST(SUM(bytes) AS BIGINT) AS bytes,
                     MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
              FROM c GROUP BY 1, 2 ORDER BY source, file_no"""),
      bench = false),

    // ZONE-MAP PRUNING — the file-skipping math that makes a 100 TB range
    // scan read 3% of its files: per layout file (1000-row event_id
    // ranges — the k04-style ingest order, under which ts is near-sorted
    // so its per-file extents are TIGHT), the min/max zone map of ts, the
    // skip/scan DECISION for a fixed January window (skip iff the window
    // misses [min,max] entirely — the conservative file-stats test every
    // parquet/iceberg reader runs), and the actual per-file match count.
    // The emitted report carries its own proof: every pruned file shows
    // n_match = 0 (spec-pinned), so scanning only unpruned files returns
    // exactly the full answer. At sf0.001 the single file spans the whole
    // month (nothing prunes); at sf0.1 ~90% of files skip.
    Q("k05_zone_map_prune",
      (s, d) => {
        val lo = to_timestamp(lit("2024-01-10 00:00:00"))
        val hi = to_timestamp(lit("2024-01-13 00:00:00"))
        t(s, d, "events")
          .withColumn("file_id", expr("event_id div 1000"))
          .groupBy("file_id")
          .agg(count(lit(1)).as("n_rows"),
            min("ts").as("ts_min"), max("ts").as("ts_max"),
            count_if(col("ts").between(lo, hi)).as("n_match"))
          .withColumn("pruned", col("ts_max") < lo || col("ts_min") > hi)
          .select("file_id", "n_rows", "ts_min", "ts_max", "pruned", "n_match")
          .orderBy("file_id")
      },
      Some("""SELECT event_id // 1000 AS file_id, COUNT(*) AS n_rows,
                     MIN(ts) AS ts_min, MAX(ts) AS ts_max,
                     (MAX(ts) < TIMESTAMP '2024-01-10 00:00:00'
                      OR MIN(ts) > TIMESTAMP '2024-01-13 00:00:00') AS pruned,
                     CAST(COUNT(*) FILTER (ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                                            AND TIMESTAMP '2024-01-13 00:00:00') AS BIGINT) AS n_match
              FROM events GROUP BY 1 ORDER BY 1""")),

    // CLUSTERED-WRITE LOCALITY — the layout lever k05 measures the payoff
    // of: the SAME rows cut into equal-size (100-row) files two ways — arrival
    // order (event_id ranges) vs clustered by the lookup key (global
    // (user_id, event_id) rank ranges — the CLUSTER BY / sort-before-
    // write move). The metric is the zone-map math of a per-user point
    // lookup: how many files' (min,max) user spans contain a given user,
    // averaged over users (exact ppm). Clustered ≈ 1 file/user; natural ≈
    // every file. The global rank is NOT a single-task window: the
    // composite order key rides groupedRunningTotal under a constant
    // group (two-phase prefix count, ≤ parts offset rows — the t20
    // shape), bit-equal to ROW_NUMBER by uniqueness of (user, event).
    Q("k07_clustered_layout",
      (s, d) => {
        val ev = t(s, d, "events").select(col("event_id"), col("user_id"))
        val natural = ev.withColumn("file_id", expr("event_id div 100"))
        val ranked = StockOps.groupedRunningTotal(
          ev.withColumn("k", lit("all"))
            .withColumn("ord", col("user_id") * lit(1099511627776L) + col("event_id"))
            .withColumn("one", lit(1L)),
          "k", "ord", "one", "rn")
        val clustered = ranked.withColumn("file_id", expr("(rn - 1) div 100"))
        def metric(name: String, df: org.apache.spark.sql.DataFrame) =
          df.select("user_id", "file_id").distinct()
            .agg(countDistinct(col("file_id")).as("n_files"),
              count(lit(1)).as("user_file_pairs"),
              countDistinct(col("user_id")).as("n_users"))
            .select(lit(name).as("layout"), col("n_files"), col("user_file_pairs"),
              expr("user_file_pairs * 1000000 div n_users").as("avg_files_per_user_ppm"))
        metric("arrival_order", natural)
          .union(metric("clustered_by_user", clustered))
          .orderBy("layout")
      },
      Some("""WITH nat AS (SELECT DISTINCT user_id, event_id // 100 AS file_id FROM events),
                 rk AS (SELECT user_id,
                               (ROW_NUMBER() OVER (ORDER BY user_id, event_id) - 1) // 100 AS file_id
                        FROM events),
                 cl AS (SELECT DISTINCT user_id, file_id FROM rk),
                 m AS (
                   SELECT 'arrival_order' AS layout, COUNT(DISTINCT file_id) AS n_files,
                          COUNT(*) AS user_file_pairs, COUNT(DISTINCT user_id) AS n_users
                   FROM nat
                   UNION ALL
                   SELECT 'clustered_by_user', COUNT(DISTINCT file_id),
                          COUNT(*), COUNT(DISTINCT user_id)
                   FROM cl)
              SELECT layout, n_files, user_file_pairs,
                     user_file_pairs * 1000000 // n_users AS avg_files_per_user_ppm
              FROM m ORDER BY layout"""),
      bench = false),

    // KEY-SKEW REPORT — the number an engineer reads BEFORE picking a
    // shuffle key or a salting factor (k01/k02 are the mitigations; this
    // is the diagnosis): per candidate key, distinct-key count, the
    // hottest key's row share, and the hot/mean ratio, each in exact
    // integers; the recommended salt-bucket count is the smallest power
    // of two covering the ratio (bounded CASE ladder — a log2() would
    // hang the gate on libm ulp parity and a pow() on rounding). Scale
    // shape: one map-side-combined aggregate per key column (output =
    // |keys| rows) reduced to a 1-row summary — the report is bounded by
    // construction at any corpus size (the p05/p06 report convention,
    // allowlisted).
    Q("k08_skew_report",
      (s, d) => {
        def dim(keyCol: String) =
          t(s, d, "events")
            .groupBy(col(keyCol).cast(org.apache.spark.sql.types.StringType).as("k"))
            .agg(count(lit(1)).as("n"))
            .agg(count(lit(1)).as("n_keys"), sum("n").as("n_rows"),
              max("n").as("max_key_rows"))
            .select(lit(keyCol).as("dimension"), col("n_keys"), col("n_rows"),
              col("max_key_rows"),
              expr("max_key_rows * 1000000 div n_rows").as("top_share_ppm"),
              expr("max_key_rows * 100 * n_keys div n_rows").as("skew_x100"))
            .withColumn("salt_parts",
              // next power of two >= ceil(max/mean); ratio first as an
              // exact non-negative integer ceil-div
              expr("""CASE WHEN (skew_x100 + 99) div 100 <= 1 THEN 1
                           WHEN (skew_x100 + 99) div 100 <= 2 THEN 2
                           WHEN (skew_x100 + 99) div 100 <= 4 THEN 4
                           WHEN (skew_x100 + 99) div 100 <= 8 THEN 8
                           WHEN (skew_x100 + 99) div 100 <= 16 THEN 16
                           WHEN (skew_x100 + 99) div 100 <= 32 THEN 32
                           ELSE 64 END"""))
        dim("user_id").unionByName(dim("event_type")).orderBy("dimension")
      },
      Some("""WITH per_u AS (SELECT CAST(user_id AS VARCHAR) AS k, COUNT(*) AS n
                             FROM events GROUP BY 1),
                 per_t AS (SELECT event_type AS k, COUNT(*) AS n
                           FROM events GROUP BY 1),
                 m AS (
                   SELECT 'user_id' AS dimension, COUNT(*) AS n_keys,
                          CAST(SUM(n) AS BIGINT) AS n_rows, MAX(n) AS max_key_rows
                   FROM per_u
                   UNION ALL
                   SELECT 'event_type', COUNT(*), CAST(SUM(n) AS BIGINT), MAX(n)
                   FROM per_t),
                 r AS (SELECT *,
                              max_key_rows * 1000000 // n_rows AS top_share_ppm,
                              max_key_rows * 100 * n_keys // n_rows AS skew_x100
                       FROM m)
              SELECT dimension, n_keys, n_rows, max_key_rows, top_share_ppm, skew_x100,
                     CASE WHEN (skew_x100 + 99) // 100 <= 1 THEN 1
                          WHEN (skew_x100 + 99) // 100 <= 2 THEN 2
                          WHEN (skew_x100 + 99) // 100 <= 4 THEN 4
                          WHEN (skew_x100 + 99) // 100 <= 8 THEN 8
                          WHEN (skew_x100 + 99) // 100 <= 16 THEN 16
                          WHEN (skew_x100 + 99) // 100 <= 32 THEN 32
                          ELSE 64 END AS salt_parts
              FROM r ORDER BY dimension"""),
      bench = false)
  )
}
