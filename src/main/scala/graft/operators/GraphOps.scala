package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StringType}
import Catalog._

/** Graph analytics over a document LINK graph — the web-graph side of a
  * training-data pipeline (PageRank-class source quality, degree audits).
  * The fixture corpus has no hyperlinks, so the graph is first DERIVED
  * deterministically from the fixture (the t24/d17 convention): every doc
  * emits exactly [[OutDeg]] out-links whose targets are the multiplicative
  * id-mix of the (doc, slot) pair over the doc-id domain — same formula,
  * term-for-term, in the oracle.
  *
  * Scale shape: the graph lives as an EDGE TABLE (src, dst); each PageRank
  * iteration is one equi-join (edges ⋈ masses on src — both sides shuffle
  * on the join key) plus one map-side-combined aggregate on dst. That is
  * the canonical Pregel-as-relational-ops layout: at 100 TB nothing is ever
  * materialized per-node on the driver, and a real deployment would
  * checkpoint the mass table every few iterations to truncate lineage
  * (the d06 connected-components convention — see DedupOps).
  *
  * All arithmetic is INTEGER (mass units of 1e-6 rank): contributions are
  * floor-divided by the constant out-degree and damped by integer
  * cross-multiplication (85/100), so both engines compute bit-identical
  * trajectories — no float accumulation order to diverge on. All operands
  * are non-negative, so DuckDB's floor `//` equals Spark's truncating
  * `div` on every division.
  */
object GraphOps {

  /** Out-degree of every node (links per doc — constant by construction). */
  val OutDeg = 3

  /** g12's BFS horizon: hops expanded before unreached nodes settle at -1.
    * At OutDeg 3 from n/[[PprSeedMod]] seeds, 4 hops cover most of the
    * fixture graph while leaving the -1 path exercised at small SFs.
    * MUST be declared before `all`: the oracle string interpolates it at
    * object-init time (a later declaration interpolates 0 — the named-
    * constant init-order trap the round-7 review fixed for KnnK).
    */
  val BfsHops = 4

  /** Initial mass per node: 1.0 rank in 1e-6 units. */
  val Scale = 1000000L

  /** Damping: mass' = 0.15·Scale + 0.85·(incoming contributions), in exact
    * integer cross-multiplication form.
    */
  private[operators] val DampNum = 85L
  private[operators] val BaseMass = 150000L // (100-85)/100 * Scale

  /** The derived edge table: (src, dst) with multiplicity, OutDeg rows per
    * doc. dst = md5("src#slot") taken as a 60-bit integer, mod n. A
    * multiplicative mix ([[Catalog.docHash]]) is NOT usable here: it is
    * linear mod n, and over the contiguous doc-id domain a linear map is a
    * BIJECTION per slot — every node would get exactly in-degree OutDeg
    * and both graph queries would degenerate to constants (observed: even
    * a two-round mix leaves a piecewise-linear {2,3,4} profile with no
    * zero-in-degree node). md5 is the catalog's cross-engine pseudorandom
    * primitive (d14's fingerprints): 15 hex chars < 2^60 fit i64 exactly
    * on both engines, and the resulting in-degree profile is genuinely
    * binomial — including in-degree-0 nodes, which keep the left-join +
    * coalesce base-mass path honest.
    */
  def linkEdges(docs: DataFrame, n: Long): DataFrame =
    docs.select(col("doc_id").as("src"),
        explode(sequence(lit(0L), lit(OutDeg - 1L))).as("slot"))
      .withColumn("dst", pmod(
        conv(substring(md5(concat_ws("#",
          col("src").cast(StringType), col("slot").cast(StringType))
          .cast(BinaryType)), 1, 15), 16, 10).cast(LongType),
        lit(n)))
      .select("src", "dst")

  /** Oracle twin of [[linkEdges]] — the modulus is the same node count,
    * computed in-SQL as a scalar subquery (no driver artifact needed).
    * All operands are non-negative, so DuckDB's sign-following `%` equals
    * pmod.
    */
  private[operators] val sqlN = "(SELECT COUNT(*) FROM documents)"
  private[operators] val sqlEdges =
    s"""e AS (SELECT doc_id AS src,
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
                       % $sqlN AS dst
              FROM documents, UNNEST([0, 1, 2]) AS t(k))"""

  /** One PageRank step: every edge carries mass(src) div OutDeg; a node's
    * next mass is base + (DampNum · Σ incoming) div 100. Nodes with no
    * in-edges keep the base mass (left join + coalesce). `baseMass` is the
    * teleport term: the uniform [[BaseMass]] for global PageRank (g01),
    * a seed-concentrated column for the personalized variant (g10) — ONE
    * step implementation serves both, so a damping/rounding fix can never
    * leave the two queries diverging.
    */
  def pagerankStep(docs: DataFrame, edges: DataFrame, mass: DataFrame,
      baseMass: org.apache.spark.sql.Column = lit(BaseMass)): DataFrame = {
    val in = edges.join(mass.withColumnRenamed("doc_id", "src"), "src")
      .select(col("dst").as("doc_id"), expr(s"mass div $OutDeg").as("c"))
      .groupBy("doc_id").agg(sum("c").as("s"))
    docs.select("doc_id").join(in, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (baseMass + expr(s"$DampNum * coalesce(s, 0L) div 100")).as("mass"))
  }

  private[operators] def sqlIter(i: Int): String =
    s"""g$i AS (SELECT e.dst AS doc_id, SUM(m.mass // $OutDeg) AS s
                FROM e JOIN m${i - 1} m ON m.doc_id = e.src GROUP BY e.dst),
        m$i AS (SELECT d.doc_id,
                       CAST($BaseMass + ($DampNum * COALESCE(g.s, 0)) // 100 AS BIGINT) AS mass
                FROM documents d LEFT JOIN g$i g USING (doc_id))"""

  /** Node count: one bounded driver-side COUNT (a 1-value artifact) — it
    * parameterizes the edge modulus. An [[Artifacts.memo]]: every graph
    * query needs it, and each was paying its own count() action per build.
    */
  private def nodeCount(s: SparkSession, d: String): Long =
    Artifacts.memo("graft_nodecount", d)(t(s, d, "documents").count())

  /** The derived edge table, an [[Artifacts.shared]] dir. Every graph
    * query (g01–g13, x47–x49's static sides) starts from the SAME
    * [[linkEdges]] derivation, and each
    * previously re-derived it in every plan branch (g03's wedge join
    * planned the md5 edge subplan three times over). One narrow (src, dst)
    * parquet write; readers pay a bounded scan instead of a re-derivation.
    */
  def linkEdgesShared(s: SparkSession, d: String): DataFrame =
    Catalog.parquet(s, Artifacts.shared("graft_linkedges", d) { dir =>
      linkEdges(t(s, d, "documents"), nodeCount(s, d))
        .write.mode("overwrite").parquet(dir)
    })

  /** The undirected simple link graph: distinct (u, v) = (least, greatest)
    * endpoint pairs of [[linkEdgesShared]], self-loops dropped: g03, g07
    * and g11, and x48/x49, the streaming twins of g03 and g11.
    */
  def undirectedEdges(s: SparkSession, d: String): DataFrame =
    linkEdgesShared(s, d).where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .distinct()

  /** g08's propagated labels (doc_id, label-or-NULL after [[LpRounds]]
    * min-label rounds from the every-[[LpSeedMod]]-th seeds) — shared by
    * g08 (the labels themselves) and g13 (modularity of the labeled
    * communities). Each round is one equi-join + one map-side-combined
    * MIN aggregate; unlabeled nodes stay NULL.
    */
  private def lpLabels(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    lpLabelsOver(docs, linkEdgesShared(s, d))
  }

  /** [[lpLabels]] over an already-derived edge frame — g13 passes the
    * edges it computed for the modularity side, so one build runs ONE
    * nodeCount action and one edge derivation, not two.
    */
  private def lpLabelsOver(docs: DataFrame, e: DataFrame): DataFrame = {
    val sym = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    var m = docs.select(col("doc_id"),
      when(col("doc_id") % LpSeedMod === 0, col("doc_id")).as("label"))
      .localCheckpoint()
    (1 to LpRounds).foreach { _ =>
      val g = sym
        .join(m.withColumnRenamed("doc_id", "src").where(col("label").isNotNull), "src")
        .groupBy(col("dst")).agg(min("label").as("nl"))
        .withColumnRenamed("dst", "doc_id")
      m = m.join(g, Seq("doc_id"), "left")
        .select(col("doc_id"), least(col("label"), col("nl")).as("label"))
        .localCheckpoint()
    }
    m
  }

  /** Oracle-side replay of [[lpLabels]] (sym + m0…m[[LpRounds]]) — the
    * g08 chain, also composed into g13's modularity oracle.
    */
  private def sqlLpCtes: String = {
    val rounds = (1 to LpRounds).map { i =>
      s"""g$i AS (SELECT s.dst AS doc_id, MIN(m.label) AS nl
                  FROM sym s JOIN m${i - 1} m ON m.doc_id = s.src
                  WHERE m.label IS NOT NULL GROUP BY s.dst),
          m$i AS (SELECT p.doc_id, LEAST(p.label, g.nl) AS label
                  FROM m${i - 1} p LEFT JOIN g$i g USING (doc_id))"""
    }.mkString(",\n")
    s"""sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
          m0 AS (SELECT doc_id,
                        CASE WHEN doc_id % $LpSeedMod = 0 THEN doc_id END AS label
                 FROM documents),
          $rounds"""
  }

  /** k-core threshold: nodes must keep ≥ 4 undirected neighbors to
    * survive a peel round (avg degree of the derived graph is ~2·OutDeg,
    * so 4 peels a meaningful fraction each round). Declared BEFORE
    * `val all` — g05's oracle string interpolates it at init (the sqlCms
    * lesson).
    */
  val KCoreK = 4

  /** g06's eval-subgraph cap (oracle transitive closure is quadratic in
    * component size; the engine path needs no cap). Before `val all` —
    * interpolated into the oracle at init.
    */
  val CommunityCap = 2000L

  /** g07's hot-pivot degree cap: wedges are generated per shared neighbor
    * (the pivot), and the wedge count is Σ deg(pivot)² — a single hub
    * pivot of degree 10⁶ alone contributes 10¹² pairs. Pivots above this
    * degree are excluded from wedge GENERATION only (their own candidacy
    * as endpoints is unaffected), the d02 hot-shingle convention: at the
    * fixture's binomial in-degree profile (max observed well under 64)
    * the cap is a no-op, and it is mirrored term-for-term in the oracle
    * so the outputs stay bit-identical at any scale. The bias it buys is
    * the standard one — hub-mediated similarity is the least informative
    * link-prediction evidence. Declared BEFORE `val all` (the sqlCms
    * interpolation lesson).
    */
  val LinkPredPivotCap = 64
  val LinkPredK = 20

  /** g08's seed spacing (every 50th doc is a labeled seed) and round
    * count. Before `val all` — interpolated into the oracle at init.
    */
  val LpSeedMod = 50L
  val LpRounds = 3

  /** c51's walk-depth bound. Declared before `val all`: the engine SQL and
    * the oracle string both interpolate it at init.
    */
  val ReachDepth = 3

  /** g10's personalization: every PprSeedMod-th doc is a seed, and ALL
    * teleport mass lands on the seed set (per-seed base = BaseMass ·
    * PprSeedMod keeps total teleport mass equal to g01's). Declared
    * before `val all` — the oracle interpolates both.
    */
  val PprSeedMod = 100L

  val all: Seq[Q] = Seq(
    // PAGERANK — 3 damped integer-mass iterations over the derived link
    // graph; output is the full (doc_id, mass) rank table. The oracle
    // replays every iteration as a CTE chain (the t25/sim18 replayed-
    // training convention).
    Q("g01_link_pagerank",
      (s, d) => {
        val n = nodeCount(s, d)
        val docs = t(s, d, "documents")
        val edges = linkEdgesShared(s, d)
        val m0 = docs.select(col("doc_id"), lit(Scale).as("mass"))
        val m3 = (1 to 3).foldLeft(m0)((m, _) => pagerankStep(docs, edges, m))
        m3.select(col("doc_id"), col("mass").cast(LongType).as("mass"))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH $sqlEdges,
               m0 AS (SELECT doc_id, CAST($Scale AS BIGINT) AS mass FROM documents),
               ${sqlIter(1)},
               ${sqlIter(2)},
               ${sqlIter(3)}
             SELECT doc_id, mass FROM m3 ORDER BY doc_id""")),

    // DEGREE AUDIT — the first thing run on any new graph: per-node
    // in-degree (zero-in-degree nodes included via left join), folded to
    // the in-degree HISTOGRAM. Two map-side-combined aggregates; the
    // histogram is O(max-degree) rows no matter the corpus size.
    Q("g02_degree_histogram",
      (s, d) => {
        val n = nodeCount(s, d)
        val docs = t(s, d, "documents")
        val deg = linkEdgesShared(s, d).groupBy(col("dst").as("doc_id"))
          .agg(count(lit(1)).as("in_deg"))
        docs.select("doc_id").join(deg, Seq("doc_id"), "left")
          .select(coalesce(col("in_deg"), lit(0L)).as("in_deg"))
          .groupBy("in_deg").agg(count(lit(1)).as("n_nodes"))
          .orderBy("in_deg")
      },
      Some(
        s"""WITH $sqlEdges,
               deg AS (SELECT e.dst AS doc_id, COUNT(*) AS in_deg FROM e GROUP BY e.dst),
               nd AS (SELECT COALESCE(g.in_deg, 0) AS in_deg
                      FROM documents d LEFT JOIN deg g USING (doc_id))
             SELECT CAST(in_deg AS BIGINT) AS in_deg, COUNT(*) AS n_nodes
             FROM nd GROUP BY in_deg ORDER BY in_deg""")),

    // TRIANGLE COUNT — the standard graph-health/community signal, in the
    // shape that scales: the undirected simple graph (distinct least/
    // greatest pairs, self-loops dropped) is ORIENTED from lower to higher
    // (degree, id) — a total order, so the oriented graph is acyclic and
    // every triangle appears exactly once as (a→b, b→c, a→c). Degree
    // orientation is the classical wedge bound (Chiba–Nishizeki): each
    // wedge pivot has out-degree ≤ O(√m), so the wedge join is O(m·α)
    // instead of Σdeg² — the difference between feasible and not on a
    // power-law web graph. Dataflow: two map-side-combined aggregates
    // (dedup, degrees), one equi-join to orient, one equi-join on the
    // pivot to build wedges, one SEMI-join to close them — no driver
    // state, no windows. Output = per-node triangle participation.
    Q("g03_triangle_count",
      (s, d) => {
        val n = nodeCount(s, d)
        val docs = t(s, d, "documents")
        val und = undirectedEdges(s, d)
        val deg = und.select(col("u").as("node"))
          .unionAll(und.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("dg"))
        val lower = col("dgu") < col("dgv") ||
          (col("dgu") === col("dgv") && col("u") < col("v"))
        val o = und
          .join(deg.select(col("node").as("u"), col("dg").as("dgu")), "u")
          .join(deg.select(col("node").as("v"), col("dg").as("dgv")), "v")
          .select(when(lower, col("u")).otherwise(col("v")).as("a"),
            when(lower, col("v")).otherwise(col("u")).as("b"))
          // o feeds THREE plan branches (both wedge sides + the closing
          // semi-join); without a checkpoint each branch replans the
          // orient join chain from the scan (measured: 30 scans in the
          // g03 physical plan)
          .localCheckpoint()
        val wedge = o.as("o1").join(o.as("o2"), col("o1.b") === col("o2.a"))
          .select(col("o1.a").as("a"), col("o1.b").as("b"), col("o2.b").as("c"))
        val tri = wedge.join(
          o.select(col("a").as("ta"), col("b").as("tc")),
          col("a") === col("ta") && col("c") === col("tc"), "left_semi")
        tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH $sqlEdges,
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
             GROUP BY doc_id ORDER BY doc_id""")),

    // HITS — hubs & authorities (Kleinberg), the directed complement of
    // g01's PageRank: an authority is pointed at by good hubs, a hub
    // points at good authorities. Two mutual-reinforcement rounds from
    // unit hubs, entirely in INTEGER mass (hub₀=1 ⇒ auth₁ = in-degree ⇒
    // hub₁ = Σ auth₁ over out-neighbors ⇒ auth₂ = Σ hub₁ over
    // in-neighbors) — no normalization, so both engines walk a
    // bit-identical trajectory (the g01 convention; real HITS normalizes
    // per round, which only rescales the ranking this emits). Each round
    // is one edge⋈mass equi-join + one map-side-combined aggregate — the
    // Pregel-as-relational shape; zero-degree nodes keep mass 0 via the
    // left joins.
    Q("g04_hits",
      (s, d) => {
        val n = nodeCount(s, d)
        val docs = t(s, d, "documents")
        val ed = linkEdgesShared(s, d).where(col("src") =!= col("dst")).distinct()
          // three consumers (a1, h1's join, a2's join) — checkpoint once
          .localCheckpoint()
        val a1 = ed.groupBy(col("dst").as("doc_id")).agg(count(lit(1)).as("a1"))
        val h1 = ed.join(a1.withColumnRenamed("doc_id", "dst"), "dst")
          .groupBy(col("src").as("doc_id")).agg(sum("a1").as("h1"))
        val a2 = ed.join(h1.withColumnRenamed("doc_id", "src"), "src")
          .groupBy(col("dst").as("doc_id")).agg(sum("h1").as("a2"))
        docs.select("doc_id")
          .join(h1, Seq("doc_id"), "left")
          .join(a2, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("h1"), lit(0L)).cast(LongType).as("hub_mass"),
            coalesce(col("a2"), lit(0L)).cast(LongType).as("auth_mass"))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH $sqlEdges,
               ed AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
               a1 AS (SELECT dst AS doc_id, COUNT(*) AS a1 FROM ed GROUP BY dst),
               h1 AS (SELECT ed.src AS doc_id, SUM(a1.a1) AS h1
                      FROM ed JOIN a1 ON a1.doc_id = ed.dst GROUP BY ed.src),
               a2 AS (SELECT ed.dst AS doc_id, SUM(h1.h1) AS a2
                      FROM ed JOIN h1 ON h1.doc_id = ed.src GROUP BY ed.dst)
             SELECT d.doc_id,
                    CAST(COALESCE(h1.h1, 0) AS BIGINT) AS hub_mass,
                    CAST(COALESCE(a2.a2, 0) AS BIGINT) AS auth_mass
             FROM documents d LEFT JOIN h1 USING (doc_id) LEFT JOIN a2 USING (doc_id)
             ORDER BY doc_id""")),

    // K-CORE PEELING — iterative degeneracy filter on the undirected
    // simple link graph: repeatedly delete nodes of degree < K (here 3
    // peel rounds; the oracle replays every round as a CTE chain — the
    // g01/t25 replayed-training convention). Each round is one
    // map-side-combined degree aggregate plus two semi-joins of the edge
    // table against the survivor set — the same per-iteration shuffle
    // shape as the d06 connected-components loop; per-round
    // localCheckpoint truncates lineage so iteration N doesn't replan
    // rounds 1..N−1; nothing per-node ever reaches the driver. Output:
    // the peeling trajectory (nodes/edges surviving each round) — a
    // bounded 3-row audit table.
    Q("g05_kcore",
      (s, d) => {
        val n = nodeCount(s, d)
        val docs = t(s, d, "documents")
        val base = linkEdgesShared(s, d).where(col("src") =!= col("dst"))
        val und = base.select(col("src").as("u"), col("dst").as("v"))
          .union(base.select(col("dst").as("u"), col("src").as("v")))
          .distinct()
          // the peel loop's round-1 degree aggregate and both survivor
          // semi-joins read this frame — checkpoint once, not per branch
          .localCheckpoint()
        var edges = und
        val rounds = (1 to 3).map { r =>
          val surv = edges.groupBy("u").agg(count(lit(1)).as("deg"))
            .where(col("deg") >= KCoreK).select("u")
          edges = edges.join(surv, "u")
            .join(surv.withColumnRenamed("u", "v"), "v")
            .select("u", "v").localCheckpoint()
          edges.agg(count_distinct(col("u")).as("n_nodes"),
              expr("count(1) div 2").as("n_edges"))
            .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"))
        }
        rounds.reduce(_ union _).orderBy("round")
      },
      Some(
        s"""WITH $sqlEdges,
               e0 AS (SELECT src AS u, dst AS v FROM e WHERE src <> dst
                      UNION SELECT dst, src FROM e WHERE src <> dst),
               ${(1 to 3).map(r =>
                 s"""s$r AS (SELECT u FROM e${r - 1} GROUP BY u HAVING COUNT(*) >= $KCoreK),
                     e$r AS (SELECT p.u, p.v FROM e${r - 1} p
                             JOIN s$r a ON a.u = p.u JOIN s$r b ON b.u = p.v)""").mkString(",\n")}
             SELECT * FROM (
               ${(1 to 3).map(r =>
                 s"""SELECT CAST($r AS BIGINT) AS round,
                            COUNT(DISTINCT u) AS n_nodes,
                            CAST(COUNT(*) // 2 AS BIGINT) AS n_edges FROM e$r""")
                 .mkString(" UNION ALL ")})
             ORDER BY round""")),

    // COMMUNITY SIZE DISTRIBUTION — connected components of the link
    // graph via the O(log n) large-star/small-star machinery (DedupOps.
    // connectedComponentsStar — the SAME operator that resolves dedup
    // clusters, exercised on a graph with a GIANT component), folded to
    // the component-size histogram. The eval subgraph is capped at the
    // first [[CommunityCap]] doc ids because the ORACLE's recursive-CTE
    // transitive closure materializes |component|² rows — quadratic in
    // the giant component; the ENGINE path has no such cap (per-iteration
    // bucketed joins, d06c's 100 TB argument). Isolated nodes are
    // singleton communities via the left join.
    Q("g06_community_sizes",
      (s, d) => {
        val n = nodeCount(s, d)
        val docs = t(s, d, "documents").where(col("doc_id") < CommunityCap)
        // BOTH endpoint caps are required reading from the shared edge
        // table: the pre-round-8 form derived edges from the ALREADY
        // capped doc set, so src < CommunityCap was implicit in the
        // source — the shared table carries every doc's edges.
        val edges = linkEdgesShared(s, d)
          .where(col("src") =!= col("dst") &&
            col("src") < CommunityCap && col("dst") < CommunityCap)
          .select(col("src").as("da"), col("dst").as("db")).distinct()
        val labels = DedupOps.connectedComponentsStar(edges, 20)
        docs.select("doc_id")
          .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .select(coalesce(col("label"), col("doc_id")).as("community"))
          .groupBy("community").agg(count(lit(1)).as("n_members"))
          .groupBy("n_members").agg(count(lit(1)).as("n_communities"))
          .orderBy("n_members")
      },
      Some(
        s"""WITH RECURSIVE $sqlEdges,
               ce AS (SELECT src AS da, dst AS db FROM e
                      WHERE src <> dst AND src < $CommunityCap AND dst < $CommunityCap),
               sym AS (SELECT da AS src, db AS dst FROM ce UNION SELECT db, da FROM ce),
               reach(id, r) AS (
                 SELECT src, src FROM sym
                 UNION
                 SELECT s.src, rr.r FROM sym s JOIN reach rr ON s.dst = rr.id),
               lbl AS (SELECT id AS doc_id, MIN(r) AS label FROM reach GROUP BY id),
               mem AS (SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS community
                       FROM (SELECT doc_id FROM documents WHERE doc_id < $CommunityCap) d
                       LEFT JOIN lbl l USING (doc_id)),
               sizes AS (SELECT community, COUNT(*) AS n_members FROM mem GROUP BY community)
             SELECT n_members, COUNT(*) AS n_communities
             FROM sizes GROUP BY n_members ORDER BY n_members""")),

    // LINK PREDICTION — common-neighbor / Jaccard scoring of NON-edges,
    // the classic missing-link ranking (Liben-Nowell & Kleinberg). Scale
    // shape: candidates come only from WEDGES (pairs sharing a neighbor)
    // generated by one self-equi-join of the adjacency list on the pivot
    // — never the node-pair space; the Σ deg(pivot)² wedge bound is held
    // down by [[LinkPredPivotCap]] (a no-op at fixture scale, mirrored in
    // the oracle). Existing edges leave by an anti-join, the Jaccard
    // score |N(a)∩N(b)| / |N(a)∪N(b)| is an exact integer ppm floor
    // (cross-multiplied — no float ratio to diverge on), and the top-20
    // is a distributed TakeOrdered under the total order (score desc, a,
    // b) — deterministic at every SF (the m09 retrieval-cut convention).
    Q("g07_link_prediction",
      (s, d) => {
        val n = nodeCount(s, d)
        val docs = t(s, d, "documents")
        val und = undirectedEdges(s, d)
          // und feeds adj (twice), the non-edge anti-join, and through adj
          // the degree table — checkpoint so the four branches share one
          // distinct pass (measured: 26 scans in the g07 physical plan)
          .localCheckpoint()
        val adj = und.select(col("u").as("node"), col("v").as("nbr"))
          .union(und.select(col("v").as("node"), col("u").as("nbr")))
        val deg = adj.groupBy("node").agg(count(lit(1)).as("dg"))
          // deg feeds the pivot cap and both score-side joins
          .localCheckpoint()
        val capped = adj
          .join(deg.select(col("node").as("nbr"), col("dg").as("piv_dg")), "nbr")
          .where(col("piv_dg") <= LinkPredPivotCap)
          .select("node", "nbr")
          // both sides of the wedge self-join
          .localCheckpoint()
        val pairs = capped.as("x").join(capped.as("y"),
            col("x.nbr") === col("y.nbr") && col("x.node") < col("y.node"))
          .select(col("x.node").as("a"), col("y.node").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
        val nonEdge = pairs.join(und,
          pairs("a") === und("u") && pairs("b") === und("v"), "left_anti")
        nonEdge
          .join(deg.select(col("node").as("a"), col("dg").as("dga")), "a")
          .join(deg.select(col("node").as("b"), col("dg").as("dgb")), "b")
          .select(col("a"), col("b"), col("n_common"),
            expr("n_common * 1000000 div (dga + dgb - n_common)").as("score_ppm"))
          .orderBy(desc("score_ppm"), col("a"), col("b"))
          .limit(LinkPredK)
      },
      Some(
        s"""WITH $sqlEdges,
               und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
                       FROM e WHERE src <> dst),
               adj AS (SELECT u AS node, v AS nbr FROM und UNION SELECT v, u FROM und),
               deg AS (SELECT node, COUNT(*) AS dg FROM adj GROUP BY node),
               capped AS (SELECT a.node, a.nbr FROM adj a
                          JOIN deg p ON p.node = a.nbr WHERE p.dg <= $LinkPredPivotCap),
               pairs AS (SELECT x.node AS a, y.node AS b, COUNT(*) AS n_common
                         FROM capped x JOIN capped y
                           ON x.nbr = y.nbr AND x.node < y.node
                         GROUP BY 1, 2),
               ne AS (SELECT p.* FROM pairs p
                      WHERE NOT EXISTS (SELECT 1 FROM und WHERE u = p.a AND v = p.b))
             SELECT ne.a, ne.b, CAST(n_common AS BIGINT) AS n_common,
                    CAST(n_common * 1000000 // (da.dg + db.dg - n_common) AS BIGINT) AS score_ppm
             FROM ne JOIN deg da ON da.node = ne.a JOIN deg db ON db.node = ne.b
             ORDER BY score_ppm DESC, ne.a, ne.b LIMIT $LinkPredK""")),

    // SEMI-SUPERVISED LABEL PROPAGATION — the labeling counterpart of
    // d06's connected components: a SPARSE seed set (every LpSeedMod-th
    // doc carries its own id as label) spreads over the undirected link
    // graph for a FIXED number of synchronous rounds; unreached nodes
    // stay NULL. This is how sparse human labels (topic tags, quality
    // judgments) extend over a web-scale crawl graph. Deterministic:
    // label'(v) = least(label(v), min over neighbors), min is
    // tie-order-free. Each round is one equi-join + one
    // map-side-combined MIN aggregate + a left join back (the g01
    // Pregel-as-relational layout); lineage truncated per round. The
    // oracle replays all three rounds as CTEs.
    Q("g08_label_propagation",
      (s, d) => lpLabels(s, d).orderBy("doc_id"),
      Some(s"""WITH $sqlEdges,
              $sqlLpCtes
           SELECT doc_id, label FROM m$LpRounds ORDER BY doc_id""")),

    // RECURSIVE CTE — Spark 4's native `WITH RECURSIVE` (UnionLoop),
    // exercised as bounded graph reachability: all walks of length ≤
    // [[ReachDepth]] from node 0 over the link graph, reduced to each
    // reached node's minimum hop distance and walk count. The engine runs
    // the RECURSIVE SQL ITSELF (where g05/g08 unroll driver-side loops,
    // this is the declarative fixed-depth form Catalyst plans as a
    // UnionLoop); the recursion is depth-bounded so the intermediate is ≤
    // OutDeg^depth rows per seed — the shape a SQL user writes for
    // org-chart / BOM / escalation-chain walks. DuckDB executes the
    // equivalent recursion natively, making the oracle a true
    // cross-engine recursive-SQL parity check.
    Q("c51_recursive_cte",
      (s, d) => {
        val docs = t(s, d, "documents")
        val view = s"graft_edges_${Catalog.pathTag(d)}"
        linkEdgesShared(s, d).createOrReplaceTempView(view)
        s.sql(
          s"""WITH RECURSIVE reach(node, depth) AS (
                SELECT CAST(0 AS BIGINT) AS node, 0 AS depth
                UNION ALL
                SELECT e.dst, r.depth + 1
                FROM reach r JOIN $view e ON e.src = r.node
                WHERE r.depth < $ReachDepth)
              SELECT node, MIN(depth) AS min_depth, COUNT(*) AS n_walks
              FROM reach GROUP BY node ORDER BY node""")
      },
      Some(s"""WITH RECURSIVE $sqlEdges,
                 reach(node, depth) AS (
                   SELECT CAST(0 AS BIGINT) AS node, 0 AS depth
                   UNION ALL
                   SELECT e.dst, r.depth + 1
                   FROM reach r JOIN e ON e.src = r.node
                   WHERE r.depth < $ReachDepth)
               SELECT node, MIN(depth) AS min_depth, COUNT(*) AS n_walks
               FROM reach GROUP BY node ORDER BY node""")),

    // PERSONALIZED PAGERANK — g01 with the teleport vector concentrated
    // on a SEED set (every PprSeedMod-th doc): relevance FROM the seeds'
    // point of view, the similar-page / recommendation ranking (and, in a
    // curation pipeline, "how close is this document to the trusted
    // set"). Same integer-exact Pregel-as-relational loop as g01 — one
    // equi-join + one map-side-combined aggregate per round — only the
    // base-mass term changes: seeds get BaseMass·PprSeedMod, non-seeds 0,
    // so total teleport mass matches g01's and masses stay comparable.
    // Initial mass is the teleport distribution itself (the standard PPR
    // start). Nodes unreachable from the seeds in 3 hops legitimately
    // hold mass 0 — the locality that distinguishes PPR from global
    // PageRank (asserted non-degenerate in the spec).
    Q("g10_personalized_pagerank",
      (s, d) => {
        val n = nodeCount(s, d)
        val docs = t(s, d, "documents")
        val edges = linkEdgesShared(s, d)
        val seedBase = when(col("doc_id") % PprSeedMod === 0,
          lit(BaseMass * PprSeedMod)).otherwise(lit(0L))
        val m0 = docs.select(col("doc_id"),
          when(col("doc_id") % PprSeedMod === 0, lit(Scale * PprSeedMod))
            .otherwise(lit(0L)).as("mass"))
        val m3 = (1 to 3).foldLeft(m0)((m, _) =>
          pagerankStep(docs, edges, m, baseMass = seedBase))
        m3.select(col("doc_id"), col("mass").cast(LongType).as("mass"))
          .orderBy("doc_id")
      },
      Some {
        def iter(i: Int): String =
          s"""g$i AS (SELECT e.dst AS doc_id, SUM(m.mass // $OutDeg) AS s
                      FROM e JOIN m${i - 1} m ON m.doc_id = e.src GROUP BY e.dst),
              m$i AS (SELECT d.doc_id,
                             CAST(CASE WHEN d.doc_id % $PprSeedMod = 0
                                       THEN ${BaseMass * PprSeedMod} ELSE 0 END
                                  + ($DampNum * COALESCE(g.s, 0)) // 100 AS BIGINT) AS mass
                      FROM documents d LEFT JOIN g$i g USING (doc_id))"""
        s"""WITH $sqlEdges,
               m0 AS (SELECT doc_id,
                             CAST(CASE WHEN doc_id % $PprSeedMod = 0
                                       THEN ${Scale * PprSeedMod} ELSE 0 END AS BIGINT) AS mass
                      FROM documents),
               ${iter(1)},
               ${iter(2)},
               ${iter(3)}
             SELECT doc_id, mass FROM m3 ORDER BY doc_id"""
      }),

    // DEGREE ASSORTATIVITY — does the graph wire hubs to hubs (r > 0) or
    // hubs to leaves (r < 0)? The one-number wiring diagnosis run before
    // trusting degree-based sampling or pruning heuristics. Computed as
    // Pearson r over the undirected edge list's endpoint degrees: all
    // five moments (n, Σx, Σy, Σxy, Σx², Σy²) are EXACT integer sums in
    // one map-side-combined aggregate — the only floating point is the
    // final closed-form division, identical IEEE steps on both engines.
    // Output is one row (allowlisted single-row report).
    Q("g11_assortativity",
      (s, d) => {
        val n = nodeCount(s, d)
        val docs = t(s, d, "documents")
        val und = undirectedEdges(s, d)
        val adj = und.select(col("u").as("node"), col("v").as("nbr"))
          .union(und.select(col("v").as("node"), col("u").as("nbr")))
        val deg = adj.groupBy("node").agg(count(lit(1)).as("dg"))
        // each undirected edge contributes BOTH orientations (the standard
        // symmetric formulation — r is orientation-free)
        val pairs = adj
          .join(deg.select(col("node"), col("dg").as("dx")), "node")
          .join(deg.select(col("node").as("nbr"), col("dg").as("dy")), "nbr")
        pairs.agg(count(lit(1)).as("m"),
            sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
            sum(col("dx") * col("dy")).as("sxy"),
            sum(col("dx") * col("dx")).as("sxx"),
            sum(col("dy") * col("dy")).as("syy"))
          .select(col("m"), col("sx"), col("sxy"),
            ((col("m") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
              sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
                (col("m") * col("syy") - col("sy") * col("sy")).cast(DoubleType)))
              .as("assortativity"))
      },
      Some(s"""WITH $sqlEdges,
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
      bench = false),

    // MULTI-SOURCE BFS DISTANCES — hop distance from the trusted seed set
    // (g10's seeds: doc_id % PprSeedMod = 0) to every page, the integer
    // companion of g10's mass-based locality: "how many clicks from a
    // trusted page is this document" is a standard crawl-frontier /
    // curation-priority signal. Frontier expansion as relational ops: per
    // hop, ONE equi-join (frontier ⋈ edges) + ONE anti-join against the
    // settled-distance store — Σ |frontier| work, never n·hops; lineage is
    // checkpointed per hop (the d06/g05 iteration convention). Because each
    // hop settles only UNSEEN nodes, the settled distance is the true
    // shortest hop count — no relaxation pass needed on an unweighted
    // graph. Nodes unreached within BfsHops emit -1 (the honest "beyond
    // horizon" marker; the oracle's recursion is capped identically).
    Q("g12_bfs_distances",
      (s, d) => {
        val n = nodeCount(s, d)
        val docs = t(s, d, "documents")
        val edges = linkEdgesShared(s, d).localCheckpoint()
        var settled = docs.where(col("doc_id") % PprSeedMod === 0)
          .select(col("doc_id"), lit(0L).as("dist")).localCheckpoint()
        require(settled.count() > 0, "seed set is empty — BFS is vacuous")
        var frontier = settled
        for (h <- 1 to BfsHops) {
          val next = frontier.select(col("doc_id").as("src"))
            .join(edges, "src")
            .select(col("dst").as("doc_id")).distinct()
            .join(settled.select("doc_id"), Seq("doc_id"), "left_anti")
            .select(col("doc_id"), lit(h.toLong).as("dist"))
            .localCheckpoint()
          settled = settled.unionByName(next).localCheckpoint()
          frontier = next
        }
        docs.select("doc_id").join(settled, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("dist"), lit(-1L)).as("dist"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $sqlEdges,
                 breach(id, dist) AS (
                   SELECT doc_id, 0 FROM documents WHERE doc_id % $PprSeedMod = 0
                   UNION
                   SELECT e.dst, r.dist + 1 FROM e JOIN breach r ON e.src = r.id
                   WHERE r.dist < $BfsHops),
                 bmin AS (SELECT id AS doc_id, MIN(dist) AS dist FROM breach GROUP BY id)
               SELECT d.doc_id, CAST(COALESCE(b.dist, -1) AS BIGINT) AS dist
               FROM documents d LEFT JOIN bmin b USING (doc_id)
               ORDER BY doc_id"""),
      bench = false),

    // MODULARITY — the community-quality number (Newman's Q) for g08's
    // label-propagation communities, in EXACT integer arithmetic: over
    // the undirected simple graph with m edges, each community c
    // contributes e_c/m − (d_c/2m)², so Q·4m² = Σ_c (4m·e_c − d_c²) is an
    // integer — no float ratio to diverge on; the spec reads the global Q
    // out as ONE IEEE division. Unlike connected components (g06), LP
    // labels genuinely cut edges, so e_c varies per community and the
    // intra-edge join is non-trivial. Dataflow: one edge dedup, one
    // degree aggregate, two label equi-joins (both keys unbounded — no
    // funnel), one aggregate per community. Conservation Σd_c = 2m and
    // Q's range are spec-pinned.
    Q("g13_modularity",
      (s, d) => {
        val n = nodeCount(s, d)
        val docs = t(s, d, "documents")
        val e = linkEdgesShared(s, d).localCheckpoint()
        val und = e.where(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("u"),
            greatest(col("src"), col("dst")).as("v"))
          .distinct().localCheckpoint()
        val mEdges = und.count() // one bounded driver value (nodeCount convention)
        val lbl = lpLabelsOver(docs, e)
          .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("community"))
          .localCheckpoint()
        val deg = und.select(col("u").as("node"))
          .union(und.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        val dmem = lbl.join(deg, col("node") === col("doc_id"), "left")
          .groupBy("community")
          .agg(count(lit(1)).as("n_members"),
            sum(coalesce(col("deg"), lit(0L))).cast(LongType).as("dc"))
        val intra = und
          .join(lbl.select(col("doc_id").as("u"), col("community").as("ca")), "u")
          .join(lbl.select(col("doc_id").as("v"), col("community").as("cb")), "v")
          .where(col("ca") === col("cb"))
          .groupBy(col("ca").as("community")).agg(count(lit(1)).as("ec"))
        dmem.join(intra, Seq("community"), "left")
          .select(col("community"), col("n_members"), col("dc"),
            coalesce(col("ec"), lit(0L)).as("ec"),
            (lit(4L * mEdges) * coalesce(col("ec"), lit(0L)) - col("dc") * col("dc"))
              .cast(LongType).as("q_contrib_num"))
          .orderBy("community")
      },
      Some(s"""WITH $sqlEdges,
                 $sqlLpCtes,
                 lblf AS (SELECT doc_id, COALESCE(label, doc_id) AS community
                          FROM m$LpRounds),
                 und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
                         FROM e WHERE src <> dst),
                 mm AS (SELECT COUNT(*) AS m FROM und),
                 dg AS (SELECT node, COUNT(*) AS deg FROM (
                          SELECT u AS node FROM und UNION ALL SELECT v FROM und)
                        GROUP BY node),
                 dmem AS (SELECT l.community, COUNT(*) AS n_members,
                                 CAST(SUM(COALESCE(g.deg, 0)) AS BIGINT) AS dc
                          FROM lblf l LEFT JOIN dg g ON g.node = l.doc_id
                          GROUP BY l.community),
                 intra AS (SELECT la.community, COUNT(*) AS ec
                           FROM und j JOIN lblf la ON la.doc_id = j.u
                                      JOIN lblf lb ON lb.doc_id = j.v
                           WHERE la.community = lb.community
                           GROUP BY la.community)
               SELECT d.community, d.n_members, d.dc,
                      CAST(COALESCE(i.ec, 0) AS BIGINT) AS ec,
                      CAST(4 * (SELECT m FROM mm) * COALESCE(i.ec, 0) - d.dc * d.dc AS BIGINT) AS q_contrib_num
               FROM dmem d LEFT JOIN intra i USING (community)
               ORDER BY community"""),
      bench = false)
  )
}
