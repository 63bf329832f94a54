package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Catalog._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Numeric design for cross-engine verifiability AND order-independence at
  * scale: per-element products are computed in double, scaled by 1e15 and
  * floored to integers (exactly representable: |x·y|·1e15 ≈ 1e13 < 2^53),
  * then summed as longs — an exact, associative reduction, so the result is
  * identical no matter how Spark partitions the work, and identical to the
  * DuckDB oracle. Final cosine is a deterministic function of exact longs.
  */
object SimilarityOps {

  val SCALE = 1e15

  /** Σ floor(a[i]·b[i]·1e15) as Long — exact scaled dot product, via the
    * codegen'd `scaled_dot` kernel (the zip_with/aggregate dataflow
    * formulation — kept as the executable spec in TextExpressionsSpec —
    * evaluates interpreted lambdas per element; this is the inner loop of
    * brute-force search, probes × corpus × dim evaluations).
    */
  def scaledDot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.scaled_dot(a, b)

  /** Σ floor(v[i]²·1e15) as Long — exact scaled squared norm. */
  def scaledNorm2(v: Column): Column = scaledDot(v, v)

  /** cosine from exact scaled components (double, deterministic). */
  def cosine(dot: Column, n1: Column, n2: Column): Column =
    dot.cast(DoubleType) / sqrt(n1.cast(DoubleType) * n2.cast(DoubleType))

  /** Embeddings with precomputed scaled norms. At cluster scale this is a
    * single narrow projection; the norm is computed once per vector, not per
    * pair.
    */
  def withNorm(s: SparkSession, d: String): DataFrame =
    withNormOf(t(s, d, "embeddings"))

  /** The norm2 column on an arbitrary embeddings-shaped frame — shared by
    * the table reader above and x17's streaming micro-batches.
    */
  def withNormOf(df: DataFrame): DataFrame =
    df.withColumn("norm2", scaledNorm2(col("embedding")))

  val sqlNorm2 =
    "CAST(list_sum(list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e15) AS BIGINT))) AS BIGINT)"

  /** [[scaledDot]]'s oracle mirror over the `embedding` lists of two
    * aliased rows.
    */
  def sqlDotOf(a: String, b: String): String =
    s"CAST(list_sum(list_transform($a.embedding, (x, i) -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE) * 1e15) AS BIGINT))) AS BIGINT)"

  // ——— The search-and-recall kit ———
  //
  // Every sim query ranks, scores and grades through these pieces, one set
  // per engine. The Spark side and the DuckDB side share no code, so each
  // oracle stays an independent statement of the same conventions:
  //   rank order  — per probe (`qid`), higher cos_sim first, ties to the
  //                 lower vec_id (distances: lower first, same tie-break);
  //   exact score — floor-scaled integer dot, cosine over the two norms;
  //   truth       — the exact top-k over the probe×corpus pairs;
  //   recall      — an answer row is a hit iff the truth holds its
  //                 (qid, vec_id) pair.

  /** Probe rows of a (vec_id, embedding, norm2) frame: vec_id < nProbes as
    * (qid, qvec, qnorm2).
    */
  def probesOf(corpus: DataFrame, nProbes: Int): DataFrame =
    corpus.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"), col("norm2").as("qnorm2"))

  /** The exact score: `cos_sim` of each row's probe (qvec, qnorm2) against
    * its candidate (embedding, norm2).
    */
  def withCos(pairs: DataFrame): DataFrame =
    pairs.withColumn("cos_sim",
      cosine(scaledDot(col("qvec"), col("embedding")), col("qnorm2"), col("norm2")))

  /** Exact-cosine scoring of (qid, vec_id) candidates: each candidate's
    * vector from `corpus`, its probe from the bounded, broadcast `probes`
    * block ([[probesOf]]).
    */
  def rerank(candidates: DataFrame, corpus: DataFrame, probes: DataFrame): DataFrame =
    withCos(candidates.join(corpus, "vec_id").join(broadcast(probes), "qid"))

  /** Every probe of `corpus` against every other vector, scored. The probe
    * side is tiny → Spark broadcasts it; the corpus side streams: no
    * shuffle, scales linearly with corpus size across executors.
    */
  def pairsOf(corpus: DataFrame, nProbes: Int): DataFrame =
    withCos(corpus.join(broadcast(probesOf(corpus, nProbes)), col("vec_id") =!= col("qid")))

  /** Per-probe top-`k` of scored (qid, vec_id, `score`) rows — the
    * two-phase [[StockOps.perKeyTopK]] — ranked by `score` (higher first,
    * or lower first if `ascending`), ties to the lower vec_id; projected to
    * (qid, vec_id, score, `rank`).
    */
  def topK(scored: DataFrame, k: Int, score: String = "cos_sim",
      ascending: Boolean = false, rank: String = "rk"): DataFrame =
    StockOps.perKeyTopK(scored, Seq("qid"),
        Seq(if (ascending) col(score) else desc(score), col("vec_id")), k, rank)
      .select("qid", "vec_id", score, rank)

  /** The exact brute-force truth: each of the first `nProbes` probes' top-`k`
    * (qid, vec_id) by cosine over the whole corpus.
    */
  def bruteTruth(s: SparkSession, d: String, nProbes: Int, k: Int): DataFrame =
    topK(probePairsShared(s, d, nProbes), k).select("qid", "vec_id")

  /** The grader of answer sets against one truth, both (qid, vec_id): it
    * counts the truth once, then gives each answer set its (n_truth, n_hit,
    * recall), where n_hit counts the answer rows the truth holds (a
    * `left_semi` join) and recall = n_hit / n_truth.
    */
  def recallOf(truth: DataFrame): DataFrame => (Long, Long, Double) = {
    val total = truth.count()
    ann => {
      val hits = ann.select("qid", "vec_id").join(truth, Seq("qid", "vec_id"), "left_semi").count()
      (total, hits, hits.toDouble / total)
    }
  }

  /** One (`label`, n_truth, n_hit, recall) row per labelled [[recallOf]],
    * ordered by the label.
    */
  def recallRows[L: scala.reflect.runtime.universe.TypeTag](s: SparkSession, label: String,
      rows: Seq[(L, (Long, Long, Double))]): DataFrame = {
    import s.implicits._
    rows.map { case (l, (total, hits, recall)) => (l, total, hits, recall) }
      .toDF(label, "n_truth", "n_hit", "recall").orderBy(label)
  }

  /** Per-probe recall of an answer set against a `k`-per-probe truth, both
    * (qid, vec_id): (qid, n_hit, recall = n_hit / k), one row per truth
    * probe — a probe with no hit reads 0.
    */
  def recallByQid(truth: DataFrame, ann: DataFrame, k: Int): DataFrame =
    truth.join(ann.select(col("qid"), col("vec_id"), lit(1).as("hit")), Seq("qid", "vec_id"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .withColumn("recall", col("n_hit").cast(DoubleType) / k)
      .orderBy("qid")

  /** Oracle mirror of [[cosine]] over two aliased (embedding, norm2) rows. */
  def sqlCos(a: String = "a", b: String = "b"): String =
    s"${sqlDotOf(a, b)} / SQRT(CAST($a.norm2 AS DOUBLE) * CAST($b.norm2 AS DOUBLE))"

  /** Oracle mirror of [[pairsOf]] over a (vec_id, embedding, norm2)
    * relation; `where` may filter the pairs.
    */
  def sqlProbeCos(nProbes: Int, from: String = "nv", where: String = ""): String =
    s"""SELECT a.vec_id AS qid, b.vec_id AS vec_id, ${sqlCos()} AS cos_sim
        FROM $from a JOIN $from b ON a.vec_id < $nProbes AND a.vec_id <> b.vec_id $where"""

  def sqlProbePairs(nProbes: Int): String =
    s"""WITH nv AS (SELECT vec_id, embedding, $sqlNorm2 AS norm2 FROM embeddings)
        ${sqlProbeCos(nProbes)}"""

  /** Oracle top-k: the rows of `from` numbered (`rk`) per `partition` in
    * `order`, the first `k` kept, projected to `cols` (which may read
    * `rk`). `from` is any relation, with the alias, join or WHERE it needs.
    */
  def sqlTopK(from: String, k: Int, order: String = "cos_sim DESC, vec_id",
      partition: String = "qid", cols: String = "qid, vec_id"): String =
    s"""SELECT $cols FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY $partition ORDER BY $order) AS rk
          FROM $from) WHERE rk <= $k"""

  /** A ranked cosine answer: [[sqlTopK]] as (qid, vec_id, cos_sim, rk),
    * ordered.
    */
  def sqlRanked(from: String, k: Int): String =
    s"${sqlTopK(from, k, cols = "qid, vec_id, cos_sim, CAST(rk AS INT) AS rk")} ORDER BY qid, rk"

  /** A ranked distance answer (lower first): (qid, rk, vec_id, `dist`),
    * ordered.
    */
  def sqlRankedBy(from: String, k: Int, dist: String): String =
    s"""${sqlTopK(from, k, s"$dist, vec_id", cols = s"qid, CAST(rk AS INT) AS rk, vec_id, $dist")}
        ORDER BY qid, rk"""

  /** Oracle mirror of [[bruteTruth]] over `nv`, as two MATERIALIZED CTEs:
    * `<prefix>bpairs` (the scored pairs, `where` may filter them) and
    * `<prefix>brute_top` (their top-`k`).
    */
  def sqlBruteTruthCtes(nProbes: Int, k: Int, prefix: String = "", where: String = ""): String =
    s"""${prefix}bpairs AS MATERIALIZED (${sqlProbeCos(nProbes, where = where)}),
        ${prefix}brute_top AS MATERIALIZED (${sqlTopK(s"${prefix}bpairs", k)})"""

  /** Oracle mirror of [[recallRows]]: one (`label`, n_truth, n_hit, recall)
    * row per (label value, answer relation, truth relation), ordered.
    */
  def sqlRecallRows(label: String, rows: Seq[(String, String, String)]): String =
    rows.map { case (l, ann, truth) =>
      s"""SELECT $l AS $label, (SELECT COUNT(*) FROM $truth) AS n_truth,
                 (SELECT COUNT(*) FROM $ann JOIN $truth USING (qid, vec_id)) AS n_hit"""
    }.mkString("SELECT *, CAST(n_hit AS DOUBLE) / n_truth AS recall FROM (\n",
      "\nUNION ALL\n", s") ORDER BY $label")

  /** Oracle mirror of [[recallByQid]] against the `truth` relation. */
  def sqlRecallByQid(ann: String, k: Int, truth: String = "truth"): String =
    s"""SELECT t.qid, CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
               CAST(COUNT(a.vec_id) AS DOUBLE) / $k AS recall
        FROM $truth t LEFT JOIN $ann a ON a.qid = t.qid AND a.vec_id = t.vec_id
        GROUP BY t.qid ORDER BY t.qid"""

  /** Brute-force cosine pairs of probe vectors (vec_id < nProbes) × corpus. */
  def probePairs(s: SparkSession, d: String, nProbes: Int): DataFrame =
    pairsOf(withNorm(s, d), nProbes)

  /** The catalog's maximum brute-force probe block: every [[probePairs]]
    * caller uses nProbes ≤ this, so one scored table at this block subsumes
    * them all (pairs(k) = pairs(max) WHERE qid < k — per-pair scores depend
    * only on the pair's own two vectors, so the probe filter commutes with
    * the scoring bit-for-bit).
    */
  val ProbePairsMax = 50

  /** Shared brute-force pair scores (qid, vec_id, cos_sim) at
    * [[ProbePairsMax]], an [[Artifacts.shared]] dir. ~15 catalog queries
    * (exact baselines, recall truths, MMR/kNN pools) each re-derived this
    * identical probe×corpus scan per run; materializing it once replaces
    * those with one build + bounded parquet reads. Narrow columns only: the artifact
    * is O(probes·corpus) rows with no vectors; callers that need
    * embeddings join the base table themselves.
    */
  private def ensureProbePairs(s: SparkSession, d: String): String =
    Artifacts.shared("graft_probepairs", d) { dir =>
      probePairs(s, d, ProbePairsMax)
        .select("qid", "vec_id", "cos_sim")
        .write.mode("overwrite").parquet(dir)
    }

  /** [[probePairs]]' (qid, vec_id, cos_sim) slice for any probe block ≤
    * [[ProbePairsMax]], served from the shared artifact; bit-identical to
    * probePairsShared(s, d, nProbes).select("qid", "vec_id", "cos_sim").
    */
  def probePairsShared(s: SparkSession, d: String, nProbes: Int): DataFrame = {
    require(nProbes <= ProbePairsMax,
      s"probePairsShared: nProbes=$nProbes exceeds ProbePairsMax=$ProbePairsMax")
    val df = Catalog.parquet(s, ensureProbePairs(s, d))
    if (nProbes == ProbePairsMax) df else df.where(col("qid") < nProbes)
  }

  // IVF parameters: 16 coarse cells, 4 probed per query.
  val IvfCells = 16
  val IvfProbe = 4

  /** k-NN graph/walk parameters (sim36–39, x38): neighbors per node, walk
    * beam width, walk hop count. Declared as named vals and interpolated
    * into every oracle string (the sqlCms lesson): a literal duplicated
    * across engine code and SQL diverges silently on the first retune.
    */
  val KnnK = 4
  val WalkBeam = 4
  val WalkHops = 3

  /** sim48's hierarchical layer: every LayerMod-th vector joins the sparse
    * UPPER navigation graph (HNSW's geometric level assignment made
    * deterministic), with LayerK neighbors per upper node. Declared before
    * `val all` — the oracle interpolates both.
    */
  val LayerMod = 8L
  val LayerK = 2

  /** Matryoshka truncation width for sim25 (first 16 of 64 dims — 4×
    * cheaper dot products). Declared before `val all`: the oracle string
    * interpolates it at init (the sqlCms lesson).
    */
  val MrlDims = 16

  /** sim34's per-ranking candidate depth (RRF fuses the two top-20
    * lists). Declared before `val all` — the oracle interpolates it.
    */
  val HybridK = 20

  /** sim30's cosine radius. On this corpus it keeps every probe's result
    * nonempty yet bounded (37/43/147 pairs at sf0.001/0.01/0.1). Declared
    * before `val all`: the oracle string interpolates it at init.
    */
  val RangeTau = 0.3

  // Random-hyperplane LSH: `NumPlanes` Rademacher (±1) hyperplanes from a
  // deterministic splitmix64 of (plane, dim-index); sign bits form the
  // bucket word. Codegen'd kernel — bucket assignment is a map-only scan.
  //
  // Multi-table (OR-amplified) construction: the 60 sign bits are sliced
  // into `LshTables`=15 tables of `LshBits`=4 bits each; a candidate pair is
  // any pair agreeing on ALL bits of AT LEAST ONE table. Single-table LSH at
  // k bits has per-pair recall (1-θ/π)^k — for this corpus's true top-3
  // neighbors (cos≈0.35, θ≈70°) that is ~0.1% at k=12, i.e. structurally
  // zero (measured by sim04 round 2). OR across 15 tables lifts recall to
  // 1-(1-(1-θ/π)^4)^15 ≈ 0.9 while each table stays an equi-join on a
  // 4-bit key. tables/bits trade recall against candidate volume.
  val NumPlanes = 60
  val LshBits = 4
  val LshTables = 15

  /** 60-bit hyperplane-sign word of an embedding column. */
  def lshBucket(v: Column): Column =
    graft.functions.GraftFunctions.hyperplane_bucket(v, NumPlanes)

  /** The deterministic IVF centroid sample (the `IvfCells` lowest vec_ids,
    * in vec_id order so cell index k == rank of centroid vec_id) as
    * (embedding, norm2) pairs — a bounded 16-row collect, shipped to
    * executors as codegen reference objects via `centroid_scores`. Doubles
    * (exact float widening) so seed and trained centroids share one kernel.
    */
  def ivfCentroids(corpus: DataFrame): Array[(Array[Double], Long)] =
    corpus.where(col("vec_id") < IvfCells)
      .select("vec_id", "embedding", "norm2").collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getSeq[Float](1).toArray.map(_.toDouble), r.getLong(2)))

  /** Corpus rows + their cell assignment under the GIVEN centroids: argmax
    * over the centroid scores, computed INSIDE the projection (first
    * position of the max — ties to the lowest cell). A pure narrow scan: no
    * ×16 posexplode, no corpus-wide window shuffle.
    */
  def assignCells(corpus: DataFrame, cents: Array[(Array[Double], Long)]): DataFrame =
    corpus
      .withColumn("__dots",
        graft.functions.GraftFunctions.centroid_scores(col("embedding"), cents.map(_._1), cents.map(_._2)))
      .withColumn("cell",
        (array_position(col("__dots"), array_max(col("__dots"))) - 1).cast(IntegerType))
      .drop("__dots")

  /** Corpus with its SEED-centroid IVF cell assignment — shared by sim03
    * (search) and sim05 (the Lloyd training step).
    */
  def ivfAssigned(s: SparkSession, d: String): DataFrame = {
    val corpus = withNorm(s, d)
    assignCells(corpus, ivfCentroids(corpus))
  }

  /** One distributed Lloyd refinement: per-(cell, dim) exact scaled-integer
    * sums + member counts of the assignment under `cents` — the canonical
    * two-level k-means aggregate, `IvfCells`×dim output rows regardless of
    * corpus size.
    */
  def lloydSums(corpus: DataFrame, cents: Array[(Array[Double], Long)]): DataFrame =
    assignCells(corpus, cents)
      .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("cell", "dim")
      .agg(count(lit(1)).as("n_members"),
        sum(floor(col("x").cast(DoubleType) * SCALE).cast(DecimalType(38, 0))).as("ssum"))

  /** `iters` Lloyd refinements of the seed centroids (fewer if the fixpoint
    * comes first, with the same result). Each iteration is ONE
    * distributed aggregate whose `IvfCells`×dim result (1024 rows here) is
    * collected and re-broadcast as the next kernel's reference object — the
    * standard distributed-kmeans driver loop; the corpus is only ever
    * scanned, never shuffled by vector. All arithmetic is the engine-exact
    * convention: member sums as floor-scaled integers in DECIMAL(38,0)
    * (order-independent), centroid = sum/(n·1e15) in IEEE double, centroid
    * norm2 = Σ floor(c²·1e15) — every step reproducible bit-for-bit in the
    * SQL oracle. Cells are seeded from data so none is empty at catalog
    * scale; production would re-seed an emptied cell (require()d here so a
    * silent cell collapse can never ship a wrong-but-plausible result).
    */
  def trainedCentroids(s: SparkSession, d: String, iters: Int): Array[(Array[Double], Long)] =
    // one Verify/Bench session builds sim07/sim08/sim09/sim10/sim11/x12/p03
    // from the same training: train once per (sfDir, iters), not once per
    // query (centroids depend only on the data)
    Artifacts.memo("graft_kmeans", (d, iters)) {
      lloyd(withNorm(s, d), iters)._1
    }

  /** Lloyd to the assignment FIXPOINT: iterate until the per-(cell, dim)
    * exact sums repeat. The sums determine the centroids and the centroids
    * determine the next assignment, so two equal consecutive sum sets
    * CERTIFY the fixpoint — an exact-integer comparison, no epsilon. The
    * gate queries pin a fixed two-iteration unroll (a SQL oracle cannot
    * replay an unknown iteration count); this is the production training
    * loop, spec-pinned to converge on the corpus and to be a true
    * fixpoint. Returns (centroids, iterations until the certificate).
    */
  def trainedCentroidsConverged(s: SparkSession, d: String,
      maxIters: Int): (Array[(Array[Double], Long)], Int) = {
    val (cents, it, fixed) = lloyd(withNorm(s, d), maxIters)
    if (!fixed) throw new IllegalStateException(
      s"k-means assignment did not reach a fixpoint within $maxIters Lloyd iterations")
    (cents, it)
  }

  /** The Lloyd loop both trainers share: up to `maxIters` steps from the
    * seed centroids, each collecting one [[lloydSums]] aggregate and
    * rebuilding the centroids from it. A step whose sums equal the previous
    * step's is the fixpoint certificate: rebuilding would give the same
    * centroids, so the loop stops there. Returns (centroids, rebuilds,
    * certified).
    */
  private def lloyd(corpus: DataFrame,
      maxIters: Int): (Array[(Array[Double], Long)], Int, Boolean) = {
    var cents = ivfCentroids(corpus)
    var prev: Map[(Int, Int), (Long, java.math.BigDecimal)] = Map.empty
    var it = 0
    while (it < maxIters) {
      val rows = lloydSums(corpus, cents).collect()
      val cur = rows.iterator
        .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDecimal(3))).toMap
      if (cur == prev) return (cents, it, true)
      prev = cur
      cents = centroidsFrom(rows)
      it += 1
    }
    (cents, it, false)
  }

  /** Rebuild the centroid reference objects from one collected Lloyd
    * aggregate over `cells` cells: mean = exact-integer sum / (n·SCALE) in
    * IEEE double, norm2 = Σ floor(c²·SCALE) — the engine-exact convention
    * the SQL oracles mirror. Rejects emptied cells (cells are data-seeded
    * so none empties at catalog scale; production re-seeds).
    */
  private[operators] def centroidsFrom(rows: Array[org.apache.spark.sql.Row],
      cells: Int = IvfCells): Array[(Array[Double], Long)] = {
    require(rows.iterator.map(_.getInt(0)).toSet.size == cells,
      s"k-means cell emptied during training (have ${rows.length} (cell,dim) rows); re-seed required")
    val dim = rows.iterator.map(_.getInt(1)).max + 1
    val next = Array.fill(cells)(new Array[Double](dim))
    rows.foreach { r =>
      next(r.getInt(0))(r.getInt(1)) =
        r.getDecimal(3).doubleValue() / (r.getLong(2) * SCALE)
    }
    next.map(c => (c, c.map(x => math.floor(x * x * SCALE).toLong).sum))
  }

  // ---- persisted IVF index: train once, serve many ----

  /** Per-JVM, per-sfDir persisted IVF index: the corpus with its TRAINED
    * (two Lloyd iterations) cell assignment written `partitionBy("cell")`,
    * plus the 16-row centroid reference table — the train-once/serve-many
    * split of a production ANN deployment. The partition layout IS the
    * index: a search probing `IvfProbe` cells reads ONLY those
    * directories (static partition pruning — at 100 TB, 4/16ths of the
    * corpus touched per query instead of a full scan, and finer cell
    * granularity prunes proportionally more). An [[Artifacts.warehouse]],
    * so repeated builds (Verify, PlanAudit, specs) write once per JVM.
    */
  def ensureIvfIndex(s: SparkSession, d: String): String =
    Artifacts.warehouse(s, "graft_ivf", d) { (db, loc) =>
      val cents = trainedCentroids(s, d, iters = 2)
      import s.implicits._
      cents.zipWithIndex
        .map { case ((c, n2), k) => (k, c.toSeq, n2) }.toSeq
        .toDF("cell", "centroid", "norm2")
        .write.mode("overwrite").option("path", s"$loc/ivf_centroids")
        .saveAsTable(s"$db.ivf_centroids")
      assignCells(withNorm(s, d), cents)
        .write.mode("overwrite").partitionBy("cell")
        .option("path", s"$loc/corpus_ivf").saveAsTable(s"$db.corpus_ivf")
    }

  /** Serve a bounded query-vector batch against the PERSISTED trained IVF
    * index: probe cells per query, a statically cell-pruned index scan
    * (require()d into PartitionFilters — losing the pruning is the
    * regression this assert exists to catch), exact cosine on cell-mates,
    * two-phase top-3. One implementation for the batch query (sim11) and
    * the per-micro-batch streaming serve (x17), so the tie-breaks and the
    * pruning guarantee can never diverge between them. `queries` must
    * carry (vec_id, embedding, norm2); only rows with vec_id < nProbes are
    * served (the probe-set convention every sim oracle shares).
    */
  def serveIvfIndexed(s: SparkSession, d: String, queries: DataFrame, nProbes: Int,
      tombstones: Option[DataFrame] = None): DataFrame = {
    val db = ensureIvfIndex(s, d)
    val cents = s.table(s"$db.ivf_centroids").collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getSeq[Double](1).toArray, r.getLong(2)))
    // deletions never rewrite the persisted postings: the index scan is
    // anti-joined against the (bounded, broadcast) tombstone set at serve
    // time — the serving-under-deletion shape until a compaction pass
    // (k06's job) folds the tombstones into the postings themselves
    val served = tombstones.fold(queries)(del =>
      queries.join(broadcast(del), Seq("vec_id"), "left_anti"))
    val probes = probeCells(served, cents, nProbes)
    val cells = probes.select("cell").distinct().collect().map(_.getInt(0)).sorted
    val idx0 = s.table(s"$db.corpus_ivf")
      .where(col("cell").isin(cells.map(Int.box): _*))
      .select("vec_id", "embedding", "norm2", "cell")
    val idx = tombstones.fold(idx0)(del =>
      idx0.join(broadcast(del), Seq("vec_id"), "left_anti"))
    val scanPlan = idx.queryExecution.executedPlan.toString
    require(raw"PartitionFilters: \[[^\]]*cell".r.findFirstIn(scanPlan).isDefined,
      s"indexed IVF scan lost its static cell partition pruning:\n${scanPlan.take(2000)}")
    topK(withCos(idx.join(broadcast(probes), Seq("cell")).where(col("vec_id") =!= col("qid"))), 3)
      .orderBy("qid", "rk")
  }

  /** Oracle CTEs shared by sim03/sim05: exact scaled scores of every vector
    * against the 16 centroid vectors and the resulting argmax cell
    * assignment (`assigned(vec_id, cell)`, cell = centroid vec_id — equal
    * to the cell INDEX because centroid vec_ids are the contiguous 0..15).
    */
  // Every shared CTE below is AS MATERIALIZED: DuckDB inlines plain CTEs,
  // re-evaluating the whole subtree once PER REFERENCE — the Lloyd/kNN/walk
  // chains reference nv/a2/kedges many times, so the comparator's cost grew
  // exponentially with chain depth (measured at sf0.001: sim38's oracle
  // 96.4 s plain vs 3.9 s materialized, identical result; sim40 did not
  // finish in 10 min). The driver's correctness slot pays this comparator
  // cost for every walk-family query — this is an oracle-side evaluation
  // hint only, the declared semantics are untouched.
  lazy val sqlIvfAssignCtes: String =
    s"""nv AS MATERIALIZED (SELECT vec_id, embedding, $sqlNorm2 AS norm2 FROM embeddings),
          cscores AS MATERIALIZED (
            SELECT a.vec_id, b.cell, ${sqlDotOf("a", "b")} / SQRT(CAST(b.norm2 AS DOUBLE)) AS score
            FROM nv a CROSS JOIN
              (SELECT vec_id AS cell, embedding, norm2 FROM nv WHERE vec_id < $IvfCells) b),
          assigned AS MATERIALIZED (
            ${sqlTopK("cscores", 1, "score DESC, cell", "vec_id", "vec_id, cell")})"""

  /** [[ivfSearch]]'s oracle CTEs over [[sqlIvfAssignCtes]], suffixed
    * `sfx`: the 10 probes' best `probe` seed cells (`pcells`), their
    * cell-mates (`icand`) and exact cosines (`iscored`).
    */
  def sqlSeedSearchCtes(probe: Int = IvfProbe, sfx: String = ""): String =
    s"""pcells$sfx AS (${sqlTopK("cscores WHERE vec_id < 10", probe, "score DESC, cell", "vec_id",
          "vec_id AS qid, cell")}),
        icand$sfx AS (
          SELECT p.qid, s.vec_id FROM pcells$sfx p JOIN assigned s ON s.cell = p.cell
          WHERE s.vec_id <> p.qid),
        iscored$sfx AS (
          SELECT c.qid, c.vec_id, ${sqlCos()} AS cos_sim
          FROM icand$sfx c JOIN nv a ON a.vec_id = c.qid JOIN nv b ON b.vec_id = c.vec_id)"""

  /** The 15 per-table 4-bit keys of a sign word, as (tbl, key) structs. */
  def lshTableKeys(b: Column): Column =
    array((0 until LshTables).map { t =>
      struct(lit(t).as("tbl"),
        shiftright(b, t * LshBits).bitwiseAND(lit((1 << LshBits) - 1)).as("key"))
    }: _*)

  /** IVF search under the GIVEN centroids: probes (vec_id < nProbes) search
    * their `IvfProbe` best cells, exact cosine only on cell-mates, top-`k`
    * per probe. Corpus cell assignment is the map-only argmax; the probe
    * side is a bounded broadcast — the one join is an equi-join on the cell
    * id, so the shape is identical for seed (sim03) and trained (sim08)
    * centroids and survives a 100 TB corpus unchanged.
    */
  /** Probe rows (vec_id < nProbes, as qid/qvec/qnorm2) with their
    * top-`IvfProbe` cells under `cents` — ONE implementation shared by
    * ivfSearch (sim03/sim08) and the persisted-index serve path (sim11),
    * so the probe-side tie-break can never diverge between queries that
    * share an oracle.
    */
  def probeCells(corpus: DataFrame, cents: Array[(Array[Double], Long)], nProbes: Int,
      probe: Int = IvfProbe): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = Window.partitionBy(col("qid")).orderBy(desc("cell_score"), col("cell"))
    probesOf(corpus, nProbes)
      .withColumn("__dots",
        graft.functions.GraftFunctions.centroid_scores(col("qvec"), cents.map(_._1), cents.map(_._2)))
      .select(col("*"), posexplode(col("__dots")).as(Seq("cell", "cell_score")))
      .withColumn("__rk", row_number().over(wc))
      .where(col("__rk") <= probe)
      .drop("__dots", "cell_score", "__rk")
  }

  def ivfSearch(s: SparkSession, d: String, cents: Array[(Array[Double], Long)],
      nProbes: Int, k: Int, probe: Int = IvfProbe): DataFrame = {
    val corpus = withNorm(s, d)
    val probes = probeCells(corpus, cents, nProbes, probe)
    // per-probe candidates grow with the corpus (cell members), so the
    // top-k is the two-phase perKeyTopK, never a per-qid window funnel
    topK(withCos(assignCells(corpus, cents).join(broadcast(probes), Seq("cell"))
        .where(col("vec_id") =!= col("qid"))), k)
      .orderBy("qid", "rk")
  }

  /** Lloyd iteration `i` for the oracle: per-(cell, dim) exact sums `s_i`
    * from the previous assignment (`assigned` = the seed assignment of
    * [[sqlIvfAssignCtes]] when i == 1, else `a_{i-1}`).
    */
  def sqlLloydSums(i: Int): String = {
    val prev = if (i == 1) "assigned" else s"a${i - 1}"
    s"""s$i AS MATERIALIZED (
          SELECT a.cell, i.dim, COUNT(*) AS n_members,
                 SUM(CAST(FLOOR(CAST(e.embedding[CAST(i.dim + 1 AS INT)] AS DOUBLE) * 1e15) AS BIGINT)) AS ssum
          FROM $prev a JOIN nv e USING (vec_id),
               LATERAL (SELECT UNNEST(range(0, len(e.embedding))) AS dim) i
          GROUP BY 1, 2)"""
  }

  /** Oracle CTEs turning `s_i` into trained centroids `c_i` (IEEE-double
    * mean of exact integer sums), their scaled norms `cn_i`, per-(vector,
    * cell) exact dots `sc_i`, and the new argmax assignment `a_i` — each
    * step the same engine-exact arithmetic as the Spark kernel, so DuckDB
    * reproduces the whole training trajectory bit-for-bit.
    */
  def sqlLloydAssign(i: Int): String =
    s"""c$i AS MATERIALIZED (SELECT cell, dim, CAST(CAST(ssum AS BIGINT) AS DOUBLE) / (n_members * 1e15) AS cval FROM s$i),
        cn$i AS MATERIALIZED (SELECT cell, CAST(SUM(CAST(FLOOR(cval * cval * 1e15) AS BIGINT)) AS BIGINT) AS norm2 FROM c$i GROUP BY 1),
        sc$i AS MATERIALIZED (
          SELECT e.vec_id, c.cell,
                 CAST(SUM(CAST(FLOOR(CAST(e.embedding[CAST(c.dim + 1 AS INT)] AS DOUBLE) * c.cval * 1e15) AS BIGINT)) AS BIGINT) AS dot
          FROM nv e CROSS JOIN c$i c
          GROUP BY 1, 2),
        a$i AS MATERIALIZED (
          ${sqlTopK(s"sc$i s JOIN cn$i n USING (cell)", 1, sqlCellOrder, "s.vec_id", "vec_id, cell")})"""

  /** The trained-cell argmax order over `sc_i s JOIN cn_i n`. */
  private final val sqlCellOrder = "CAST(s.dot AS DOUBLE) / SQRT(CAST(n.norm2 AS DOUBLE)) DESC, s.cell"

  /** Raw embeddings → TRAINED (two Lloyd iterations) centroids and the
    * corpus assignment `a2` under them — the replayed training trajectory,
    * shared by sim07/sim08/sim09/sim10.
    */
  lazy val sqlTrainedAssignCtes: String =
    s"""$sqlIvfAssignCtes,
        ${sqlLloydSums(1)}, ${sqlLloydAssign(1)},
        ${sqlLloydSums(2)}, ${sqlLloydAssign(2)}"""

  /** Everything from raw embeddings to the TRAINED (two Lloyd iterations)
    * IVF search candidates, scored — shared by sim08 (the search itself)
    * and sim09 (its recall vs brute force).
    */
  lazy val sqlTrainedSearchCtes: String =
    s"""$sqlTrainedAssignCtes,
        pcells AS MATERIALIZED (${sqlTopK("sc2 s JOIN cn2 n USING (cell) WHERE s.vec_id < 10",
          IvfProbe, sqlCellOrder, "s.vec_id", "vec_id AS qid, cell")}),
        icand AS MATERIALIZED (
          SELECT p.qid, s.vec_id FROM pcells p JOIN a2 s ON s.cell = p.cell
          WHERE s.vec_id <> p.qid),
        iscored AS MATERIALIZED (
          SELECT icand.qid, icand.vec_id, ${sqlCos()} AS cos_sim
          FROM icand JOIN nv a ON a.vec_id = icand.qid
                     JOIN nv b ON b.vec_id = icand.vec_id)"""

  /** SemDeDup as oracle CTEs: within-cell near-dup pairs under the
    * trained assignment (`spairs`), the pruned ids (`sdup`), and the kept
    * representatives (`skept(vec_id, cell)`) — shared by sim10 and the
    * p03 semantic-curation pipeline.
    */
  lazy val sqlSemDedupCtes: String =
    s"""$sqlTrainedAssignCtes,
        spairs AS MATERIALIZED (
          SELECT x.vec_id AS u, y.vec_id AS v
          FROM a2 x JOIN a2 y ON x.cell = y.cell AND x.vec_id < y.vec_id
          JOIN nv a ON a.vec_id = x.vec_id
          JOIN nv b ON b.vec_id = y.vec_id
          WHERE ${sqlCos()} >= 0.4),
        sdup AS MATERIALIZED (SELECT DISTINCT v FROM spairs),
        skept AS MATERIALIZED (SELECT a2.vec_id, a2.cell FROM a2 ANTI JOIN sdup ON a2.vec_id = sdup.v)"""

  /** Trained-IVF top-3 per probe — the shared sim08/sim11 oracle (the
    * persisted index must change WHERE bytes are read, never the answer).
    */
  lazy val sqlTrainedSearchSql: String =
    s"WITH $sqlTrainedSearchCtes ${sqlRanked("iscored", 3)}"

  // ——— Product quantization (sim15 encode / sim16 ADC search / sim17 recall) ———

  /** Exact floor-scaled squared L2 between two vector columns (float or
    * double elements), as Long: Σ_i floor((a_i − b_i)²·1e15). The
    * per-element floor makes the value engine-exact; [[sqlScaledL2]] is
    * the term-for-term oracle mirror. Codegen'd kernel — this sits inside
    * probes×corpus×dims loops (pqL2Truth, the PQ encodes, sim26's SQ
    * search); the zip_with/aggregate dataflow formulation is kept as the
    * executable spec in TextExpressionsSpec.
    */
  def scaledL2(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.scaled_l2(a, b)

  def sqlScaledL2(a: String, b: String, dims: Int): String =
    s"""CAST(list_sum(list_transform(range(1, ${dims + 1}), i ->
        CAST(FLOOR((CAST($a[CAST(i AS INT)] AS DOUBLE) - CAST($b[CAST(i AS INT)] AS DOUBLE))
                 * (CAST($a[CAST(i AS INT)] AS DOUBLE) - CAST($b[CAST(i AS INT)] AS DOUBLE))
                 * 1e15) AS BIGINT))) AS BIGINT)"""

  // PQ geometry: 64 dims → PqSub=8 subspaces × 8 dims, 16 codewords each.
  val PqSub = 8
  val PqDim = 8
  val PqCodes = 16

  /** Per-subspace PQ codebook (code, subspace, cvec): the 16 lowest
    * vec_ids sliced into 8×8-dim subvectors (the sim03 deterministic seed
    * convention — production trains per subspace with the sim07 Lloyd
    * machinery). Bounded 16-row collect, broadcast at use sites; fails
    * FAST on a fixture-shape change (fewer than 16 vectors or dim ≠ 64
    * would otherwise silently degenerate — zip_with pads with null).
    */
  def pqCodebook(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = t(s, d, "embeddings").where(col("vec_id") < PqCodes)
      .select(col("vec_id").as("code"), col("embedding")).collect()
      .sortBy(_.getLong(0))
    require(rows.length == PqCodes && rows.forall(_.getSeq[Float](1).length == PqSub * PqDim),
      s"PQ expects $PqCodes codebook vectors (vec_id 0..${PqCodes - 1}) of dim ${PqSub * PqDim}; " +
        s"got ${rows.length} rows with dims ${rows.map(_.getSeq[Float](1).length).distinct.mkString(",")}")
    rows.flatMap { r =>
      val v = r.getSeq[Float](1)
      (0 until PqSub).map(j => (r.getLong(0), j, v.slice(j * PqDim, j * PqDim + PqDim)))
    }.toSeq.toDF("code", "subspace", "cvec")
  }

  /** Embedding rows split into the 8 PQ subvectors (vec_id, subspace,
    * svec) — a map-only explode, 8 narrow rows per vector.
    */
  def pqSubvectors(df: DataFrame): DataFrame =
    df.select(col("vec_id"),
      explode(array((0 until PqSub).map(j =>
        struct(lit(j).as("subspace"),
          slice(col("embedding"), j * PqDim + 1, PqDim).as("svec"))): _*)).as("s"))
      .select(col("vec_id"), col("s.subspace").as("subspace"), col("s.svec").as("svec"))

  /** PQ codes under an ARBITRARY codebook df(code, subspace, cvec): the
    * per-(vector, subspace) argmin codeword → (vec_id, subspace, code,
    * dist). The argmin window keys on (vec_id, subspace) —
    * corpus-cardinality keys, no low-cardinality funnel. Shared by the
    * seed encode (sim15/16/17) and the trained encode (sim18).
    */
  def pqEncodedWith(s: SparkSession, d: String, cb: DataFrame): DataFrame =
    pqEncodedOf(t(s, d, "embeddings"), cb)

  /** [[pqEncodedWith]] over an arbitrary (vec_id, embedding) frame — the
    * residual encode (sim46) passes residual vectors here.
    */
  def pqEncodedOf(vectors: DataFrame, cb: DataFrame): DataFrame =
    // argmin by (dist, code) as a MIN over the lexicographic struct — a
    // map-side-combinable aggregate instead of the r08 row_number window:
    // the window shuffled and sorted all |vectors|·8·16 scored rows by
    // (vec_id, subspace); the aggregate combines to one row per
    // (vec_id, subspace) before its exchange. Identical pick: min
    // struct(dist, code) == first row under ORDER BY dist, code.
    pqSubvectors(vectors)
      .join(broadcast(cb), Seq("subspace"))
      .withColumn("dist", scaledL2(col("svec"), col("cvec")))
      .groupBy("vec_id", "subspace")
      .agg(min(struct(col("dist"), col("code"))).as("m"))
      .select(col("vec_id"), col("subspace"),
        col("m.code").as("code"), col("m.dist").as("dist"))

  // ——— Residual IVF-PQ (sim46/sim47): the production IVFADC form ———

  /** The trained centroids as a broadcastable (cell, cvec) frame. */
  private def centroidArrays(s: SparkSession,
      cents: Array[(Array[Double], Long)]): DataFrame = {
    import s.implicits._
    cents.zipWithIndex.map { case ((c, _), k) => (k, c.toSeq) }.toSeq.toDF("cell", "cvec")
  }

  /** Residual view of the corpus under the TRAINED coarse quantizer:
    * (vec_id, cell, rvec = x − c_cell) in doubles — what IVFADC actually
    * encodes (residuals concentrate near 0, so a shared codebook fits
    * them far better than raw vectors; sim47 measures the payoff against
    * sim21's raw-vector composition). One narrow map per vector (the
    * centroid join is a broadcast of 16 rows).
    */
  def residualCorpus(s: SparkSession, d: String): DataFrame = {
    val cents = trainedCentroids(s, d, iters = 2)
    assignCells(withNorm(s, d), cents)
      .join(broadcast(centroidArrays(s, cents)), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding").cast("array<double>"), col("cvec"),
          (a, b) => a - b).as("rvec"))
  }

  /** Residual codebook from a [[residualCorpus]] frame: the residuals of
    * the [[PqCodes]] lowest vec_ids, sliced per subspace — the sim15
    * deterministic seed convention applied to residual space. Bounded
    * 16-row collect; the caller passes its (checkpointed) residual frame
    * so the trained-assignment chain runs once per build, not per helper.
    */
  def residualCodebookOf(s: SparkSession, rc: DataFrame): DataFrame = {
    import s.implicits._
    val rows = rc.where(col("vec_id") < PqCodes)
      .select("vec_id", "rvec").collect().sortBy(_.getLong(0))
    require(rows.length == PqCodes && rows.forall(_.getSeq[Double](1).length == PqSub * PqDim),
      s"residual PQ expects $PqCodes seed residuals of dim ${PqSub * PqDim}")
    rows.flatMap { r =>
      val v = r.getSeq[Double](1)
      (0 until PqSub).map(j => (r.getLong(0), j, v.slice(j * PqDim, j * PqDim + PqDim)))
    }.toSeq.toDF("code", "subspace", "cvec")
  }

  /** Per-(probe, PROBED CELL) residual ADC lookup tables — the part that
    * distinguishes IVFADC from sim20's global LUT: the query's residual is
    * DIFFERENT in every probed cell (q − c_cell), so each (probe, cell)
    * pair carries its own 8×16 table. Still bounded: probes × IvfProbe ×
    * 8 × 16 rows, broadcast at the use site. Probe frame and codebook are
    * PASSED IN (computed once per build — the pqEncodedOf convention).
    */
  def residualLut(s: SparkSession, cents: Array[(Array[Double], Long)],
      pc: DataFrame, rcb: DataFrame): DataFrame = {
    val qr = pc
      .join(broadcast(centroidArrays(s, cents)), "cell")
      .select(col("qid"), col("cell"),
        zip_with(col("qvec").cast("array<double>"), col("cvec"),
          (a, b) => a - b).as("rqvec"))
    qr.select(col("qid"), col("cell"),
        explode(array((0 until PqSub).map(j =>
          struct(lit(j).as("subspace"),
            slice(col("rqvec"), j * PqDim + 1, PqDim).as("qsub"))): _*)).as("s"))
      .select(col("qid"), col("cell"), col("s.subspace").as("subspace"),
        col("s.qsub").as("qsub"))
      .join(broadcast(rcb), Seq("subspace"))
      .withColumn("pdist", scaledL2(col("qsub"), col("cvec")))
      .select("qid", "cell", "subspace", "code", "pdist")
  }

  /** sim15's output: codes under the SEED codebook. */
  def pqEncoded(s: SparkSession, d: String): DataFrame =
    pqEncodedWith(s, d, pqCodebook(s, d))

  /** `iters` Lloyd refinements of the seed per-subspace codebooks — the
    * sim07 training loop applied to PQ: assignment is the argmin encode;
    * the update is ONE distributed exact aggregate (8×16×8 = 1024 rows
    * regardless of corpus size) collected and re-broadcast. Mean =
    * floor-scaled integer sum / (n·1e15) in IEEE double (the
    * centroidsFrom convention, mirrored term-for-term in the oracle); a
    * codeword with no assignees keeps its previous vector. Trained once
    * per (sfDir, iters).
    */
  def pqTrainedCodebook(s: SparkSession, d: String, iters: Int): DataFrame = {
    import s.implicits._
    Artifacts.memo("graft_pq_codebook", (d, iters)) {
      var cur: Seq[(Long, Int, Seq[Double])] = pqCodebook(s, d).collect().toSeq
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).map(_.toDouble)))
      for (_ <- 1 to iters) {
        val cbDf = cur.toDF("code", "subspace", "cvec")
        val sums = pqSubvectors(t(s, d, "embeddings"))
          .join(pqEncodedWith(s, d, cbDf).select("vec_id", "subspace", "code"),
            Seq("vec_id", "subspace"))
          .select(col("subspace"), col("code"), posexplode(col("svec")).as(Seq("dim", "x")))
          .groupBy("subspace", "code", "dim")
          .agg(count(lit(1)).as("n"),
            sum(floor(col("x").cast(DoubleType) * SCALE).cast(DecimalType(38, 0))).as("ssum"))
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getInt(2)) -> (r.getLong(3), r.getDecimal(4)))
          .toMap
        cur = cur.map { case (code, sub, v) =>
          (code, sub, v.indices.map { dim =>
            sums.get((sub, code, dim))
              .map { case (n, ssum) => ssum.doubleValue() / (n * SCALE) }
              .getOrElse(v(dim))
          })
        }
      }
      cur
    }.toDF("code", "subspace", "cvec")
  }

  /** The 10 probes' per-(subspace, codeword) ADC lookup tables under the
    * seed codebook (qid, subspace, code, pdist) — 8×16 integer rows per
    * probe, broadcast at every use site. Shared by the full-corpus scan
    * (sim16/sim19 via [[pqAdcScores]]) and the IVF-pruned scan (sim20).
    */
  def pqAdcLut(s: SparkSession, d: String): DataFrame =
    pqSubvectors(t(s, d, "embeddings").where(col("vec_id") < 10))
      .select(col("vec_id").as("qid"), col("subspace"), col("svec").as("qvec"))
      .join(broadcast(pqCodebook(s, d)), Seq("subspace"))
      .withColumn("pdist", scaledL2(col("qvec"), col("cvec")))
      .select("qid", "subspace", "code", "pdist")

  /** Per-(probe, vector) ADC distances under the seed codebook: the probe
    * 8×16 LUT (broadcast) + the integer lookup-sum over each vector's
    * codes, an [[Artifacts.shared]] dir: sim16, sim19 and sim28 all start
    * from this identical encode+LUT join.
    */
  def pqAdcScores(s: SparkSession, d: String): DataFrame =
    Catalog.parquet(s, Artifacts.shared("graft_pqadc", d) { dir =>
      pqEncoded(s, d).select("vec_id", "subspace", "code")
        .join(broadcast(pqAdcLut(s, d)), Seq("subspace", "code"))
        .where(col("vec_id") =!= col("qid"))
        .groupBy("qid", "vec_id")
        .agg(sum(col("pdist")).as("adc_dist"))
        .write.mode("overwrite").parquet(dir)
    })

  /** Exact full-vector scaled-L2 top-3 per probe (the sim01 bounded
    * brute-force shape) — the ground truth shared by sim17 and sim19.
    */
  def pqL2Truth(s: SparkSession, d: String): DataFrame =
    // FIVE recall queries (sim17/19/21/27/28) grade against this same
    // exact-L2 truth — one brute-force pass
    Catalog.parquet(s, Artifacts.shared("graft_pqtruth", d) { dir =>
      val emb = t(s, d, "embeddings")
      val probes = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val pairs = emb.join(broadcast(probes), col("vec_id") =!= col("qid"))
        .withColumn("l2", scaledL2(col("qvec"), col("embedding")))
        .select("qid", "vec_id", "l2")
      topK(pairs, 3, "l2", ascending = true).select("qid", "vec_id")
        .write.mode("overwrite").parquet(dir)
    })

  /** PQ serving's two stages: each probe's ADC top-20 shortlist
    * ([[pqAdcScores]]), re-ranked by exact full-vector scaled L2 — the
    * top-3 (qid, vec_id, l2, rk) shared by sim19 and sim28's rerank row.
    */
  def pqAdcRerank(s: SparkSession, d: String): DataFrame = {
    val cand = topK(pqAdcScores(s, d), 20, "adc_dist", ascending = true).select("qid", "vec_id")
    val emb = t(s, d, "embeddings")
    val probes = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val rr = cand.join(emb, "vec_id").join(broadcast(probes), "qid")
      .withColumn("l2", scaledL2(col("qvec"), col("embedding")))
      .select("qid", "vec_id", "l2")
    topK(rr, 3, "l2", ascending = true)
  }

  /** Oracle CTEs for the PQ family: codebook (`cb`), subvectors (`sub`),
    * all (vector, subspace, codeword) distances (`scored`), and the argmin
    * codes (`codes`) — shared by sim15/sim16/sim17/sim18/sim19.
    */
  lazy val sqlPqCtes: String =
    s"""cbv AS (SELECT vec_id AS code, embedding FROM embeddings WHERE vec_id < $PqCodes),
        cb AS (SELECT code, j AS subspace,
                      embedding[CAST(j*$PqDim+1 AS INT):CAST(j*$PqDim+$PqDim AS INT)] AS cvec
               FROM cbv, LATERAL (SELECT UNNEST(range(0, $PqSub)) AS j)),
        sub AS (SELECT vec_id, j AS subspace,
                       embedding[CAST(j*$PqDim+1 AS INT):CAST(j*$PqDim+$PqDim AS INT)] AS svec
                FROM embeddings, LATERAL (SELECT UNNEST(range(0, $PqSub)) AS j)),
        scored AS (
          SELECT s.vec_id, s.subspace, c.code,
                 ${sqlScaledL2("s.svec", "c.cvec", PqDim)} AS dist
          FROM sub s JOIN cb c USING (subspace)),
        codes AS (${sqlTopK("scored", 1, "dist, code", "vec_id, subspace", "vec_id, subspace, code, dist")})"""

  /** The probe ADC lookup tables as oracle CTEs (`qsub`, `lut`) — the
    * [[pqAdcLut]] mirror, shared by the full-corpus `adc` below and
    * sim20's IVF-pruned variant.
    */
  lazy val sqlPqLutCtes: String =
    s"""$sqlPqCtes,
        qsub AS (SELECT vec_id AS qid, subspace, svec FROM sub WHERE vec_id < 10),
        lut AS (
          SELECT q.qid, c.subspace, c.code,
                 ${sqlScaledL2("q.svec", "c.cvec", PqDim)} AS pdist
          FROM qsub q JOIN cb c USING (subspace))"""

  /** ADC machinery as oracle CTEs (probe LUTs + per-(probe, vector) ADC
    * sums over the seed codes) — shared by sim16/sim17/sim19.
    */
  lazy val sqlPqAdcCtes: String =
    s"""$sqlPqLutCtes,
        adc AS (
          SELECT l.qid, k.vec_id, CAST(SUM(l.pdist) AS BIGINT) AS adc_dist
          FROM codes k JOIN lut l ON l.subspace = k.subspace AND l.code = k.code
          WHERE k.vec_id <> l.qid
          GROUP BY 1, 2)"""

  /** sim20's oracle: the seed-IVF candidates ([[sqlSeedSearchCtes]]) and
    * their ADC sums under the probe LUTs (`adci`) — shared by sim20/sim21.
    */
  lazy val sqlIvfPqCtes: String =
    s"""$sqlIvfAssignCtes, ${sqlSeedSearchCtes()},
        $sqlPqLutCtes,
        adci AS (
          SELECT c.qid, c.vec_id, CAST(SUM(l.pdist) AS BIGINT) AS adc_dist
          FROM icand c JOIN codes k ON k.vec_id = c.vec_id
                       JOIN lut l ON l.qid = c.qid AND l.subspace = k.subspace
                                 AND l.code = k.code
          GROUP BY 1, 2)"""

  /** Residual-IVFPQ oracle chain — composes AFTER [[sqlTrainedSearchCtes]]
    * (consumes its `nv`, `c2`, `a2`, `pcells`): trained-centroid arrays,
    * per-vector residuals, the residual codebook/codes, the per-(probe,
    * probed-cell) LUTs, and the ADC sums. Every CTE MATERIALIZED — the
    * chain references each level twice and DuckDB 1.0 otherwise re-inlines
    * the whole training trajectory exponentially (the sim45 lesson).
    */
  lazy val sqlResidualAdcCtes: String = {
    val dims = PqSub * PqDim
    s"""carr AS MATERIALIZED (SELECT cell, list(cval ORDER BY dim) AS cvec
                              FROM c2 GROUP BY cell),
        rv AS MATERIALIZED (
          SELECT a.vec_id, a.cell,
                 list_transform(range(1, ${dims + 1}), i ->
                   CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) - ca.cvec[CAST(i AS INT)]) AS rvec
          FROM a2 a JOIN nv e USING (vec_id) JOIN carr ca ON ca.cell = a.cell),
        rcb AS MATERIALIZED (
          SELECT vec_id AS code, j AS subspace,
                 rvec[CAST(j*$PqDim+1 AS INT):CAST(j*$PqDim+$PqDim AS INT)] AS cvec
          FROM rv, LATERAL (SELECT UNNEST(range(0, $PqSub)) AS j)
          WHERE vec_id < $PqCodes),
        rsub AS MATERIALIZED (
          SELECT vec_id, j AS subspace,
                 rvec[CAST(j*$PqDim+1 AS INT):CAST(j*$PqDim+$PqDim AS INT)] AS svec
          FROM rv, LATERAL (SELECT UNNEST(range(0, $PqSub)) AS j)),
        rscored AS MATERIALIZED (
          SELECT s.vec_id, s.subspace, c.code,
                 ${sqlScaledL2("s.svec", "c.cvec", PqDim)} AS dist
          FROM rsub s JOIN rcb c USING (subspace)),
        rcodes AS MATERIALIZED (
          ${sqlTopK("rscored", 1, "dist, code", "vec_id, subspace", "vec_id, subspace, code")}),
        qrv AS MATERIALIZED (
          SELECT p.qid, p.cell,
                 list_transform(range(1, ${dims + 1}), i ->
                   CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) - ca.cvec[CAST(i AS INT)]) AS rqvec
          FROM pcells p JOIN nv e ON e.vec_id = p.qid JOIN carr ca ON ca.cell = p.cell),
        rlut AS MATERIALIZED (
          SELECT q.qid, q.cell, c.subspace, c.code,
                 ${sqlScaledL2("q.qsub", "c.cvec", PqDim)} AS pdist
          FROM (SELECT qid, cell, j AS subspace,
                       rqvec[CAST(j*$PqDim+1 AS INT):CAST(j*$PqDim+$PqDim AS INT)] AS qsub
                FROM qrv, LATERAL (SELECT UNNEST(range(0, $PqSub)) AS j)) q
               JOIN rcb c USING (subspace)),
        rcand AS MATERIALIZED (
          SELECT p.qid, p.cell, s.vec_id FROM pcells p JOIN a2 s ON s.cell = p.cell
          WHERE s.vec_id <> p.qid),
        radc AS MATERIALIZED (
          SELECT c.qid, c.vec_id, CAST(SUM(l.pdist) AS BIGINT) AS adc_dist
          FROM rcand c JOIN rcodes k ON k.vec_id = c.vec_id
                       JOIN rlut l ON l.qid = c.qid AND l.cell = c.cell
                                  AND l.subspace = k.subspace AND l.code = k.code
          GROUP BY 1, 2)"""
  }

  /** [[pqAdcRerank]]'s oracle over [[sqlPqAdcCtes]]: the shortlist
    * (`rrcand`), its exact L2 (`rr`) and the re-ranked top-3 (`rr_top`).
    */
  lazy val sqlPqRerankCtes: String =
    s"""rrcand AS (${sqlTopK("adc", 20, "adc_dist, vec_id")}),
        rr AS (
          SELECT c.qid, c.vec_id,
                 ${sqlScaledL2("a.embedding", "b.embedding", PqSub * PqDim)} AS l2
          FROM rrcand c JOIN embeddings a ON a.vec_id = c.qid
                        JOIN embeddings b ON b.vec_id = c.vec_id),
        rr_top AS (${sqlTopK("rr", 3, "l2, vec_id")})"""

  /** Exact full-vector L2 truth top-3 per probe — shared by sim17/sim19. */
  lazy val sqlPqTruthCtes: String =
    s"""bl2 AS (
          SELECT a.vec_id AS qid, b.vec_id AS vec_id,
                 ${sqlScaledL2("a.embedding", "b.embedding", PqSub * PqDim)} AS l2
          FROM embeddings a JOIN embeddings b
            ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
        truth AS (${sqlTopK("bl2", 3, "l2, vec_id")})"""

  // ——— Scalar-quantization serving (sim26 search / sim27 recall) ———

  /** Per-dimension (lo, hi) quantization ranges — sim14's trained
    * parameters, collected as a bounded dims-sized pair of arrays (the
    * centroid-collect convention: the collect is O(dims), never O(corpus))
    * and shipped to executors as plan literals. Fails fast on a fixture
    * dimension change.
    */
  def sqRanges(s: SparkSession, d: String): (Array[Double], Array[Double]) = {
    val rows = t(s, d, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("x", col("x").cast(DoubleType))
      .groupBy("dim").agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .collect().sortBy(_.getInt(0))
    require(rows.length == PqSub * PqDim,
      s"embedding dim ${rows.length} != ${PqSub * PqDim} — fixture shape changed")
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** The int8 encode∘decode of an embedding column under the given
    * ranges — exactly the vector a server holding only sim14's codes can
    * reconstruct. Every double step is the sim14 chain
    * operation-for-operation (deterministic IEEE), so the oracle mirrors
    * it term-for-term.
    */
  def sqReconOf(emb: Column, lo: Array[Double], hi: Array[Double]): Column = {
    val loA = array(lo.toIndexedSeq.map(lit(_)): _*)
    val hiA = array(hi.toIndexedSeq.map(lit(_)): _*)
    transform(emb, (x, i) => {
      val l = element_at(loA, i + 1)
      val h = element_at(hiA, i + 1)
      val q = when(h > l,
        least(floor((x.cast(DoubleType) - l) / (h - l) * 255), lit(255L))).otherwise(lit(0L))
      l + q.cast(DoubleType) * (h - l) / 255
    })
  }

  /** Sign signature of an embedding column as TWO 32-bit words (word k
    * packs dims 32k..32k+31, bit j = dim > 0, Horner MSB-first) —
    * 1-bit-per-dimension binary quantization, the extreme end of the
    * compression pareto (8 bytes/vector). 32-bit words keep every Horner
    * intermediate far inside a signed 64-bit value on BOTH engines (a
    * single 64-bit word overflows the top bit under ANSI arithmetic and
    * DuckDB's checked `<<` alike — the m09 band-word lesson). Map-only;
    * search is symmetric hamming. At corpus scale the scan side is
    * banded like d08 (the words as equi-join keys); the full
    * probe×corpus form here is the bounded exact-baseline shape.
    */
  def signWord(emb: Column, word: Int): Column =
    aggregate(sequence(lit(word * 32), lit(word * 32 + 31)), lit(0L),
      (acc, i) => acc * 2 +
        when(element_at(emb, i + 1) > 0f, lit(1L)).otherwise(lit(0L)))

  /** DuckDB mirror of [[signWord]]. */
  def sqlSignWord(word: Int): String =
    s"""list_reduce(list_transform(range(${word * 32 + 1}, ${word * 32 + 33}),
        i -> CAST(CASE WHEN embedding[CAST(i AS INT)] > 0 THEN 1 ELSE 0 END AS BIGINT)),
        (acc, x) -> acc * 2 + x)"""

  /** Oracle CTEs for binary-hamming search: per-vector sign words (`bw`)
    * and the probe×corpus hamming distances (`bham`) — shared by sim29
    * and the sim28 pareto row.
    */
  lazy val sqlBinHamCtes: String =
    s"""bw AS (SELECT vec_id, ${sqlSignWord(0)} AS w0, ${sqlSignWord(1)} AS w1 FROM embeddings),
        bham AS (
          SELECT q.vec_id AS qid, c.vec_id AS vec_id,
                 CAST(bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)) AS INT) AS hamming
          FROM bw q JOIN bw c ON q.vec_id < 10 AND c.vec_id <> q.vec_id)"""

  /** Probe×corpus hamming over sign signatures (the sim29/sim28 engine
    * side): map-only signatures, bounded broadcast probes.
    */
  def binHamScores(s: SparkSession, d: String): DataFrame = {
    val bw = t(s, d, "embeddings").select(col("vec_id"),
      signWord(col("embedding"), 0).as("w0"), signWord(col("embedding"), 1).as("w1"))
    val probes = bw.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("w0").as("qw0"), col("w1").as("qw1"))
    bw.join(broadcast(probes), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (bit_count(col("qw0").bitwiseXOR(col("w0"))) +
          bit_count(col("qw1").bitwiseXOR(col("w1")))).cast(IntegerType).as("hamming"))
  }

  /** Oracle CTEs for SQ serving: exploded doubles (`ex`), per-dim ranges
    * (`rng`), reconstructed values (`rc`), and the probe×corpus asymmetric
    * distances (`adcsq`) — the grouped integer sum is order-free, so it
    * equals the engine's in-order scaledL2 fold. Shared by sim26/sim27.
    */
  lazy val sqlSqAdcCtes: String =
    s"""ex AS (SELECT vec_id, dim, CAST(embedding[CAST(dim + 1 AS INT)] AS DOUBLE) AS x
               FROM embeddings, LATERAL (SELECT UNNEST(range(0, len(embedding))) AS dim) i),
        rng AS (SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM ex GROUP BY dim),
        rc AS (SELECT vec_id, dim,
                      lo + CAST(CASE WHEN hi > lo
                                     THEN LEAST(CAST(FLOOR((x - lo) / (hi - lo) * 255) AS BIGINT), 255)
                                     ELSE 0 END AS DOUBLE) * (hi - lo) / 255 AS r
               FROM ex JOIN rng USING (dim)),
        adcsq AS (
          SELECT q.vec_id AS qid, c.vec_id AS vec_id,
                 CAST(SUM(CAST(FLOOR((q.x - c.r) * (q.x - c.r) * 1e15) AS BIGINT)) AS BIGINT) AS sq_dist
          FROM ex q JOIN rc c ON q.dim = c.dim AND q.vec_id < 10 AND c.vec_id <> q.vec_id
          GROUP BY 1, 2)"""

  /** One oracle-side PQ Lloyd iteration `i`: per-(subspace, code, dim)
    * exact sums under the previous codes (`pqs$i`), the updated long-form
    * codebook with empty codewords keeping their vector (`cbl$i`), the
    * re-scored distances as an exact integer SUM over join rows (`scoredt$i`
    * — integer addition is order-free, so the grouped form equals the
    * engine's in-order list fold), and the new argmin codes (`codest$i`).
    */
  private def sqlPqIter(i: Int): String = {
    val prevCodes = if (i == 1) "codes" else s"codest${i - 1}"
    val prevCbl = if (i == 1) "cbl0" else s"cbl${i - 1}"
    s"""pqs$i AS (
          SELECT s.subspace, k.code, dm.dim AS dim, COUNT(*) AS n,
                 SUM(CAST(FLOOR(CAST(s.svec[CAST(dm.dim+1 AS INT)] AS DOUBLE) * 1e15) AS DECIMAL(38,0))) AS ssum
          FROM sub s JOIN $prevCodes k USING (vec_id, subspace),
               LATERAL (SELECT UNNEST(range(0, $PqDim)) AS dim) dm
          GROUP BY 1, 2, 3),
        cbl$i AS (
          SELECT p.code, p.subspace, p.dim,
                 COALESCE(CAST(CAST(q.ssum AS BIGINT) AS DOUBLE) / (q.n * 1e15), p.cval) AS cval
          FROM $prevCbl p LEFT JOIN pqs$i q
            ON q.subspace = p.subspace AND q.code = p.code AND q.dim = p.dim),
        scoredt$i AS (
          SELECT s.vec_id, s.subspace, c.code,
                 CAST(SUM(CAST(FLOOR((CAST(s.svec[CAST(c.dim+1 AS INT)] AS DOUBLE) - c.cval)
                          * (CAST(s.svec[CAST(c.dim+1 AS INT)] AS DOUBLE) - c.cval)
                          * 1e15) AS BIGINT)) AS BIGINT) AS dist
          FROM sub s JOIN cbl$i c USING (subspace)
          GROUP BY 1, 2, 3),
        codest$i AS (${sqlTopK(s"scoredt$i", 1, "dist, code", "vec_id, subspace",
          "vec_id, subspace, code, dist")})"""
  }

  /** Raw seed codebook → TRAINED (two Lloyd iterations) codes `codest2` —
    * the replayed per-subspace training trajectory, sim18's oracle.
    */
  lazy val sqlPqTrainedCtes: String =
    s"""$sqlPqCtes,
        cbl0 AS (
          SELECT code, subspace, dm.dim AS dim,
                 CAST(cvec[CAST(dm.dim+1 AS INT)] AS DOUBLE) AS cval
          FROM cb, LATERAL (SELECT UNNEST(range(0, $PqDim)) AS dim) dm),
        ${sqlPqIter(1)},
        ${sqlPqIter(2)}"""

  /** sim24's greedy MMR step: the best remaining `cand` by 2·cos − the
    * redundancy `red`, excluding the `selected` picks.
    */
  private def sqlMmrStep(red: String, selected: String): String =
    sqlTopK(s"""(SELECT c.qid, c.vec_id, c.cos_sim, 2 * c.cos_sim - r.red AS mmr
                 FROM cand c JOIN $red r ON r.qid = c.qid AND r.vec_id = c.vec_id
                 WHERE NOT EXISTS (SELECT 1 FROM $selected s
                                   WHERE s.qid = c.qid AND s.vec_id = c.vec_id))""",
      1, "mmr DESC, vec_id", cols = "qid, vec_id, cos_sim, mmr")

  /** sim02's oracle candidates over `nv`: the PureSig bucket dump's 15
    * table keys per vector (`tkeys`), each of the 50 probes' distinct
    * key-sharing candidates (`lcand`) and their exact cosines (`lscored`).
    */
  private def sqlLshSearchCtes: String =
    s"""bkt AS (SELECT vec_id, bucket FROM '${graft.Verify.SigDumpDir}/emb_buckets.parquet/*.parquet'),
        tkeys AS (SELECT vec_id, t,
                         (bucket >> CAST(t*$LshBits AS INT)) & ${(1 << LshBits) - 1} AS key
                  FROM bkt, LATERAL (SELECT UNNEST(range(0, $LshTables)) AS t)),
        lcand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
                  FROM tkeys q JOIN tkeys c ON q.t = c.t AND q.key = c.key
                  WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id),
        lscored AS (SELECT lcand.qid, lcand.cid AS vec_id, ${sqlCos()} AS cos_sim
                    FROM lcand JOIN nv a ON a.vec_id = lcand.qid
                               JOIN nv b ON b.vec_id = lcand.cid)"""

  val all: Seq[Q] = Seq(
    // Brute-force cosine top-k per probe (the exact ANN baseline).
    Q("sim01_topk_cosine",
      (s, d) => topK(probePairsShared(s, d, 10), 5).orderBy("qid", "rk"),
      Some(sqlRanked(s"(${sqlProbePairs(10)})", 5))),

    // IVF ANN — the second scale path: coarse-quantize the corpus into
    // `IvfCells` centroid cells (centroids = deterministic corpus sample,
    // the IvfCells lowest vec_ids, shipped as a codegen REFERENCE OBJECT
    // via the centroid_scores kernel — not plan literals, so plan size is
    // independent of dim), search the `IvfProbe` nearest cells per query,
    // exact cosine only on cell-mates. Corpus cell assignment is a map-only
    // projection; the candidate join is an equi-join on the cell id. Recall
    // tunes via IvfProbe. Fully deterministic integer-scaled math → direct
    // DuckDB oracle (cell identity mirrored as the centroid's vec_id).
    Q("sim03_ann_ivf",
      // Seed centroids = deterministic corpus sample (the IvfCells lowest
      // vec_ids, vec_id order == cell index — the identity the SQL oracle
      // mirrors); corpus assignment is the map-only argmax projection, the
      // probe side keeps the windowed top-IvfProbe cells (10 rows).
      (s, d) => ivfSearch(s, d, ivfCentroids(withNorm(s, d)), nProbes = 10, k = 3),
      // The whole IVF pipeline is exact integer-scaled math + deterministic
      // argmax (ties to the lowest cell — mirrored by ORDER BY score DESC,
      // cell with cell = centroid vec_id), so DuckDB reproduces it directly
      // from the embeddings table: no engine-internal state involved.
      Some(s"WITH $sqlIvfAssignCtes, ${sqlSeedSearchCtes()} ${sqlRanked("iscored", 3)}")),

    // One LLOYD (k-means) TRAINING step for the IVF coarse quantizer — the
    // piece that turns sim03's deterministic seed centroids into trained
    // ones: assign every vector to its nearest centroid (the shared
    // map-only argmax of [[ivfAssigned]]), then recompute each centroid as
    // the per-cell per-dimension mean of its members. Numeric design for
    // the hash gate: per-element values are floor-scaled to exact integers
    // (the SimilarityOps convention) and summed as DECIMAL(38,0) —
    // DuckDB's SUM(BIGINT) is HUGEINT, so BOTH sides reduce exactly and
    // order-independently, and the final long→double division is
    // deterministic. Scale shape: posexplode to (cell, dim) then a
    // two-level aggregate with map-side combine — the canonical
    // distributed-kmeans shuffle, 16×64 result rows regardless of corpus
    // size; further iterations repeat the same step with the output
    // broadcast back (centroids are always cells×dim ≪ corpus).
    Q("sim05_kmeans_step",
      (s, d) => {
        val corpus = withNorm(s, d)
        lloydSums(corpus, ivfCentroids(corpus))
          .select(col("cell"), col("dim"), col("n_members"),
            (col("ssum").cast(DoubleType) / (col("n_members") * lit(SCALE))).as("centroid"))
          .orderBy("cell", "dim")
      },
      Some(s"""WITH $sqlIvfAssignCtes,
                 em AS (
                   SELECT a.cell, i.dim, e.embedding[CAST(i.dim + 1 AS INT)] AS x
                   FROM assigned a JOIN nv e USING (vec_id),
                        LATERAL (SELECT UNNEST(range(0, len(e.embedding))) AS dim) i),
                 sums AS (
                   SELECT cell, dim, COUNT(*) AS n_members,
                          SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1e15) AS BIGINT)) AS ssum
                   FROM em GROUP BY 1, 2)
               SELECT CAST(cell AS INT) AS cell, CAST(dim AS INT) AS dim, n_members,
                      CAST(CAST(ssum AS BIGINT) AS DOUBLE) / (n_members * 1e15) AS centroid
               FROM sums ORDER BY cell, dim""")),

    // K-MEANS TO (near-)CONVERGENCE: two full Lloyd iterations from the
    // deterministic seed — iteration 1 runs driver-coordinated (ONE
    // distributed aggregate, 1024 rows collected, re-broadcast as codegen
    // reference objects), the emitted result is iteration 2's distributed
    // aggregate. Every arithmetic step is the engine-exact convention
    // (integer-scaled sums in DECIMAL(38,0) == DuckDB HUGEINT, IEEE-double
    // means, floor-scaled centroid norms), so the ORACLE REPLAYS THE WHOLE
    // TRAINING TRAJECTORY — both unrolled iterations — bit-for-bit in SQL.
    // Further iterations repeat the same bounded step; the corpus is only
    // scanned, never shuffled by vector, at any scale.
    Q("sim07_kmeans_train",
      (s, d) => {
        val corpus = withNorm(s, d)
        lloydSums(corpus, trainedCentroids(s, d, iters = 1))
          .select(col("cell"), col("dim"), col("n_members"),
            (col("ssum").cast(DoubleType) / (col("n_members") * lit(SCALE))).as("centroid"))
          .orderBy("cell", "dim")
      },
      Some(s"""WITH $sqlIvfAssignCtes,
                 ${sqlLloydSums(1)},
                 ${sqlLloydAssign(1)},
                 ${sqlLloydSums(2)}
               SELECT CAST(cell AS INT) AS cell, CAST(dim AS INT) AS dim, n_members,
                      CAST(CAST(ssum AS BIGINT) AS DOUBLE) / (n_members * 1e15) AS centroid
               FROM s2 ORDER BY cell, dim""")),

    // IVF ANN on TRAINED centroids (two Lloyd iterations) — the production
    // shape: train the coarse quantizer, then run the identical bucketed
    // search of sim03 against it. Same map-only assignment + broadcast
    // equi-join; only the 16×64 reference object changed.
    Q("sim08_ann_ivf_trained",
      (s, d) => ivfSearch(s, d, trainedCentroids(s, d, iters = 2), nProbes = 10, k = 3),
      Some(sqlTrainedSearchSql)),

    // The SAME trained-IVF search SERVED FROM THE PERSISTED INDEX: the
    // corpus assignment is a cell-partitioned parquet table, the trained
    // centroids a 16-row reference table (ensureIvfIndex — train once,
    // serve many). The probed cells are known at query time (a bounded
    // 10×IvfProbe collect), so the candidate scan carries a STATIC
    // partition filter — in-query plan-asserted: only the probed cell
    // directories are read. This is the 100 TB serving shape: per query,
    // IvfProbe/IvfCells of the corpus is touched, and finer cells prune
    // proportionally more. Same oracle as sim08 — the index must change
    // WHERE bytes are read, never the answer.
    Q("sim11_ann_ivf_indexed",
      (s, d) => serveIvfIndexed(s, d, withNorm(s, d), nProbes = 10),
      Some(sqlTrainedSearchSql)),

    // Recall@3 of the TRAINED IVF path vs exact brute force — the number
    // that shows training the quantizer pays: compare with sim04's seeded
    // `ivf` row. Hard oracle: DuckDB recomputes brute-force truth from raw
    // embeddings AND the trained search from the replayed training CTEs,
    // so the recall NUMBER itself is cross-engine-verified.
    Q("sim09_recall_trained",
      (s, d) => recallRows(s, "method", Seq("ivf_trained" ->
        recallOf(bruteTruth(s, d, 10, 3))(Catalog.byName("sim08_ann_ivf_trained").build(s, d)))),
      Some(s"""WITH $sqlTrainedSearchCtes,
                 ivf_top AS (${sqlTopK("iscored", 3)}),
                 ${sqlBruteTruthCtes(10, 3)}
               ${sqlRecallRows("method", Seq(("'ivf_trained'", "ivf_top", "brute_top")))}"""),
      bench = false),

    // SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023): coarse-cluster the
    // corpus with the TRAINED k-means quantizer, then prune near-dups
    // WITHIN each cell only — a vector is removed iff a LOWER vec_id in
    // its cell has cosine ≥ 0.4 with it (deterministic keeper rule); the
    // output is the kept representatives. The pair space is Σ n_cell², set
    // by the cell granularity (cell count scales with corpus size in
    // production — 16 is the test parameterization), never corpus-wide
    // O(n²); a cross-cell near-dup pair is the method's documented miss.
    // The within-cell self-join is an equi-join on the cell id; exact
    // integer cosine keeps the 0.4 boundary engine-exact, and the oracle
    // replays training + pruning entirely in SQL.
    Q("sim10_semdedup",
      (s, d) => {
        val assigned = assignCells(withNorm(s, d), trainedCentroids(s, d, iters = 2))
        val l = assigned.select(col("cell"), col("vec_id").as("u"),
          col("embedding").as("ea"), col("norm2").as("na"))
        val r = assigned.select(col("cell"), col("vec_id").as("v"),
          col("embedding").as("eb"), col("norm2").as("nb"))
        val dups = l.join(r, Seq("cell")).where(col("u") < col("v"))
          .where(cosine(scaledDot(col("ea"), col("eb")), col("na"), col("nb")) >= 0.4)
          .select(col("v").as("vec_id")).distinct()
        assigned.join(dups, Seq("vec_id"), "left_anti")
          .select("vec_id", "cell")
          .orderBy("vec_id")
      },
      Some(s"""WITH $sqlSemDedupCtes
               SELECT vec_id, CAST(cell AS INT) AS cell FROM skept ORDER BY vec_id"""),
      bench = false),

    // LSH-bucketed ANN — the scale path: one codegen'd 60-bit sign word per
    // vector (map-only), 15 OR'd tables of 4-bit keys; candidates = probe ×
    // corpus matches on any (tbl, key) — an equi-join keyed on the table
    // slot, never the O(n²) pair space — deduped, then exact cosine only on
    // candidates, top-3 per probe. At 100 TB: corpus keying is a narrow
    // projection ×15; candidate dedup + vector re-join shuffle only the
    // (qid, vec_id) pair list; recall/candidate-volume tunes via
    // LshBits/LshTables. Oracled against the driver-side PureSig bucket
    // dump (independent splitmix64 hyperplanes, table keys re-derived in
    // SQL); the spec pins cosine exactness vs brute force, sim04 the
    // recall.
    Q("sim02_ann_lsh",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val corpus = withNorm(s, d)
        val corpusKeys = corpus
          .select(col("vec_id"), explode(lshTableKeys(lshBucket(col("embedding")))).as("tk"))
          .select(col("vec_id"), col("tk.tbl").as("tbl"), col("tk.key").as("key"))
        val probeKeys = corpus.where(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), explode(lshTableKeys(lshBucket(col("embedding")))).as("tk"))
          .select(col("qid"), col("tk.tbl").as("tbl"), col("tk.key").as("key"))
        val cand = corpusKeys.join(broadcast(probeKeys), Seq("tbl", "key"))
          .where(col("vec_id") =!= col("qid"))
          .select("qid", "vec_id").distinct()
        topK(rerank(cand, corpus, probesOf(corpus, 50)), 3).orderBy("qid", "rk")
      },
      Some(s"""WITH nv AS (SELECT vec_id, embedding, $sqlNorm2 AS norm2 FROM embeddings),
                 $sqlLshSearchCtes
               ${sqlRanked("lscored", 3)}""")),

    // HARD-NEGATIVE mining for contrastive training — per probe, the top-5
    // most-similar corpus vectors inside a mid-similarity band
    // [0.05, 0.25]: above the band are positives/near-dups (leakage into
    // the negative set poisons the loss), below are easy negatives that
    // contribute no gradient. Same exact-integer cosine as sim01, so the
    // band boundaries are engine-exact; at scale the band filter runs
    // before the per-probe top-k window, and the candidate generation
    // rides either brute-force (bounded probe block, this baseline) or
    // the sim02 LSH path.
    Q("sim06_hard_negatives",
      (s, d) => topK(probePairsShared(s, d, 10).where(col("cos_sim").between(0.05, 0.25)), 5)
        .orderBy("qid", "rk"),
      Some(sqlRanked(s"(${sqlProbePairs(10)}) WHERE cos_sim BETWEEN 0.05 AND 0.25", 5)),
      bench = false),

    // ANN quality as a NUMBER: recall@3 of the LSH and IVF paths against
    // the exact brute-force top-3 over each method's probe set — and in
    // the HARD oracle: the IVF side is exact integer math (sim03's direct
    // SQL), the LSH side re-derives candidates from the PureSig bucket
    // dump (sim02's oracle), brute-force truth from raw embeddings, so
    // DuckDB reproduces the recall NUMBERS themselves.
    Q("sim04_ann_recall",
      (s, d) => {
        val brute = bruteTruth(s, d, 50, 3)
        recallRows(s, "method", Seq(
          "ivf" -> recallOf(brute.where(col("qid") < 10))(Catalog.byName("sim03_ann_ivf").build(s, d)),
          "lsh" -> recallOf(brute)(Catalog.byName("sim02_ann_lsh").build(s, d))))
      },
      Some(s"""WITH $sqlIvfAssignCtes, ${sqlSeedSearchCtes()},
                 ivf_top AS (${sqlTopK("iscored", 3)}),
                 $sqlLshSearchCtes,
                 lsh_top AS (${sqlTopK("lscored", 3)}),
                 ${sqlBruteTruthCtes(50, 3)}
               ${sqlRecallRows("method", Seq(
                 ("'ivf'", "ivf_top", "(SELECT * FROM brute_top WHERE qid < 10)"),
                 ("'lsh'", "lsh_top", "brute_top")))}"""),
      bench = false),

    // LABEL-AFFINITY MATRIX — the domain-similarity report of data-mixing
    // recipes: per-label mean embedding (the label centroid), then pairwise
    // cosine between centroids — which corpus slices are semantically close
    // (candidates for merging or rebalancing) and which are disjoint. The
    // centroid pass is the sim05 Lloyd aggregate grouped by the LABEL
    // (exact DECIMAL(38,0) scaled-integer sums, labels×dim output rows
    // regardless of corpus size); the pairwise stage joins the tiny
    // centroid table to itself on the dim — labels are bounded (domains /
    // sources), so the matrix is always small. Every product is floor-
    // scaled per element before summation, so DuckDB reproduces the matrix
    // bit-for-bit.
    Q("sim12_label_affinity",
      (s, d) => {
        val sums = t(s, d, "embeddings")
          .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .groupBy("label", "dim")
          .agg(count(lit(1)).as("n"),
            sum(floor(col("x").cast(DoubleType) * SCALE).cast(DecimalType(38, 0))).as("ssum"))
          .withColumn("cval", col("ssum").cast(DoubleType) / (col("n") * lit(SCALE)))
          .select("label", "dim", "cval")
        val a = sums.select(col("label").as("la"), col("dim"), col("cval").as("ca"))
        val b = sums.select(col("label").as("lb"), col("dim"), col("cval").as("cb"))
        val dots = a.join(b, Seq("dim")).where(col("la") <= col("lb"))
          .groupBy("la", "lb")
          .agg(sum(floor(col("ca") * col("cb") * lit(SCALE)).cast(LongType)).as("dot"))
        val norms = dots.where(col("la") === col("lb"))
          .select(col("la").as("l"), col("dot").as("norm2"))
        dots.where(col("la") < col("lb"))
          .join(norms.select(col("l").as("la"), col("norm2").as("na")), "la")
          .join(norms.select(col("l").as("lb"), col("norm2").as("nb")), "lb")
          .withColumn("affinity", cosine(col("dot"), col("na"), col("nb")))
          .select("la", "lb", "affinity")
          .orderBy("la", "lb")
      },
      Some("""WITH sums AS (
                 SELECT label, dim, COUNT(*) AS n,
                        SUM(CAST(FLOOR(CAST(embedding[CAST(dim + 1 AS INT)] AS DOUBLE) * 1e15) AS BIGINT)) AS ssum
                 FROM embeddings, LATERAL (SELECT UNNEST(range(0, len(embedding))) AS dim) i
                 GROUP BY 1, 2),
               cv AS (SELECT label, dim, CAST(CAST(ssum AS BIGINT) AS DOUBLE) / (n * 1e15) AS cval FROM sums),
               dots AS (
                 SELECT a.label AS la, b.label AS lb,
                        CAST(SUM(CAST(FLOOR(a.cval * b.cval * 1e15) AS BIGINT)) AS BIGINT) AS dot
                 FROM cv a JOIN cv b ON a.dim = b.dim AND a.label <= b.label
                 GROUP BY 1, 2),
               nrm AS (SELECT la AS l, dot AS norm2 FROM dots WHERE la = lb)
              SELECT d.la, d.lb,
                     CAST(d.dot AS DOUBLE) / SQRT(CAST(na.norm2 AS DOUBLE) * CAST(nb.norm2 AS DOUBLE)) AS affinity
              FROM dots d JOIN nrm na ON na.l = d.la JOIN nrm nb ON nb.l = d.lb
              WHERE d.la < d.lb ORDER BY d.la, d.lb""")),

    // SEMANTIC-STRATIFIED SAMPLE — diversity-preserving downsampling: a
    // fixed quota per TRAINED quantizer cell (the coreset move: uniform
    // sampling over-represents dense regions; per-cell quotas keep every
    // semantic region represented). Selection within a cell is the t21
    // deterministic doc-hash order — no rand(), retry-idempotent. The
    // assignment is the map-only trained argmax; the quota is the
    // two-phase per-key top-k (StockOps.perKeyTopK — a per-cell window
    // would put a 16th of the corpus through each of 16 tasks at 100 TB);
    // the oracle replays training in SQL and mirrors the hash order.
    Q("sim13_cell_balanced_sample",
      (s, d) => {
        val assigned = assignCells(withNorm(s, d), trainedCentroids(s, d, iters = 2))
          .withColumn("skey", Catalog.docHash(col("vec_id"), 1000000007L))
        StockOps.perKeyTopK(assigned, Seq("cell"), Seq(col("skey"), col("vec_id")), 4)
          .select(col("cell"), col("rk"), col("vec_id"), col("skey"))
          .orderBy("cell", "rk")
      },
      Some(s"""WITH $sqlTrainedAssignCtes
               ${sqlTopK(s"(SELECT cell, vec_id, ${Catalog.sqlDocHash("vec_id", 1000000007L)} AS skey FROM a2)",
                 4, "skey, vec_id", "cell", "CAST(cell AS INT) AS cell, CAST(rk AS INT) AS rk, vec_id, skey")}
               ORDER BY cell, rk"""),
      bench = false),

    // SCALAR QUANTIZATION — the vector-compression move of 100 TB ANN
    // serving (int8 embeddings are 4× smaller than float32, so 4× more of
    // the index fits in executor memory): per-dimension min/max (one
    // two-level aggregate, dims-sized → broadcast back), uniform 8-bit
    // quantize, reconstruct, and the per-vector squared reconstruction
    // error as a floor-scaled exact integer — the quality report that says
    // whether int8 serving is safe. Quantize/reconstruct are map-only; the
    // double arithmetic is mirrored operation-for-operation in the oracle
    // (every step deterministic IEEE), the error sum is exact.
    Q("sim14_scalar_quantization",
      (s, d) => {
        val ex = t(s, d, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .withColumn("x", col("x").cast(DoubleType))
        val rng = ex.groupBy("dim").agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
        ex.join(broadcast(rng), "dim")
          .withColumn("q",
            when(col("hi") > col("lo"),
              least(floor((col("x") - col("lo")) / (col("hi") - col("lo")) * 255).cast(LongType),
                lit(255L)))
              .otherwise(lit(0L)))
          .withColumn("recon",
            col("lo") + col("q").cast(DoubleType) * (col("hi") - col("lo")) / 255)
          .withColumn("err2",
            floor((col("x") - col("recon")) * (col("x") - col("recon")) * lit(SCALE))
              .cast(LongType))
          .groupBy("vec_id")
          .agg(sum(col("err2")).as("sq_err_scaled"), max(col("q")).as("max_code"))
          .orderBy("vec_id")
      },
      Some("""WITH ex AS (
                 SELECT vec_id, dim, CAST(embedding[CAST(dim + 1 AS INT)] AS DOUBLE) AS x
                 FROM embeddings, LATERAL (SELECT UNNEST(range(0, len(embedding))) AS dim) i),
               rng AS (SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM ex GROUP BY dim),
               qz AS (
                 SELECT vec_id,
                        x, lo, hi,
                        CASE WHEN hi > lo
                             THEN LEAST(CAST(FLOOR((x - lo) / (hi - lo) * 255) AS BIGINT), 255)
                             ELSE 0 END AS q
                 FROM ex JOIN rng USING (dim)),
               rc AS (
                 SELECT vec_id, q,
                        CAST(FLOOR((x - (lo + CAST(q AS DOUBLE) * (hi - lo) / 255))
                                   * (x - (lo + CAST(q AS DOUBLE) * (hi - lo) / 255))
                                   * 1e15) AS BIGINT) AS err2
                 FROM qz)
              SELECT vec_id, CAST(SUM(err2) AS BIGINT) AS sq_err_scaled,
                     MAX(q) AS max_code
              FROM rc GROUP BY vec_id ORDER BY vec_id"""),
      bench = false),

    // PRODUCT QUANTIZATION encode — the other classic ANN compression
    // (sim14 is scalar): the 64-dim vector splits into 8 subvectors of 8
    // dims, each encoded as the id of its nearest codeword in a 16-entry
    // per-subspace codebook → 8 nibbles ≈ 4 bytes per vector, a 64×
    // compression of the search structure. Codebooks here are the
    // deterministic corpus sample (the sim03 seed convention — production
    // trains them with the sim07 Lloyd machinery per subspace); encoding
    // is a bounded broadcast join (128 codebook rows) + per-(vector,
    // subspace) argmin, exact floor-scaled L2 so the assignment boundary
    // is engine-exact.
    Q("sim15_pq_encode",
      (s, d) => pqEncoded(s, d).orderBy("vec_id", "subspace"),
      Some(s"""WITH $sqlPqCtes
               SELECT vec_id, CAST(subspace AS INT) AS subspace, code, dist
               FROM codes ORDER BY vec_id, subspace"""),
      bench = false),

    // PQ ASYMMETRIC-DISTANCE SEARCH — the payoff of sim15's encoding and
    // the reason PQ exists at 100 TB: a probe precomputes ONE 8×16 table of
    // exact subspace distances to every codeword (the LUT — probes×128
    // rows, broadcast), and each database vector's approximate distance is
    // then 8 integer table lookups summed — the corpus side never touches
    // floats again. Shape: codes ⋈ broadcast(LUT) on (subspace, code) →
    // per-(probe, vector) integer sum → two-phase per-probe top-3
    // (StockOps.perKeyTopK — 10 probes is exactly the low-cardinality
    // window funnel sim13 eliminated). Every distance is floor-scaled
    // integer math, so ADC scores are engine-exact.
    Q("sim16_pq_adc_search",
      (s, d) => topK(pqAdcScores(s, d), 3, "adc_dist", ascending = true)
        .select("qid", "rk", "vec_id", "adc_dist")
        .orderBy("qid", "rk"),
      Some(s"WITH $sqlPqAdcCtes ${sqlRankedBy("adc", 3, "adc_dist")}")),

    // PQ RECALL — the number that says whether 4-byte codes are safe to
    // serve: recall@3 of sim16's ADC top-3 against the EXACT floor-scaled
    // L2 top-3 (same metric ADC approximates; the sim04 convention, but
    // per probe so the oracle reproduces every recall value, not one
    // average). Truth is corpus × broadcast(10 probes) — the sim01 bounded
    // brute-force shape — ranked by the same two-phase top-k. Measured:
    // ~0.1–0.2 on this corpus — the honest cost of SEED codebooks on
    // near-orthogonal synthetic embeddings (64× compression, distances
    // concentrate); production lifts it by training the codebooks with the
    // sim07 Lloyd machinery per subspace, exactly what sim09 demonstrates
    // for the coarse quantizer. The query exists to surface that number.
    Q("sim17_pq_recall",
      (s, d) => recallByQid(pqL2Truth(s, d), Catalog.byName("sim16_pq_adc_search").build(s, d), 3),
      Some(s"""WITH $sqlPqAdcCtes,
                 adc_top AS (${sqlTopK("adc", 3, "adc_dist, vec_id")}),
                 $sqlPqTruthCtes
              ${sqlRecallByQid("adc_top", 3)}"""),
      bench = false),

    // PQ TRAINING — sim18 closes the quantizer-quality loop the way sim09
    // does for IVF: two Lloyd refinements of the per-subspace codebooks
    // (assignment = the argmin encode; update = ONE 1024-row exact
    // aggregate per iteration) and the per-subspace total distortion under
    // seed vs trained codebooks — the number that shows training the
    // codebooks pays. Distortions are summed as exact DECIMAL(38,0)
    // internally (addition order-free on both engines) but EMITTED as
    // BIGINT: wide decimals above 2^53 hash-diverge in the driver's
    // comparator even when values are bit-identical (round-6 finding), and
    // the measured sums (~4.6e16 at sf0.1) sit comfortably inside int64 —
    // assert_true trips the gate loudly if a future SF ever overflows
    // instead of letting the cast wrap. The oracle replays both Lloyd
    // iterations in SQL (long-form codebook + grouped integer distance
    // sums — order-free, so the grouped form equals the engine's list
    // fold).
    Q("sim18_pq_train",
      (s, d) => {
        val seed = pqEncoded(s, d).groupBy("subspace")
          .agg(sum(col("dist").cast(DecimalType(38, 0))).as("seed_dec"))
        val trained = pqEncodedWith(s, d, pqTrainedCodebook(s, d, iters = 2))
          .groupBy("subspace")
          .agg(sum(col("dist").cast(DecimalType(38, 0))).as("trained_dec"))
        val i64max = lit("9223372036854775807").cast(DecimalType(38, 0))
        seed.join(trained, "subspace")
          .where(assert_true(col("seed_dec") <= i64max && col("trained_dec") <= i64max,
            lit("sim18 distortion exceeds int64 — widen the gate representation")).isNull)
          .select(col("subspace"),
            col("seed_dec").cast(LongType).as("seed_distortion"),
            col("trained_dec").cast(LongType).as("trained_distortion"))
          .orderBy("subspace")
      },
      Some(s"""WITH $sqlPqTrainedCtes
              SELECT CAST(subspace AS INT) AS subspace,
                     CAST(sd.seedd AS BIGINT) AS seed_distortion,
                     CAST(td.traind AS BIGINT) AS trained_distortion
              FROM (SELECT subspace, SUM(CAST(dist AS DECIMAL(38,0))) AS seedd
                    FROM codes GROUP BY 1) sd
              JOIN (SELECT subspace, SUM(CAST(dist AS DECIMAL(38,0))) AS traind
                    FROM codest2 GROUP BY 1) td USING (subspace)
              ORDER BY subspace"""),
      bench = false),

    // PQ SERVING DONE RIGHT — the standard two-stage pipeline: ADC over
    // the compressed codes SHORTLISTS (top-20 — cheap, integer lookups),
    // then the shortlist alone is re-ranked with exact full-vector
    // distances (touches 20 float vectors per probe instead of the
    // corpus). Recall@3 vs the same exact truth as sim17 — rerank recovers
    // most of what raw ADC loses (sim17's number), at 1/100th the float
    // reads of brute force. Candidate and final top-k are both two-phase
    // perKeyTopK.
    Q("sim19_pq_adc_rerank",
      (s, d) => recallByQid(pqL2Truth(s, d), pqAdcRerank(s, d), 3),
      Some(s"""WITH $sqlPqAdcCtes,
                 $sqlPqRerankCtes,
                 $sqlPqTruthCtes
              ${sqlRecallByQid("rr_top", 3)}"""),
      bench = false),

    // IVF-PQ — the two quantizers COMPOSED, the architecture a 100 TB ANN
    // serving tier actually runs: the coarse quantizer prunes the search
    // to each probe's IvfProbe best cells (touches ~probe/cells of the
    // corpus, the sim03 candidate shape), and ONLY those candidates' PQ
    // codes are scanned with the probe's broadcast 8×16 integer LUT — the
    // compressed-domain read is ~4 bytes/vector over a pruned slice, so
    // cost per query is (cells·dim) centroid scores + (corpus·probe/cells)
    // integer lookup-sums, float vectors touched: zero. Every stage is an
    // equi-join or broadcast (cell id; (qid, subspace, code)); the final
    // top-k is the two-phase perKeyTopK. Deterministic integer math end to
    // end, so DuckDB replays coarse assignment, probing, encode, and the
    // pruned ADC sum exactly.
    Q("sim20_ivfpq_search",
      (s, d) => {
        val corpus = withNorm(s, d)
        val cents = ivfCentroids(corpus)
        val cand = assignCells(corpus, cents).select(col("vec_id"), col("cell"))
          .join(broadcast(probeCells(corpus, cents, nProbes = 10).select("qid", "cell")),
            Seq("cell"))
          .where(col("vec_id") =!= col("qid"))
          .select("qid", "vec_id")
        val adc = pqEncoded(s, d).select("vec_id", "subspace", "code")
          .join(cand, "vec_id")
          .join(broadcast(pqAdcLut(s, d)), Seq("qid", "subspace", "code"))
          .groupBy("qid", "vec_id")
          .agg(sum(col("pdist")).as("adc_dist"))
        topK(adc, 3, "adc_dist", ascending = true)
          .select("qid", "rk", "vec_id", "adc_dist")
          .orderBy("qid", "rk")
      },
      Some(s"WITH $sqlIvfPqCtes ${sqlRankedBy("adci", 3, "adc_dist")}")),

    // IVF-PQ recall@3 vs the exact full-vector L2 truth — the number that
    // prices the COMPOSED approximation (cell pruning losses stack on code
    // quantization losses; sim17 prices ADC alone). Per probe, so the
    // oracle reproduces every value, not one average.
    Q("sim21_ivfpq_recall",
      (s, d) => recallByQid(pqL2Truth(s, d), Catalog.byName("sim20_ivfpq_search").build(s, d), 3),
      Some(s"""WITH $sqlIvfPqCtes,
                 iv_top AS (${sqlTopK("adci", 3, "adc_dist, vec_id")}),
                 $sqlPqTruthCtes
              ${sqlRecallByQid("iv_top", 3)}"""),
      bench = false),

    // FILTERED ANN — the metadata-constrained search every production
    // vector store serves ("nearest neighbors WITHIN my class"): sim03's
    // IVF path with a PRE-FILTER on the candidate set — each probe only
    // scores cell-mates sharing its label, so the filter cuts work
    // instead of post-filtering a too-short result list (the classic
    // filtered-ANN failure: top-k then filter returns < k). Same
    // scale shape as sim03 (map-only cell argmax, one equi-join on cell,
    // two-phase per-probe top-k); the label predicate rides the candidate
    // join. The filter drops ~90% of candidates (10 labels), so matched
    // cells must still hold class-mates — recall under filtering is the
    // oracle's own statement, since the oracle applies the identical
    // filter to the identical cell prune.
    Q("sim22_filtered_ann",
      (s, d) => {
        val corpus = withNorm(s, d)
        val cents = ivfCentroids(corpus)
        val qlabels = corpus.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"))
        val probes = probeCells(corpus, cents, 10).join(qlabels, "qid")
        topK(withCos(assignCells(corpus, cents).join(broadcast(probes), Seq("cell"))
            .where(col("vec_id") =!= col("qid") && col("label") === col("qlabel"))), 3)
          .orderBy("qid", "rk")
      },
      Some(s"""WITH $sqlIvfAssignCtes, ${sqlSeedSearchCtes()},
                 fcand AS (
                   SELECT p.qid, s.vec_id
                   FROM pcells p JOIN assigned s ON s.cell = p.cell
                   JOIN embeddings eq ON eq.vec_id = p.qid
                   JOIN embeddings ec ON ec.vec_id = s.vec_id
                   WHERE s.vec_id <> p.qid AND ec.label = eq.label),
                 fscored AS (
                   SELECT fcand.qid, fcand.vec_id, ${sqlCos()} AS cos_sim
                   FROM fcand JOIN nv a ON a.vec_id = fcand.qid
                              JOIN nv b ON b.vec_id = fcand.vec_id)
               ${sqlRanked("fscored", 3)}""")),

    // kNN LABEL CLASSIFICATION — the auto-labeling/annotation pass a
    // curation pipeline runs over unlabeled data: each probe's label is
    // predicted by MAJORITY VOTE of its 5 nearest neighbors (exact cosine,
    // self excluded) and scored against the probe's true label. Both
    // top-k stages ride the two-phase perKeyTopK shape (local rank per
    // input partition, final rank over ≤ k·parts survivors — never a
    // per-probe funnel task); vote ties break (count desc, label asc) and
    // neighbor ties (cos desc, vec_id asc) — the full trajectory is
    // deterministic, so the oracle replays it with two ROW_NUMBER windows.
    // At 100 TB the probe side is the small broadcast and the corpus
    // streams — same cost shape as sim01; the IVF variants (sim03/sim22)
    // are the pruned serving path for bigger probe sets.
    Q("sim23_knn_classify",
      (s, d) => {
        val top = topK(probePairsShared(s, d, 16), 5)
        val lbl = t(s, d, "embeddings").select(col("vec_id"), col("label"))
        val votes = top.join(lbl, "vec_id")
          .groupBy("qid", "label").agg(count(lit(1)).as("n_votes"))
        val pred = StockOps.perKeyTopK(votes,
          Seq("qid"), Seq(desc("n_votes"), col("label")), 1)
          .select(col("qid"), col("label").as("pred_label"), col("n_votes"))
        pred
          .join(lbl.select(col("vec_id").as("qid"), col("label").as("true_label")), "qid")
          .select(col("qid").as("vec_id"), col("true_label"), col("pred_label"),
            col("n_votes").cast(LongType).as("n_votes"),
            (col("pred_label") === col("true_label")).as("correct"))
          .orderBy("vec_id")
      },
      Some(s"""WITH top AS (${sqlTopK(s"(${sqlProbePairs(16)})", 5)}),
                 votes AS (SELECT t.qid, e.label, COUNT(*) AS n_votes
                           FROM top t JOIN embeddings e ON e.vec_id = t.vec_id
                           GROUP BY t.qid, e.label),
                 pred AS (${sqlTopK("votes", 1, "n_votes DESC, label", cols = "qid, label AS pred_label, n_votes")})
               SELECT p.qid AS vec_id, q.label AS true_label, p.pred_label,
                      CAST(p.n_votes AS BIGINT) AS n_votes,
                      (p.pred_label = q.label) AS correct
               FROM pred p JOIN embeddings q ON q.vec_id = p.qid
               ORDER BY vec_id""")),

    // MMR DIVERSIFIED RE-RANKING — Carbonell–Goldstein maximal marginal
    // relevance, the standard result-diversification pass over a retrieval
    // candidate pool (dedup-at-serving-time: don't return 3 near-copies).
    // Greedy: pick the most relevant candidate, then twice more the
    // candidate maximizing 2·rel − max-sim-to-already-selected (λ=½ in
    // doubled form — products/subtractions of identical doubles are exact
    // on both engines, no libm). The pool is the exact top-8 per probe
    // (perKeyTopK two-phase — never a per-probe funnel); the
    // candidate-candidate sim table is a self equi-join ON qid, ≤ K²
    // rows per probe — the pool bound, not the corpus, pays the quadratic.
    // Each greedy step is anti-join (drop selected) + max-aggregate
    // (redundancy) + perKeyTopK(1); ties break on vec_id so the whole
    // trajectory is deterministic and the oracle replays it as CTEs.
    Q("sim24_mmr_rerank",
      (s, d) => {
        val K = 8
        // cand and p feed EVERY greedy step's branches (s1, s2, s3 and the
        // final union) — without a checkpoint each branch re-runs the
        // brute-force probe scan and the candidate pair join (the p05
        // shared-subplan lesson; measured 3.8 s steady-state before, the
        // candidate set is K·probes rows so the checkpoint is tiny)
        val cand = topK(probePairsShared(s, d, 16), K).drop("rk").localCheckpoint()
        val nv = withNorm(s, d).select(col("vec_id"), col("embedding"), col("norm2"))
        val ce = cand.join(nv, "vec_id")
        val p = ce.select(col("qid"), col("vec_id").as("i"),
            col("embedding").as("e1"), col("norm2").as("n1"))
          .join(ce.select(col("qid"), col("vec_id").as("j"),
            col("embedding").as("e2"), col("norm2").as("n2")), Seq("qid"))
          .where(col("i") =!= col("j"))
          .select(col("qid"), col("i"), col("j"),
            cosine(scaledDot(col("e1"), col("e2")), col("n1"), col("n2")).as("sim"))
          .localCheckpoint()
        // each step's winner is LAZILY checkpointed: the ≤16-row frame is
        // consumed by 2-3 downstream branches (anti-join, redundancy join,
        // final union), and without truncation Catalyst replans the whole
        // greedy prefix per consumer — the emitted plan was 1515 lines of
        // mostly repeated subtrees. Lazy (eager=false) so no extra action:
        // the final query's job materializes them in-line.
        def top1(df: org.apache.spark.sql.DataFrame, step: Int) =
          StockOps.perKeyTopK(df, Seq("qid"), Seq(desc("mmr"), col("vec_id")), 1)
            .drop("rk").withColumn("rk", lit(step))
            .localCheckpoint(false)
        val s1 = top1(cand.withColumn("mmr", col("cos_sim") * 2), 1)
        def step(sel: org.apache.spark.sql.DataFrame, k: Int) = {
          val selIds = sel.select(col("qid"), col("vec_id"))
          val rem = cand.join(selIds, Seq("qid", "vec_id"), "left_anti")
          val red = p.join(selIds.withColumnRenamed("vec_id", "j"), Seq("qid", "j"))
            .groupBy("qid", "i").agg(max("sim").as("red"))
            .withColumnRenamed("i", "vec_id")
          top1(rem.join(red, Seq("qid", "vec_id"))
            .withColumn("mmr", col("cos_sim") * 2 - col("red")).drop("red"), k)
        }
        val s2 = step(s1, 2)
        val s3 = step(s1.unionByName(s2), 3)
        s1.unionByName(s2).unionByName(s3)
          .select(col("qid"), col("rk"), col("vec_id"), col("cos_sim"), col("mmr"))
          .orderBy("qid", "rk")
      },
      Some(s"""WITH cand AS (${sqlTopK(s"(${sqlProbePairs(16)})", 8, cols = "qid, vec_id, cos_sim")}),
               ce AS (SELECT c.qid, c.vec_id, c.cos_sim, n.embedding, n.norm2
                      FROM cand c JOIN (SELECT vec_id, embedding, $sqlNorm2 AS norm2
                                        FROM embeddings) n USING (vec_id)),
               p AS (SELECT a.qid, a.vec_id AS i, b.vec_id AS j, ${sqlCos()} AS sim
                     FROM ce a JOIN ce b ON a.qid = b.qid AND a.vec_id <> b.vec_id),
               s1 AS (${sqlTopK("cand", 1, cols = "qid, vec_id, cos_sim, 2 * cos_sim AS mmr")}),
               r2 AS (SELECT p.qid, p.i AS vec_id, MAX(p.sim) AS red
                      FROM p JOIN s1 ON s1.qid = p.qid AND s1.vec_id = p.j GROUP BY 1, 2),
               s2 AS (${sqlMmrStep("r2", "s1")}),
               s12 AS (SELECT qid, vec_id FROM s1 UNION ALL SELECT qid, vec_id FROM s2),
               r3 AS (SELECT p.qid, p.i AS vec_id, MAX(p.sim) AS red
                      FROM p JOIN s12 s ON s.qid = p.qid AND s.vec_id = p.j GROUP BY 1, 2),
               s3 AS (${sqlMmrStep("r3", "s12")})
               SELECT qid, rk, vec_id, cos_sim, mmr FROM (
                 SELECT qid, 1 AS rk, vec_id, cos_sim, mmr FROM s1
                 UNION ALL SELECT qid, 2, vec_id, cos_sim, mmr FROM s2
                 UNION ALL SELECT qid, 3, vec_id, cos_sim, mmr FROM s3)
               ORDER BY qid, rk""")),

    // MATRYOSHKA TRUNCATION RECALL — price the MRL-style move every
    // large-scale vector pipeline weighs: search on only the FIRST
    // [[MrlDims]] of 64 dimensions (4× cheaper dot products, 4× smaller
    // index) and measure per-probe recall@3 against full-dimension exact
    // truth (the sim17/sim21 pricing shape). Both searches are the
    // broadcast-probe brute-force baseline (bounded probe block, corpus
    // streams, top-k via two-phase perKeyTopK); truncated norms are
    // recomputed on the sliced vectors — never reused from the full ones.
    Q("sim25_matryoshka_recall",
      (s, d) => {
        val nProbes = 10
        val truncCorpus = withNormOf(t(s, d, "embeddings")
          .select(col("vec_id"), slice(col("embedding"), 1, MrlDims).as("embedding")))
        val truncTop = topK(pairsOf(truncCorpus, nProbes), 3).select("qid", "vec_id")
        bruteTruth(s, d, nProbes, 3).join(truncTop.withColumn("hit", lit(1L)), Seq("qid", "vec_id"), "left")
          .groupBy("qid")
          .agg(count(lit(1)).as("n_truth"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .withColumn("recall", col("n_hit").cast(DoubleType) / col("n_truth"))
          .orderBy("qid")
      },
      Some(s"""WITH nv AS (SELECT vec_id, embedding, $sqlNorm2 AS norm2 FROM embeddings),
                 tv0 AS (SELECT vec_id, embedding[1:$MrlDims] AS embedding FROM embeddings),
                 tn AS (SELECT vec_id, embedding, $sqlNorm2 AS norm2 FROM tv0),
                 tp AS (${sqlProbeCos(10, "tn")}),
                 ttop AS (${sqlTopK("tp", 3)}),
                 fp AS (${sqlProbeCos(10)}),
                 ftop AS (${sqlTopK("fp", 3)})
               SELECT f.qid, COUNT(*) AS n_truth,
                      CAST(COUNT(t.vec_id) AS BIGINT) AS n_hit,
                      CAST(COUNT(t.vec_id) AS DOUBLE) / COUNT(*) AS recall
               FROM ftop f LEFT JOIN ttop t ON t.qid = f.qid AND t.vec_id = f.vec_id
               GROUP BY f.qid ORDER BY f.qid""")),

    // SCALAR-QUANTIZATION SERVING — the search that makes sim14's int8
    // codes useful (the sim16 move for the OTHER classic compression): the
    // probe keeps its float vector, the corpus is the int8 encode∘decode
    // reconstruction (4× smaller index in executor memory), distance is
    // the exact floor-scaled L2 against the reconstructed values —
    // asymmetric, so only the stored side pays quantization error.
    // Shape: map-only reconstruct (ranges are a dims-sized literal — no
    // join), corpus × broadcast(10 probes), two-phase per-probe top-3.
    // Every per-dim term is engine-exact, so ranks are hash-comparable.
    Q("sim26_sq_adc_search",
      (s, d) => {
        val (lo, hi) = sqRanges(s, d)
        val emb = t(s, d, "embeddings")
        val recon = emb.select(col("vec_id"), sqReconOf(col("embedding"), lo, hi).as("recon"))
        val probes = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val scored = recon.join(broadcast(probes), col("vec_id") =!= col("qid"))
          .withColumn("sq_dist", scaledL2(col("qvec"), col("recon")))
          .select("qid", "vec_id", "sq_dist")
        topK(scored, 3, "sq_dist", ascending = true)
          .select("qid", "rk", "vec_id", "sq_dist")
          .orderBy("qid", "rk")
      },
      Some(s"WITH $sqlSqAdcCtes ${sqlRankedBy("adcsq", 3, "sq_dist")}")),

    // SQ RECALL — the safety number for int8 serving: recall@3 of sim26
    // against the exact full-precision L2 truth (the same truth sim17/19
    // grade PQ against, so the two compressions are directly comparable:
    // int8 keeps ~64 bytes/vector vs PQ's 4 and should land near-perfect
    // recall where seed-codebook PQ lands ~0.1–0.2 — the compression ↔
    // recall trade made measurable).
    Q("sim27_sq_recall",
      (s, d) => recallByQid(pqL2Truth(s, d), Catalog.byName("sim26_sq_adc_search").build(s, d), 3),
      Some(s"""WITH $sqlSqAdcCtes,
                 sq_top AS (${sqlTopK("adcsq", 3, "sq_dist, vec_id")}),
                 $sqlPqTruthCtes
              ${sqlRecallByQid("sq_top", 3)}"""),
      bench = false),

    // QUANTIZATION PARETO — the serving decision in one table: mean
    // recall@3 vs index bytes/vector for every compression the engine
    // implements, all graded against the SAME exact full-precision truth
    // (so the rows are directly comparable): PQ-ADC (4 B), PQ-ADC with
    // exact top-20 rerank (4 B index + 20 float reads/probe), 1-bit
    // binary-hamming (8 B, sim29's signatures), int8 SQ (64 B), and the
    // uncompressed exact search (256 B, recall 1 by
    // construction — the anchor row). Each row is a bounded 1-row
    // aggregate (the p05 report shape); every underlying search is the
    // already-verified sim16/19/26 machinery.
    Q("sim28_quantization_pareto",
      (s, d) => {
        val truth = pqL2Truth(s, d)
        def row(method: String, bytes: Int, top: DataFrame): DataFrame =
          truth.join(top.select(col("qid"), col("vec_id"), lit(1).as("hit")),
              Seq("qid", "vec_id"), "left")
            .agg((sum(coalesce(col("hit"), lit(0))).cast(DoubleType) / 30).as("mean_recall"))
            .select(lit(method).as("method"), lit(bytes).as("bytes_per_vec"),
              col("mean_recall"))
        val adcTop = Catalog.byName("sim16_pq_adc_search").build(s, d).select("qid", "vec_id")
        val rrTop = pqAdcRerank(s, d).select("qid", "vec_id")
        val sqTop = Catalog.byName("sim26_sq_adc_search").build(s, d).select("qid", "vec_id")
        val binTop = topK(binHamScores(s, d), 3, "hamming", ascending = true).select("qid", "vec_id")
        row("pq_adc", 4, adcTop)
          .union(row("pq_adc_rerank", 4, rrTop))
          .union(row("binary_hamming", 8, binTop))
          .union(row("sq_adc", 64, sqTop))
          .union(row("full_float", 256, truth))
          .orderBy("bytes_per_vec", "method")
      },
      Some(s"""WITH $sqlPqAdcCtes,
                 $sqlSqAdcCtes,
                 $sqlBinHamCtes,
                 $sqlPqTruthCtes,
                 bintop AS (${sqlTopK("bham", 3, "hamming, vec_id")}),
                 adctop AS (${sqlTopK("adc", 3, "adc_dist, vec_id")}),
                 $sqlPqRerankCtes,
                 sqtop AS (${sqlTopK("adcsq", 3, "sq_dist, vec_id")})
              SELECT method, bytes_per_vec, mean_recall FROM (
                SELECT 'pq_adc' AS method, 4 AS bytes_per_vec,
                       CAST(COUNT(a.vec_id) AS DOUBLE) / 30 AS mean_recall
                FROM truth t LEFT JOIN adctop a ON a.qid = t.qid AND a.vec_id = t.vec_id
                UNION ALL
                SELECT 'pq_adc_rerank', 4, CAST(COUNT(a.vec_id) AS DOUBLE) / 30
                FROM truth t LEFT JOIN rr_top a ON a.qid = t.qid AND a.vec_id = t.vec_id
                UNION ALL
                SELECT 'binary_hamming', 8, CAST(COUNT(a.vec_id) AS DOUBLE) / 30
                FROM truth t LEFT JOIN bintop a ON a.qid = t.qid AND a.vec_id = t.vec_id
                UNION ALL
                SELECT 'sq_adc', 64, CAST(COUNT(a.vec_id) AS DOUBLE) / 30
                FROM truth t LEFT JOIN sqtop a ON a.qid = t.qid AND a.vec_id = t.vec_id
                UNION ALL
                SELECT 'full_float', 256, CAST(COUNT(*) AS DOUBLE) / 30 FROM truth)
              ORDER BY bytes_per_vec, method"""),
      bench = false),

    // BINARY (1-BIT) QUANTIZED SEARCH — the extreme compression point:
    // each vector collapses to its 64 sign bits (8 bytes, a 32×
    // reduction), distance is symmetric hamming (one XOR + popcount per
    // pair — the cheapest possible scan). Map-only signatures, bounded
    // broadcast probes, two-phase per-probe top-3; at corpus scale the
    // scan side bands the word into 16-bit equi-join keys (the d08
    // move). Recall joins the sim28 pareto as the 8-byte row.
    Q("sim29_binary_search",
      (s, d) => topK(binHamScores(s, d), 3, "hamming", ascending = true)
        .select("qid", "rk", "vec_id", "hamming")
        .orderBy("qid", "rk"),
      Some(s"WITH $sqlBinHamCtes ${sqlRankedBy("bham", 3, "hamming")}")),

    // RANGE (radius) SEARCH — the similarity query top-k cannot answer:
    // ALL corpus vectors within a fixed cosine radius of each probe
    // (FAISS/Milvus `range_search`; the shape behind "every document at
    // least this close to the query"). Same bounded-probe broadcast scan
    // as sim01 — probes broadcast, corpus streams, zero shuffle on the
    // corpus side — but the result is RADIUS-bounded, not k-bounded, so
    // the per-probe `n_in_range` count rides along (computed by a tiny
    // post-filter aggregate + broadcast join back, NOT a window over the
    // low-cardinality qid — the t20 lesson): it is the caller's guard
    // against a radius that explodes at corpus scale. Exact
    // integer-scaled cosine → direct DuckDB oracle.
    Q("sim30_range_search",
      (s, d) => {
        val pairs = probePairsShared(s, d, 10)
          .where(col("cos_sim") >= RangeTau)
          .select("qid", "vec_id", "cos_sim")
        val cnt = pairs.groupBy("qid").agg(count(lit(1)).as("n_in_range"))
        pairs.join(broadcast(cnt), "qid")
          .select("qid", "vec_id", "cos_sim", "n_in_range")
          .orderBy("qid", "vec_id")
      },
      Some(s"""WITH pp AS (${sqlProbePairs(10)})
              SELECT qid, vec_id, cos_sim,
                     CAST(COUNT(*) OVER (PARTITION BY qid) AS BIGINT) AS n_in_range
              FROM pp WHERE cos_sim >= $RangeTau
              ORDER BY qid, vec_id""")),

    // NPROBE SWEEP — the IVF serving pareto: recall@3 vs the number of
    // probed cells (1, 2, 4, 8), all under the sim03 seed centroids and
    // all graded against the SAME exact brute-force truth. nprobe is THE
    // knob an IVF deployment turns at 100 TB — candidates scanned scale
    // linearly with it while recall saturates — and this query prices
    // each setting the way sim28 prices the quantizers. Four bounded
    // searches (each the sim03 bucketed shape) + driver-side hit counts
    // (the sim09 convention, 4 small counts); truth is checkpointed once
    // and reused across the sweep.
    Q("sim31_nprobe_sweep",
      (s, d) => {
        val cents = ivfCentroids(withNorm(s, d))
        val grade = recallOf(bruteTruth(s, d, 10, 3).localCheckpoint())
        recallRows(s, "nprobe", Seq(1, 2, 4, 8).map(p =>
          p -> grade(ivfSearch(s, d, cents, nProbes = 10, k = 3, probe = p))))
      },
      Some {
        val sweep = Seq(1, 2, 4, 8).map(p =>
          s"${sqlSeedSearchCtes(p, s"_$p")}, top_$p AS (${sqlTopK(s"iscored_$p", 3)})")
        s"""WITH $sqlIvfAssignCtes, ${sqlBruteTruthCtes(10, 3)},
              ${sweep.mkString(",\n")}
           ${sqlRecallRows("nprobe", Seq(1, 2, 4, 8).map(p => (s"$p", s"top_$p", "brute_top")))}"""
      },
      bench = false),

    // ASSIGNMENT CHURN — the cluster-stability report a training pipeline
    // reads before trusting a quantizer snapshot: between Lloyd iteration
    // 1 and iteration 2, which cells exchanged vectors and how many held
    // still (the full before×after transition matrix; the diagonal is the
    // stable mass, off-diagonal the churn — a quantizer still moving
    // vectors wholesale is not ready to serve sim11's persisted index).
    // Scale shape: two map-only trained-argmax assignment scans (the
    // sim08 kernel path — centroids are collected 16-row artifacts,
    // re-broadcast as codegen reference objects) + ONE equi-join on the
    // unique vec_id + a map-side-combined aggregate whose output is ≤
    // cells² rows. The oracle replays both training iterations in SQL
    // (the sim07 trajectory CTEs) and joins a1 to a2 — both engines
    // reproduce the identical trajectory bit-for-bit.
    Q("sim32_assignment_churn",
      (s, d) => {
        val corpus = withNorm(s, d)
        val a1 = assignCells(corpus, trainedCentroids(s, d, iters = 1))
          .select(col("vec_id"), col("cell").as("cell_before"))
        val a2 = assignCells(corpus, trainedCentroids(s, d, iters = 2))
          .select(col("vec_id"), col("cell").as("cell_after"))
        a1.join(a2, "vec_id")
          .groupBy("cell_before", "cell_after")
          .agg(count(lit(1)).as("n_vecs"))
          .orderBy("cell_before", "cell_after")
      },
      Some(s"""WITH $sqlTrainedAssignCtes
               SELECT CAST(x.cell AS INT) AS cell_before,
                      CAST(y.cell AS INT) AS cell_after,
                      COUNT(*) AS n_vecs
               FROM a1 x JOIN a2 y USING (vec_id)
               GROUP BY 1, 2 ORDER BY 1, 2"""),
      bench = false),

    // CELL-BALANCE REPORT — the serving-capacity audit of the trained
    // quantizer (k08's skew diagnosis applied to the IVF index): per cell,
    // its member count, corpus share in exact ppm, and whether it is HOT
    // (more than 2× the perfectly-even share — the cells that become
    // probe-latency stragglers and, at 100 TB, the ones a deployment
    // splits or re-seeds). One map-only trained-assignment scan + a
    // cells-sized aggregate + the 1-row total normalizer (c16 pattern,
    // allowlisted); the hot test is exact integer cross-multiplication.
    // The oracle replays the two-iteration training trajectory.
    Q("sim33_cell_balance",
      (s, d) => {
        val a2 = assignCells(withNorm(s, d), trainedCentroids(s, d, iters = 2))
        val per = a2.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
        val tot = per.agg(sum("n_vecs").as("__n"), count(lit(1)).as("__cells"))
        per.crossJoin(broadcast(tot))
          .select(col("cell"), col("n_vecs"),
            expr("n_vecs * 1000000 div __n").as("share_ppm"),
            (col("n_vecs") * col("__cells") > col("__n") * 2).as("is_hot"))
          .orderBy("cell")
      },
      Some(s"""WITH $sqlTrainedAssignCtes,
                 per AS (SELECT cell, COUNT(*) AS n_vecs FROM a2 GROUP BY 1),
                 tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n, COUNT(*) AS cells FROM per)
               SELECT CAST(cell AS INT) AS cell, n_vecs,
                      n_vecs * 1000000 // (SELECT n FROM tot) AS share_ppm,
                      n_vecs * (SELECT cells FROM tot) > (SELECT n FROM tot) * 2 AS is_hot
               FROM per ORDER BY cell"""),
      bench = false),

    // HYBRID RETRIEVAL (RRF fusion) — the modern RAG serving shape: ONE
    // query answered by BOTH a lexical ranking (t22's integer-idf keyword
    // scores — term for term) and a dense ranking (exact cosine from
    // probe vector 0, the sim01 broadcast-probe shape), fused by
    // Reciprocal Rank Fusion. RRF is rank-only — which is exactly why it
    // is engine-exact here: each contribution is the INTEGER
    // floor(1e9/(60+rank)), so no float score mixing can diverge. The
    // dense top-20 is the kit's per-probe topK; the one query's lexical
    // top-20 is a sort-limit ranked on the driver; the fusion is a
    // full-outer join of two ≤20-row lists. Note the designed asymmetry: the probe document
    // itself can surface lexically but never as its own dense neighbor.
    Q("sim34_hybrid_rrf",
      (s, d) => {
        val kwScores = TextOps.keywordTfWeights(s, d, TextOps.KeywordTerms)
          .groupBy("doc_id").agg(sum(col("tf") * col("weight")).as("kw_score"))
        // the one query's lexical top-HybridK is ranked on the driver: a
        // bounded sort-limit and a ≤ HybridK-row collect, not a window over
        // one constant key (which Catalyst plans without a partition)
        val kwTop = kwScores.orderBy(desc("kw_score"), col("doc_id")).limit(HybridK)
          .select("doc_id").collect().map(_.getLong(0))
        import s.implicits._
        val kwRank = kwTop.toSeq.zipWithIndex.map { case (id, i) => (id, i + 1) }
          .toDF("doc_id", "kw_rank")
        val vecRank = topK(probePairsShared(s, d, 1), HybridK, rank = "vec_rank")
          .select(col("vec_id").as("doc_id"), col("vec_rank"))
        kwRank.join(vecRank, Seq("doc_id"), "full_outer")
          .withColumn("rrf",
            coalesce(expr("1000000000 div (60 + kw_rank)"), lit(0L)) +
              coalesce(expr("1000000000 div (60 + vec_rank)"), lit(0L)))
          .orderBy(desc("rrf"), col("doc_id")).limit(10)
          .select("doc_id", "kw_rank", "vec_rank", "rrf")
      },
      Some(s"""WITH tt AS (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
                 qt AS (SELECT doc_id, tok FROM tt WHERE tok IN ('spark', 'join', 'stream')),
                 tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM qt GROUP BY 1, 2),
                 w AS (SELECT tok, ((SELECT COUNT(*) FROM documents) * 1000000) // COUNT(*) AS weight
                       FROM tf GROUP BY tok),
                 kw AS (SELECT doc_id, CAST(SUM(tf.tf * w.weight) AS BIGINT) AS kw_score
                        FROM tf JOIN w USING (tok) GROUP BY doc_id),
                 kwr AS (SELECT doc_id, kw_rank FROM (
                           SELECT doc_id,
                                  CAST(ROW_NUMBER() OVER (ORDER BY kw_score DESC, doc_id) AS INT) AS kw_rank
                           FROM kw) WHERE kw_rank <= $HybridK),
                 bp AS (${sqlProbePairs(1)}),
                 vr AS (SELECT vec_id AS doc_id, vec_rank FROM (
                          SELECT vec_id,
                                 CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS INT) AS vec_rank
                          FROM bp) WHERE vec_rank <= $HybridK)
               SELECT COALESCE(kwr.doc_id, vr.doc_id) AS doc_id, kw_rank, vec_rank,
                      CAST(COALESCE(1000000000 // (60 + kw_rank), 0)
                           + COALESCE(1000000000 // (60 + vec_rank), 0) AS BIGINT) AS rrf
               FROM kwr FULL OUTER JOIN vr ON kwr.doc_id = vr.doc_id
               ORDER BY rrf DESC, doc_id LIMIT 10"""),
      bench = false),

    // HOT-CELL SPLIT — the REMEDIATION sim33's diagnosis calls for (the
    // k01/k08 relationship, applied to the index): the trained
    // quantizer's hottest cell is re-quantized in place — its two lowest
    // member ids seed two sub-centroids (the ivfCentroids convention),
    // one exact-DECIMAL Lloyd refinement runs on the members only, and
    // the report shows how the hot mass re-divides. Scale shape: the hot
    // pick is a cells-sized aggregate; the split touches ONLY the hot
    // cell's members (map-only argmax + one bounded two-level sum —
    // exactly the incremental cost a serving tier pays to split a cell
    // without retraining the corpus). The oracle replays the full
    // trajectory: outer 2-iteration training, hot selection, sub-seed
    // assignment, the sub-Lloyd iteration, and the refined assignment —
    // every step the engine-exact integer convention (sub-CTEs suffixed:
    // the p02 name-collision lesson).
    Q("sim35_hot_cell_split",
      (s, d) => {
        val corpus = withNorm(s, d)
        val a2 = assignCells(corpus, trainedCentroids(s, d, iters = 2))
        val hot = a2.groupBy("cell").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("cell")).limit(1).collect()(0)
        val hotCell = hot.getInt(0)
        val hotN = hot.getLong(1)
        val members = a2.where(col("cell") === hotCell)
          .select("vec_id", "embedding", "norm2").localCheckpoint()
        val seedRows = members.orderBy("vec_id").limit(2).collect()
        require(seedRows.length == 2, s"hot cell $hotCell has < 2 members")
        val seeds = seedRows.map(r =>
          (r.getSeq[Float](1).toArray.map(_.toDouble), r.getLong(2)))
        val sums = lloydSums(members, seeds).collect()
        require(sums.iterator.map(_.getInt(0)).toSet.size == 2,
          "a sub-cell emptied at the seed stage — re-seed required")
        val refined = centroidsFrom(sums, cells = 2)
        assignCells(members, refined)
          .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
          .select(lit(hotCell).as("parent_cell"), lit(hotN).as("parent_n"),
            col("cell").as("subcell"), col("n_vecs"))
          .orderBy("subcell")
      },
      Some(s"""WITH $sqlTrainedAssignCtes,
                 hper AS (SELECT cell, COUNT(*) AS n FROM a2 GROUP BY 1),
                 hot AS (SELECT cell, n FROM hper ORDER BY n DESC, cell LIMIT 1),
                 mem AS (SELECT nv.vec_id, nv.embedding, nv.norm2
                         FROM a2 JOIN nv USING (vec_id)
                         WHERE a2.cell = (SELECT cell FROM hot)),
                 sseed AS (SELECT vec_id, embedding, norm2,
                                  CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS sc
                           FROM (SELECT * FROM mem ORDER BY vec_id LIMIT 2)),
                 subss AS (
                   SELECT m.vec_id, s.sc, ${sqlDotOf("m", "s")} / SQRT(CAST(s.norm2 AS DOUBLE)) AS score
                   FROM mem m CROSS JOIN sseed s),
                 suba0 AS (${sqlTopK("subss", 1, "score DESC, sc", "vec_id", "vec_id, sc")}),
                 subsum AS (
                   SELECT a.sc, i.dim, COUNT(*) AS n_members,
                          SUM(CAST(FLOOR(CAST(m.embedding[CAST(i.dim + 1 AS INT)] AS DOUBLE) * 1e15) AS BIGINT)) AS ssum
                   FROM suba0 a JOIN mem m USING (vec_id),
                        LATERAL (SELECT UNNEST(range(0, len(m.embedding))) AS dim) i
                   GROUP BY 1, 2),
                 subc AS (SELECT sc, dim, CAST(CAST(ssum AS BIGINT) AS DOUBLE) / (n_members * 1e15) AS cval
                          FROM subsum),
                 subcn AS (SELECT sc, CAST(SUM(CAST(FLOOR(cval * cval * 1e15) AS BIGINT)) AS BIGINT) AS norm2
                           FROM subc GROUP BY 1),
                 subsc AS (
                   SELECT m.vec_id, c.sc,
                          CAST(SUM(CAST(FLOOR(CAST(m.embedding[CAST(c.dim + 1 AS INT)] AS DOUBLE) * c.cval * 1e15) AS BIGINT)) AS BIGINT) AS dot
                   FROM mem m CROSS JOIN subc c GROUP BY 1, 2),
                 suba1 AS (${sqlTopK("subsc s JOIN subcn n USING (sc)", 1,
                   "CAST(s.dot AS DOUBLE) / SQRT(CAST(n.norm2 AS DOUBLE)) DESC, s.sc", "s.vec_id", "vec_id, sc")})
               SELECT CAST((SELECT cell FROM hot) AS INT) AS parent_cell,
                      (SELECT n FROM hot) AS parent_n,
                      CAST(sc AS INT) AS subcell, COUNT(*) AS n_vecs
               FROM suba1 GROUP BY 3 ORDER BY subcell"""),
      bench = false),

    // (knnTop builds the ranked edge table shared by sim36/sim37/sim38 —
    // defined below `all`.)
    //
    // k-NN GRAPH CONSTRUCTION — the precursor of every graph-ANN
    // (HNSW/NSW-class) serving structure: for each vector, its k=4 exact
    // nearest neighbors with candidates BOUNDED BY THE TRAINED IVF CELL
    // (the sim10 pair space — Σ n_cell² pairs set by cell granularity,
    // never corpus-wide O(n²); a cross-cell true neighbor is the method's
    // documented miss, priced by sim09's recall). Within-cell pairs are an
    // equi-join on the cell id, exact integer cosine, and the per-node
    // top-k rides perKeyTopK (two-phase, no one-task-per-key window).
    // Oracle: DuckDB replays the full training trajectory (a2) and the
    // within-cell ranking.
    Q("sim36_knn_graph",
      (s, d) => knnTop(s, d)
        .select(col("u").as("vec_id"), col("rank"), col("v").as("nbr_id"), col("cos_sim"))
        .orderBy("vec_id", "rank"),
      Some(s"""WITH $sqlTrainedAssignCtes, $sqlKnnCtes
               SELECT u AS vec_id, CAST(rk AS INT) AS rank, v AS nbr_id, cos_sim
               FROM ktop WHERE rk <= $KnnK ORDER BY vec_id, rank"""),
      bench = false),

    // k-NN GRAPH CONNECTIVITY — the serviceability report of sim36's
    // graph: a graph-ANN walk can only reach what is connected, so the
    // component structure (count, largest, and how many vectors never
    // enter the graph because their cell is a singleton) is the number
    // that says whether greedy search needs multiple entry points.
    // Undirected components over the symmetrized k-NN edges via the d06
    // min-label propagation (O(log diameter) rounds); the oracle replays
    // the edges from the trained assignment and closes them with a
    // recursive CTE.
    Q("sim37_knn_connectivity",
      (s, d) => {
        val knn = Catalog.byName("sim36_knn_graph").build(s, d)
        val pairs = knn.select(least(col("vec_id"), col("nbr_id")).as("da"),
            greatest(col("vec_id"), col("nbr_id")).as("db")).distinct()
        val cc = DedupOps.connectedComponents(pairs, maxIter = 20)
        val comp = cc.groupBy("label").agg(count(lit(1)).as("csize"))
        val nTotal = withNorm(s, d).select(countDistinct(col("vec_id")).as("n_corpus"))
        comp.agg(
            sum(col("csize")).cast(LongType).as("n_in_graph"),
            count(lit(1)).cast(LongType).as("n_components"),
            max(col("csize")).cast(LongType).as("largest_component"))
          .crossJoin(broadcast(nTotal))
          .select(col("n_corpus"), col("n_in_graph"),
            (col("n_corpus") - col("n_in_graph")).as("n_isolated"),
            col("n_components"), col("largest_component"))
      },
      Some(s"""WITH RECURSIVE $sqlTrainedAssignCtes, $sqlKnnCtes,
                 kreach(id, r) AS (
                   SELECT u, u FROM kedges
                   UNION
                   SELECT e.u, rr.r FROM kedges e JOIN kreach rr ON e.v = rr.id),
                 kcomp AS (SELECT id, MIN(r) AS label FROM kreach GROUP BY id),
                 ksizes AS (SELECT label, COUNT(*) AS csize FROM kcomp GROUP BY label)
               SELECT (SELECT COUNT(DISTINCT vec_id) FROM nv) AS n_corpus,
                      CAST(SUM(csize) AS BIGINT) AS n_in_graph,
                      (SELECT COUNT(DISTINCT vec_id) FROM nv) - CAST(SUM(csize) AS BIGINT) AS n_isolated,
                      CAST(COUNT(*) AS BIGINT) AS n_components,
                      CAST(MAX(csize) AS BIGINT) AS largest_component
               FROM ksizes"""),
      bench = false),

    // GRAPH-ANN GREEDY BEAM SEARCH — serving FROM sim36's k-NN graph, the
    // HNSW/NSW-class navigation step: every probe starts at ONE ENTRY PER
    // COMPONENT (query-independent, the multi-entry remedy sim37's
    // connectivity report exists to motivate — a single global entry
    // walked recall@3 = 0.1 here because other components are
    // unreachable), then 3 hops of keep-the-best beam search (beam 4):
    // candidates = frontier ∪ its out-neighbors over the SYMMETRIZED
    // edges, rescored against the probe, top-beam survives. Per-query
    // work is O(hops × beam × k + entries) with entries bounded by the
    // component count (set by cell granularity) — INDEPENDENT of corpus
    // size, the property that makes graph ANN the serving path when even
    // IVF's cell scan is too much. The emitted top-3 carries the walk's
    // cos_sim so sim39's recall is readable against exact truth. The
    // oracle replays training, graph build, the component closure, and
    // every hop.
    Q("sim38_graph_ann_walk",
      (s, d) => {
        topK(walkFrontiers(s, d).last._2, 3, rank = "rank")
          .select(col("qid"), col("rank"), col("vec_id"), col("cos_sim"))
          .orderBy("qid", "rank")
      },
      Some(s"""WITH RECURSIVE $sqlWalkCtes
               ${sqlTopK(s"wf$WalkHops", 3, cols = sqlWalkRanked)} ORDER BY qid, rank"""),
      bench = false),

    // Recall@3 of the GRAPH WALK vs exact brute force — sim09's pricing
    // convention applied to sim38: the number that says what 3 hops from
    // the per-component entries buy (and what the documented misses —
    // cross-cell edges absent from the graph, hop-limited reach — cost;
    // the single-entry variant measured 0.1 here, the multi-entry walk is
    // the remediation sim37 motivates). Hard
    // oracle: DuckDB recomputes brute-force truth AND replays the full
    // walk, so the recall NUMBER itself is cross-engine-verified.
    Q("sim39_walk_recall",
      (s, d) => recallRows(s, "method", Seq("graph_walk" ->
        recallOf(bruteTruth(s, d, 10, 3))(Catalog.byName("sim38_graph_ann_walk").build(s, d)))),
      Some(s"""WITH RECURSIVE $sqlWalkCtes,
                 walk_top AS (${sqlTopK(s"wf$WalkHops", 3)}),
                 ${sqlBruteTruthCtes(10, 3)}
               ${sqlRecallRows("method", Seq(("'graph_walk'", "walk_top", "brute_top")))}"""),
      bench = false),

    // Hop-count SWEEP — sim31's knob-pricing convention applied to the
    // walk: recall@3 after each hop 1…WalkHops, the curve an operator
    // consults when trading serving latency (hops × beam × k candidate
    // lookups) against recall. Each hop's frontier is priced against the
    // same brute-force truth; the oracle replays every hop and reads out
    // all of them. (On this fixture the curve saturates at hop 1 —
    // per-component entries already sit near every probe's truth at
    // ≤16-cell granularity; the per-hop machinery is what is pinned, and
    // a production cell count makes the curve informative.)
    Q("sim40_walk_hop_sweep",
      (s, d) => {
        val grade = recallOf(bruteTruth(s, d, 10, 3).localCheckpoint())
        recallRows(s, "hops", walkFrontiers(s, d).map { case (h, frontier) =>
          h -> grade(topK(frontier, 3)) })
      },
      Some(s"""WITH RECURSIVE $sqlWalkCtes,
                 ${sqlBruteTruthCtes(10, 3)},
                 ${(1 to WalkHops).map(h => s"wtop$h AS (${sqlTopK(s"wf$h", 3)})").mkString(",\n")}
               ${sqlRecallRows("hops", (1 to WalkHops).map(h => (s"$h", s"wtop$h", "brute_top")))}"""),
      bench = false),

    // SERVING UNDER DELETION — the ANN half of the p12 deletion-propagation
    // story: the same deletion selector (docHash(id, 20) = 0, p12's
    // embeddings artifact) applied to the PERSISTED trained-IVF index.
    // Deleted vectors are tombstoned, never rewritten: the cell-pruned
    // index scan anti-joins the (bounded, broadcast) tombstone set at
    // serve time, deleted probes stop being served, and surviving probes'
    // top-3 re-rank over the survivors — at this fixture probe 0 drops out
    // AND two surviving probes change an answer row, so both effects are
    // exercised, not just possible. Laws require()d in-build: no deleted
    // id may appear as a probe or a result, every surviving probe still
    // fills k slots, and the served table must actually DIFFER from the
    // undeleted serve (a tombstone join that silently no-ops would pass
    // every other check). Oracle: the sim08/sim11 trained-search replay
    // with the deletion filter applied to probes and candidates — same
    // centroids (deletion does not retrain the quantizer; sim32 prices
    // assignment churn when one does).
    Q("sim41_ivf_delete_serve",
      (s, d) => {
        val k = 3
        val dels = withNorm(s, d).where(docHash(col("vec_id"), 20) === 0)
          .select("vec_id").localCheckpoint()
        val live = serveIvfIndexed(s, d, withNorm(s, d), nProbes = 10,
          tombstones = Some(dels)).localCheckpoint()
        require(live.join(dels, Seq("vec_id"), "left_semi").count() == 0,
          "a tombstoned vector was served as a result")
        require(live.join(dels.select(col("vec_id").as("qid")), Seq("qid"), "left_semi")
          .count() == 0, "a tombstoned probe was still served")
        val nProbesLive = live.select("qid").distinct().count()
        require(live.count() == nProbesLive * k,
          s"a surviving probe no longer fills $k result slots")
        val full = serveIvfIndexed(s, d, withNorm(s, d), nProbes = 10)
        require(live.exceptAll(full).count() > 0,
          "deletion changed no served row — the tombstone path was vacuous")
        live
      },
      Some(s"""WITH $sqlTrainedSearchCtes,
                 sdel AS (SELECT vec_id FROM nv WHERE ${sqlDocHash("vec_id", 20)} = 0),
                 ilive AS (SELECT qid, vec_id, cos_sim FROM iscored
                           WHERE qid NOT IN (SELECT vec_id FROM sdel)
                             AND vec_id NOT IN (SELECT vec_id FROM sdel))
               ${sqlRanked("ilive", 3)}"""),
      bench = false),

    // INDEX COMPACTION — the deletion lifecycle's last step: sim41 serves
    // around tombstones, but every serve pays the anti-join forever; at
    // some tombstone fraction the owner REWRITES the postings (k06's
    // compaction argument applied to the ANN index). The compacted index
    // is written cell-partitioned to a NEW location (the live index is
    // never mutated — snapshot-and-swap, so readers keep a consistent
    // view), and two laws are require()d in-build: the compacted serve —
    // same probe/score/top-k pipeline, NO tombstone join — must be
    // BIT-IDENTICAL to sim41's tombstoned serve (compaction changes where
    // bytes live, never an answer), and the compacted scan must keep its
    // static cell partition pruning. Emitted: the per-cell postings
    // conservation report, replayed per-cell by the oracle over the
    // trained assignment.
    Q("sim42_ivf_compaction",
      (s, d) => {
        val db = ensureIvfIndex(s, d)
        val dels = withNorm(s, d).where(docHash(col("vec_id"), 20) === 0)
          .select("vec_id").localCheckpoint()
        val idx = s.table(s"$db.corpus_ivf")
        val compDir = Artifacts.newDir("sim42idx")
        idx.join(broadcast(dels), Seq("vec_id"), "left_anti")
          .write.mode("overwrite").partitionBy("cell").parquet(compDir)
        val comp = s.read.parquet(compDir)
        // compacted serve: the sim11 pipeline verbatim, minus any tombstone
        val cents = s.table(s"$db.ivf_centroids").collect()
          .sortBy(_.getInt(0)).map(r => (r.getSeq[Double](1).toArray, r.getLong(2)))
        val queries = withNorm(s, d).join(broadcast(dels), Seq("vec_id"), "left_anti")
        val probes = probeCells(queries, cents, 10)
        val cells = probes.select("cell").distinct().collect().map(_.getInt(0)).sorted
        val cand = comp.where(col("cell").isin(cells.map(Int.box): _*))
          .select("vec_id", "embedding", "norm2", "cell")
        val candPlan = cand.queryExecution.executedPlan.toString
        require(raw"PartitionFilters: \[[^\]]*cell".r.findFirstIn(candPlan).isDefined,
          s"compacted index scan lost its static cell partition pruning:\n${candPlan.take(2000)}")
        val served = topK(withCos(cand.join(broadcast(probes), Seq("cell"))
          .where(col("vec_id") =!= col("qid"))), 3)
        val tomb = serveIvfIndexed(s, d, withNorm(s, d), nProbes = 10,
          tombstones = Some(dels)).select("qid", "vec_id", "cos_sim", "rk")
        require(served.exceptAll(tomb).isEmpty && tomb.exceptAll(served).isEmpty,
          "compacted serve diverged from the tombstoned serve — compaction changed an answer")
        val after = comp.groupBy("cell").agg(count(lit(1)).as("n_after"))
        idx.groupBy("cell").agg(count(lit(1)).as("n_before"))
          .join(after, Seq("cell"), "left")
          .select(col("cell").cast(IntegerType).as("cell"), col("n_before"),
            (col("n_before") - coalesce(col("n_after"), lit(0L))).as("n_deleted"),
            coalesce(col("n_after"), lit(0L)).as("n_after"))
          .orderBy("cell")
      },
      Some(s"""WITH $sqlTrainedAssignCtes,
                 cbefore AS (SELECT cell, COUNT(*) AS n_before FROM a2 GROUP BY cell),
                 cafter AS (SELECT cell, COUNT(*) AS n_after FROM a2
                            WHERE NOT ${sqlDocHash("vec_id", 20)} = 0 GROUP BY cell)
               SELECT CAST(b.cell AS INT) AS cell, b.n_before,
                      b.n_before - COALESCE(a.n_after, 0) AS n_deleted,
                      COALESCE(a.n_after, 0) AS n_after
               FROM cbefore b LEFT JOIN cafter a USING (cell)
               ORDER BY cell"""),
      bench = false),

    // Recall@3 of the TOMBSTONED serve vs POST-DELETE brute force — the
    // sim09/17/21/27/39 pricing convention applied to sim41: deletion must
    // not silently cost recall (a tombstone join that dropped the wrong
    // rows would still pass sim41's count laws if it dropped symmetric
    // ones). Truth = exact cosine over surviving probes × surviving
    // corpus; both the serve and the truth are replayed in SQL, so the
    // recall NUMBER is cross-engine-verified.
    Q("sim43_delete_recall",
      (s, d) => {
        val dels = withNorm(s, d).where(docHash(col("vec_id"), 20) === 0)
          .select("vec_id").localCheckpoint()
        val live = probePairsShared(s, d, 10)
          .join(broadcast(dels.select(col("vec_id").as("qid"))), Seq("qid"), "left_anti")
          .join(broadcast(dels), Seq("vec_id"), "left_anti")
        recallRows(s, "method", Seq("ivf_tombstoned" -> recallOf(
          topK(live, 3).select("qid", "vec_id"))(Catalog.byName("sim41_ivf_delete_serve").build(s, d))))
      },
      Some(s"""WITH $sqlTrainedSearchCtes,
                 rdel AS (SELECT vec_id FROM nv WHERE ${sqlDocHash("vec_id", 20)} = 0),
                 rlive AS (SELECT qid, vec_id, cos_sim FROM iscored
                           WHERE qid NOT IN (SELECT vec_id FROM rdel)
                             AND vec_id NOT IN (SELECT vec_id FROM rdel)),
                 ann_top AS (${sqlTopK("rlive", 3)}),
                 ${sqlBruteTruthCtes(10, 3, "r",
                   "WHERE a.vec_id NOT IN (SELECT vec_id FROM rdel) AND b.vec_id NOT IN (SELECT vec_id FROM rdel)")}
               ${sqlRecallRows("method", Seq(("'ivf_tombstoned'", "ann_top", "rbrute_top")))}"""),
      bench = false),

    // NEIGHBOR DIVERSIFICATION (the HNSW select-neighbors heuristic /
    // relative-neighborhood rule) over sim36's directed k-NN edges: an
    // edge (u,v) at rank r is KEPT iff no earlier-rank KEPT neighbor w of
    // u is closer to v than u is (cos(w,v) > cos(u,v)) — pruned edges are
    // shortcuts through an already-kept neighbor, and dropping them is
    // what keeps graph-ANN degree bounded without losing reachability.
    // The sequential "kept-so-far" semantics is exact: the fold runs over
    // RANK (KnnK-1 bounded joins), never over corpus size; the
    // neighbor-pair similarity table is ≤ C(k,2) rows per node, built by
    // equi-joins on the embedding table. Emits the full per-edge decision
    // (kept flag) so downstream graph builds can filter. Oracle: DuckDB
    // replays training, the k-NN ranking, and each rank's NOT EXISTS
    // blocker test with the identical kept-so-far chain.
    Q("sim44_rng_prune",
      (s, d) => {
        val (edges, kept) = rngKeptEdges(s, d)
        edges.join(kept.withColumn("kept", lit(true)), Seq("u", "v"), "left")
          .select(col("u").as("vec_id"), col("rank"), col("v").as("nbr_id"),
            col("cos_sim"), coalesce(col("kept"), lit(false)).as("kept"))
          .orderBy("vec_id", "rank")
      },
      Some(s"""WITH $sqlTrainedAssignCtes, $sqlKnnCtes,
                 kedg AS MATERIALIZED (SELECT u, CAST(rk AS INT) AS rk, v, cos_sim
                          FROM ktop WHERE rk <= $KnnK),
                 npair AS MATERIALIZED (
                   SELECT w.u, w.v AS w_id, e.rk AS rv, e.v AS v_id, ${sqlCos()} AS cos_wv
                   FROM kedg w JOIN kedg e ON w.u = e.u AND w.rk < e.rk
                        JOIN nv a ON a.vec_id = w.v
                        JOIN nv b ON b.vec_id = e.v),
                 ${sqlKeptChain(KnnK)}
               SELECT e.u AS vec_id, e.rk AS rank, e.v AS nbr_id, e.cos_sim,
                      (k.u IS NOT NULL) AS kept
               FROM kedg e LEFT JOIN kept$KnnK k ON k.u = e.u AND k.v = e.v
               ORDER BY vec_id, rank"""),
      bench = false),

    // RESIDUAL IVF-PQ — the production IVFADC form (Jégou et al.'s
    // composition, the FAISS IndexIVFPQ default): codes quantize the
    // RESIDUAL x − c_cell under the TRAINED coarse quantizer, not the raw
    // vector (sim20's composition). Residuals concentrate near zero, so
    // one shared codebook fits them far better — sim47 prices the payoff
    // against sim21's raw composition. The serving difference: the
    // query's residual differs PER PROBED CELL, so each (probe, cell)
    // carries its own 8×16 LUT (still bounded: probes × IvfProbe tables,
    // broadcast). Scan shape unchanged — candidates are the probed cells'
    // members, the ADC sum is an integer lookup-add. The oracle replays
    // coarse training, residual extraction, codebook seeding, encoding,
    // per-cell LUTs, and the ADC ranking.
    Q("sim46_residual_pq_search",
      (s, d) => {
        val cents = trainedCentroids(s, d, iters = 2)
        val rc = residualCorpus(s, d).localCheckpoint()
        val rcb = residualCodebookOf(s, rc)
        val pc = probeCells(withNorm(s, d), cents, nProbes = 10).localCheckpoint()
        val codes = pqEncodedOf(
            rc.select(col("vec_id"), col("rvec").as("embedding")), rcb)
          .select("vec_id", "subspace", "code")
        val cand = rc.select("vec_id", "cell")
          .join(broadcast(pc.select("qid", "cell")), Seq("cell"))
          .where(col("vec_id") =!= col("qid"))
          .select("qid", "cell", "vec_id")
        val adc = codes.join(cand, "vec_id")
          .join(broadcast(residualLut(s, cents, pc, rcb)),
            Seq("qid", "cell", "subspace", "code"))
          .groupBy("qid", "vec_id").agg(sum(col("pdist")).as("adc_dist"))
        topK(adc, 3, "adc_dist", ascending = true)
          .select("qid", "rk", "vec_id", "adc_dist")
          .orderBy("qid", "rk")
      },
      Some(s"""WITH $sqlTrainedSearchCtes,
                 $sqlResidualAdcCtes
               ${sqlRankedBy("radc", 3, "adc_dist")}"""),
      bench = false),

    // Residual-IVFPQ recall@3 vs the exact full-vector L2 truth — prices
    // residual encoding against sim21's raw-vector composition at
    // identical storage (4-byte codes, same probe budget). Measured here:
    // ~0.1 at sf0.1 — the SAME as sim21, honestly reported: on this
    // corpus's near-orthogonal synthetic embeddings, residuals are as
    // unstructured as the raw vectors, so seed codebooks gain nothing;
    // real embedding distributions (where residuals concentrate) and
    // per-subspace TRAINED codebooks (sim18's machinery) are where the
    // production gap opens. Per probe (the sim17 convention), both sides
    // replayed in SQL.
    Q("sim47_residual_pq_recall",
      (s, d) => recallByQid(pqL2Truth(s, d), Catalog.byName("sim46_residual_pq_search").build(s, d), 3),
      Some(s"""WITH $sqlTrainedSearchCtes,
                 $sqlResidualAdcCtes,
                 radc_top AS (${sqlTopK("radc", 3, "adc_dist, vec_id")}),
                 $sqlPqTruthCtes
               ${sqlRecallByQid("radc_top", 3)}"""),
      bench = false),

    // WALK OVER THE PRUNED GRAPH — sim39's pricing convention applied to
    // sim44: the diversified (RNG-pruned) edge set re-enters the full
    // serving path (symmetrize → components → one entry per component →
    // beam search) and its recall@3 is priced against the same exact
    // truth. This is the number that justifies pruning at all: fewer
    // edges = fewer candidate lookups per hop, and the relative-
    // neighborhood rule is supposed to keep reachability — a recall drop
    // here would mean it didn't. Pruning can only split components, and
    // the walk recomputes entries from the pruned edges, so a split
    // automatically gets its extra entry (the sim37 remedy). The oracle
    // replays training, ranking, the kept-chain, the pruned closure, and
    // every hop — the recall number is cross-engine-verified.
    Q("sim45_pruned_walk_recall",
      (s, d) => {
        val (edges, kept) = rngKeptEdges(s, d)
        val nEdges = edges.count()
        val nKept = kept.count()
        val grade = recallOf(bruteTruth(s, d, 10, 3).localCheckpoint())
        val (total, hits, recall) = grade(topK(walkFrontiersOver(s, d, kept).last._2, 3))
        import s.implicits._
        Seq(("pruned_walk", nEdges, nKept, total, hits, recall))
          .toDF("method", "n_edges", "n_kept", "n_truth", "n_hit", "recall")
      },
      Some(s"""WITH RECURSIVE $sqlTrainedAssignCtes, $sqlKnnCtes,
                 kedg AS MATERIALIZED (SELECT u, CAST(rk AS INT) AS rk, v, cos_sim
                          FROM ktop WHERE rk <= $KnnK),
                 npair AS MATERIALIZED (
                   SELECT w.u, w.v AS w_id, e.rk AS rv, e.v AS v_id, ${sqlCos()} AS cos_wv
                   FROM kedg w JOIN kedg e ON w.u = e.u AND w.rk < e.rk
                        JOIN nv a ON a.vec_id = w.v
                        JOIN nv b ON b.vec_id = e.v),
                 ${sqlKeptChain(KnnK)},
                 pkedges AS MATERIALIZED (SELECT DISTINCT u, v FROM (
                     SELECT u, v FROM kept$KnnK
                     UNION ALL SELECT v, u FROM kept$KnnK)),
                 ${sqlWalkChainOver("pkedges")},
                 walk_top AS (${sqlTopK(s"wf$WalkHops", 3)}),
                 ${sqlBruteTruthCtes(10, 3)}
               SELECT method, (SELECT COUNT(*) FROM kedg) AS n_edges,
                      (SELECT COUNT(*) FROM kept$KnnK) AS n_kept, n_truth, n_hit, recall
               FROM (${sqlRecallRows("method", Seq(("'pruned_walk'", "walk_top", "brute_top")))})"""),
      bench = false),

    // HIERARCHICAL (two-layer) GRAPH WALK — the last piece of the HNSW
    // anatomy after build (sim36), diversify (sim44), serve (sim38), and
    // price (sim39/45): every LayerMod-th vector joins a SPARSE upper
    // navigation graph (LayerK neighbors; HNSW's geometric level
    // assignment made deterministic), greedy search walks the upper layer
    // from its component entries first, and its final frontier SEEDS the
    // base-layer walk (the descend step). The point at scale: upper-layer
    // hops touch |corpus|/LayerMod nodes, so most navigation happens on a
    // structure 8× smaller, and the base layer starts from
    // already-near-the-answer entries instead of fixed per-component
    // ones. Both walks share one hop loop (walkHopsFrom); the oracle
    // chains the upper graph, its closure, three upper hops, and three
    // base hops with explicitly-named CTEs.
    Q("sim48_layered_walk",
      (s, d) => {
        val (uSym, uEntries) = symAndEntries(
          knnTopOf(s, d, col("vec_id") % LayerMod === 0, LayerK).select("u", "v"))
        val uf0 = withNorm(s, d).where(col("vec_id") < 10)
          .select(col("vec_id").as("qid")).crossJoin(broadcast(uEntries))
        val uWalk = walkHopsFrom(s, d, uSym, uf0).last._2
        val bEdges = knnTop(s, d).select("u", "v")
        val bSym = bEdges.union(bEdges.select(col("v").as("u"), col("u").as("v")))
          .distinct().localCheckpoint()
        val lWalk = walkHopsFrom(s, d, bSym, uWalk).last._2
        topK(lWalk, 3, rank = "rank")
          .select("qid", "rank", "vec_id", "cos_sim")
          .orderBy("qid", "rank")
      },
      Some(s"""WITH RECURSIVE $sqlLayeredWalkCtes
               ${sqlTopK(s"hfl$WalkHops", 3, cols = sqlWalkRanked)} ORDER BY qid, rank"""),
      bench = false),

    // Recall@3 of the LAYERED walk vs exact brute force — the sim39
    // convention applied to sim48, closing the pricing pair: flat
    // multi-entry walk (sim39, recall 1.0) vs hierarchical descend at
    // the same hop/beam budget. Measured: 0.60/0.63/0.37 at
    // sf0.001/0.01/0.1 — honestly LOWER here, because sim39's
    // one-entry-per-component seeding already starts near every answer
    // on this fixture's many small components, while the 8×-sparser
    // upper layer reaches fewer of them in 3 hops. The trade inverts at
    // scale: flat entry count grows with the component count, the
    // layered descend's navigation cost stays fixed. Both the walk and
    // the truth are replayed in SQL, so the number is cross-engine.
    Q("sim49_layered_walk_recall",
      (s, d) => recallRows(s, "method", Seq("layered_walk" ->
        recallOf(bruteTruth(s, d, 10, 3))(Catalog.byName("sim48_layered_walk").build(s, d)))),
      Some(s"""WITH RECURSIVE $sqlLayeredWalkCtes,
               lwalk_top AS (${sqlTopK(s"hfl$WalkHops", 3)}),
               ${sqlBruteTruthCtes(10, 3, "l")}
             ${sqlRecallRows("method", Seq(("'layered_walk'", "lwalk_top", "lbrute_top")))}"""),
      bench = false)
  )

  /** sim44's checkpointed artifacts: the ranked k-NN edge table and the
    * RNG-kept (diversified) survivor set, shared by sim44 (the per-edge
    * decision) and sim45 (the pruned serving walk). The sequential
    * kept-so-far fold runs over the RANK domain (KnnK−1 bounded joins);
    * the neighbor-pair similarity table is ≤ C(k,2) rows per node.
    */
  private def rngKeptEdges(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val nv = withNorm(s, d)
    val edges = knnTop(s, d)
      .select("u", "rank", "v", "cos_sim").localCheckpoint()
    // similarities between neighbor PAIRS of one node: w at an earlier
    // rank than v — the only comparisons the heuristic ever makes
    val e1 = edges.select(col("u"), col("rank").as("rw"), col("v").as("w_id"))
    val e2 = edges.select(col("u"), col("rank").as("rv"),
      col("v").as("v_id"), col("cos_sim").as("cos_uv"))
    val wEmb = nv.select(col("vec_id").as("w_id"),
      col("embedding").as("we"), col("norm2").as("wn"))
    val vEmb = nv.select(col("vec_id").as("v_id"),
      col("embedding").as("ve"), col("norm2").as("vn"))
    val npair = e1.join(e2, Seq("u")).where(col("rw") < col("rv"))
      .join(wEmb, "w_id").join(vEmb, "v_id")
      .select(col("u"), col("w_id"), col("rv"), col("v_id"), col("cos_uv"),
        cosine(scaledDot(col("we"), col("ve")), col("wn"), col("vn")).as("cos_wv"))
      .localCheckpoint()
    // sequential fold over ranks: rank 1 always kept; rank r kept iff no
    // kept earlier neighbor blocks it (cos(w,v) > cos(u,v))
    var kept = edges.where(col("rank") === 1).select("u", "v")
    for (r <- 2 to KnnK) {
      val blockers = npair
        .where(col("rv") === r && col("cos_wv") > col("cos_uv"))
        .join(kept.select(col("u"), col("v").as("w_id")),
          Seq("u", "w_id"), "left_semi")
        .select(col("u"), col("v_id").as("v")).distinct()
      val keptR = edges.where(col("rank") === r)
        .join(blockers, Seq("u", "v"), "left_anti").select("u", "v")
      kept = kept.union(keptR).localCheckpoint()
    }
    (edges, kept)
  }

  /** One oracle-side beam hop with EXPLICIT CTE names (hc/hs/hf + tag) —
    * sim48 chains two walks (upper layer, then base layer) in one query,
    * so the shared-name sqlWalkHop chain cannot be used twice.
    */
  private def sqlNamedHop(prev: String, tag: String, edgeCte: String): String =
    s"""hc$tag AS (SELECT DISTINCT qid, vec_id FROM (
                     SELECT qid, vec_id FROM $prev
                     UNION ALL
                     SELECT f.qid, e.v AS vec_id FROM $prev f JOIN $edgeCte e ON e.u = f.vec_id)),
        hs$tag AS (SELECT c.qid, c.vec_id, ${sqlCos()} AS cos_sim
                   FROM hc$tag c JOIN nv a ON a.vec_id = c.qid
                                 JOIN nv b ON b.vec_id = c.vec_id
                   WHERE c.vec_id <> c.qid),
        hf$tag AS (${sqlTopK(s"hs$tag", WalkBeam, cols = "qid, vec_id, cos_sim")})"""

  /** sim48's oracle walk, inside a `WITH RECURSIVE`: the training
    * trajectory and k-NN edges, the sparse upper layer's edges (`ukedges`)
    * and component entries (`hfu0`), its hops `hfu1..`, then the base
    * hops `hfl1..` seeded by the last upper frontier. Shared by sim48/49.
    */
  private lazy val sqlLayeredWalkCtes: String = {
    val upperHops = (1 to WalkHops).map(i =>
      sqlNamedHop(if (i == 1) "hfu0" else s"hfu${i - 1}", s"u$i", "ukedges"))
    val baseHops = (1 to WalkHops).map(i =>
      sqlNamedHop(if (i == 1) s"hfu$WalkHops" else s"hfl${i - 1}", s"l$i", "kedges"))
    s"""$sqlTrainedAssignCtes, $sqlKnnCtes,
        ukcand AS MATERIALIZED (
          SELECT a.vec_id AS u, b.vec_id AS v, ${sqlCos()} AS cos_sim
          FROM a2 pa JOIN a2 pb ON pa.cell = pb.cell AND pa.vec_id <> pb.vec_id
               JOIN nv a ON a.vec_id = pa.vec_id
               JOIN nv b ON b.vec_id = pb.vec_id
          WHERE pa.vec_id % $LayerMod = 0 AND pb.vec_id % $LayerMod = 0),
        uktop AS MATERIALIZED (${sqlTopK("ukcand", LayerK, "cos_sim DESC, v", "u", "u, v, rk")}),
        ukedges AS MATERIALIZED (SELECT DISTINCT u, v FROM (
            SELECT u, v FROM uktop WHERE rk <= $LayerK
            UNION ALL SELECT v, u FROM uktop WHERE rk <= $LayerK)),
        ukreach(id, r) AS (
          SELECT u, u FROM ukedges
          UNION
          SELECT e.u, rr.r FROM ukedges e JOIN ukreach rr ON e.v = rr.id),
        ukcomp AS (SELECT id, MIN(r) AS label FROM ukreach GROUP BY id),
        ukentries AS (SELECT DISTINCT label FROM ukcomp),
        hfu0 AS (SELECT p.vec_id AS qid, e.label AS vec_id
                 FROM nv p, ukentries e WHERE p.vec_id < 10),
        ${(upperHops ++ baseHops).mkString(",\n        ")}"""
  }

  /** The walk answers' oracle projection (sim38/sim48). */
  private final val sqlWalkRanked = "qid, CAST(rk AS INT) AS rank, vec_id, cos_sim"

  /** Oracle-side kept-so-far chain for sim44: `kept1` = every rank-1 edge;
    * `kept{r}` = `kept{r-1}` plus the rank-r edges with NO kept
    * earlier-rank blocker (cos(w,v) > cos(u,v)) — the exact sequential
    * select-neighbors semantics, unrolled over the bounded rank domain.
    */
  private def sqlKeptChain(k: Int): String = {
    // every CTE MATERIALIZED: the chain references kept{r-1} twice per
    // step and npair once per step — DuckDB 1.0 otherwise INLINES each
    // reference, re-expanding the whole training+knn chain exponentially
    // (observed: "Too many open files" from re-opened parquet scans)
    val first = "kept1 AS MATERIALIZED (SELECT u, v FROM kedg WHERE rk = 1)"
    val rest = (2 to k).map { r =>
      s"""keptnew$r AS MATERIALIZED (
            SELECT e.u, e.v FROM kedg e WHERE e.rk = $r AND NOT EXISTS (
              SELECT 1 FROM npair p JOIN kept${r - 1} kk
                ON kk.u = p.u AND kk.v = p.w_id
              WHERE p.u = e.u AND p.v_id = e.v AND p.cos_wv > e.cos_sim)),
          kept$r AS MATERIALIZED (SELECT u, v FROM kept${r - 1}
                     UNION ALL SELECT u, v FROM keptnew$r)"""
    }
    (first +: rest).mkString(",\n                 ")
  }

  /** Ranked k-NN edge table (u, rank, v, cos_sim): each vector's 4 exact
    * nearest within-trained-cell neighbors — sim36's output, sim37's edge
    * set, sim38's navigation structure. Candidates are an equi-join on the
    * trained cell id (Σ n_cell² pairs, never corpus-wide); per-node top-k
    * rides the two-phase perKeyTopK.
    */
  private def knnTop(s: SparkSession, d: String): DataFrame =
    knnTopOf(s, d, lit(true), KnnK)

  /** [[knnTop]] restricted to nodes passing `nodeFilter`, with `k`
    * neighbors — sim48's sparse upper layer passes the LayerMod modulus.
    */
  private def knnTopOf(s: SparkSession, d: String,
      nodeFilter: Column, k: Int): DataFrame = {
    val assigned = assignCells(withNorm(s, d), trainedCentroids(s, d, iters = 2))
      .where(nodeFilter)
    val l = assigned.select(col("cell"), col("vec_id").as("u"),
      col("embedding").as("ea"), col("norm2").as("na"))
    val r = assigned.select(col("cell"), col("vec_id").as("v"),
      col("embedding").as("eb"), col("norm2").as("nb"))
    val cand = l.join(r, Seq("cell")).where(col("u") =!= col("v"))
      .select(col("u"), col("v"),
        cosine(scaledDot(col("ea"), col("eb")), col("na"), col("nb")).as("cos_sim"))
    StockOps.perKeyTopK(cand, Seq("u"), Seq(desc("cos_sim"), col("v")), k, outCol = "rank")
  }

  /** Oracle CTEs for the k-NN edge set: within-trained-cell candidate
    * pairs (`kcand`), the directed top-4 edges (`ktop`), and the
    * symmetrized navigation edges (`kedges`) — shared by sim36/37/38.
    */
  lazy val sqlKnnCtes: String =
    s"""kcand AS MATERIALIZED (
          SELECT a.vec_id AS u, b.vec_id AS v, ${sqlCos()} AS cos_sim
          FROM a2 pa JOIN a2 pb ON pa.cell = pb.cell AND pa.vec_id <> pb.vec_id
               JOIN nv a ON a.vec_id = pa.vec_id
               JOIN nv b ON b.vec_id = pb.vec_id),
        ktop AS MATERIALIZED (${sqlTopK("kcand", KnnK, "cos_sim DESC, v", "u", "u, v, cos_sim, rk")}),
        kedges AS MATERIALIZED (SELECT DISTINCT u, v FROM (
                     SELECT u, v FROM ktop WHERE rk <= $KnnK
                     UNION ALL SELECT v, u FROM ktop WHERE rk <= $KnnK))"""
  // NOTE the explicit DISTINCT-over-UNION-ALL: inside a WITH RECURSIVE
  // block, DuckDB 1.0.0 evaluates UNION in NON-recursive CTEs as UNION ALL
  // (verified: `WITH RECURSIVE r(..)..., e AS (SELECT .. UNION SELECT ..)`
  // keeps duplicates). Closure/grouping read-outs (sim37, d06) are immune,
  // but anything ranked (a beam's ROW_NUMBER) would count duplicates as
  // distinct slots and silently narrow the beam.

  /** The walk's per-hop frontiers [(1, f1) … (WalkHops, f_WalkHops)] —
    * sim38 emits the last, sim40 prices every hop. Each frontier is the
    * keep-the-best beam over (previous frontier ∪ its out-neighbors),
    * checkpointed per hop; entries are one per component (the sim37
    * motivation — a single global entry cannot reach other components).
    */
  private def walkFrontiers(s: SparkSession, d: String): Seq[(Int, DataFrame)] =
    walkFrontiersOver(s, d, knnTop(s, d).select("u", "v"))

  /** The walk over an ARBITRARY directed edge set (u, v) — sim38/40 pass
    * the full k-NN edges, sim45 the diversification-pruned survivors. The
    * edge set is symmetrized and its component entries recomputed here, so
    * a pruning that splits a component automatically gets its extra entry.
    */
  private def walkFrontiersOver(
      s: SparkSession, d: String, edgesIn: DataFrame): Seq[(Int, DataFrame)] = {
    val (sym, entries) = symAndEntries(edgesIn)
    val frontier0 = withNorm(s, d).where(col("vec_id") < 10)
      .select(col("vec_id").as("qid")).crossJoin(broadcast(entries))
    walkHopsFrom(s, d, sym, frontier0)
  }

  /** An edge set's symmetrized form plus its one-entry-per-component
    * node set — the walk's navigation inputs, shared by the flat walk and
    * sim48's upper layer.
    */
  private def symAndEntries(edgesIn: DataFrame): (DataFrame, DataFrame) = {
    val edges = edgesIn.select("u", "v")
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint()
    val pairs = edges.select(least(col("u"), col("v")).as("da"),
      greatest(col("u"), col("v")).as("db")).distinct()
    val entries = DedupOps.connectedComponents(pairs, maxIter = 20)
      .select(col("label").as("vec_id")).distinct()
    (sym, entries)
  }

  /** The beam-search hop loop from an ARBITRARY per-probe starting
    * frontier (qid, vec_id) over symmetrized edges — the flat walk seeds
    * it with component entries; sim48's base layer seeds it with the
    * UPPER layer's final frontier (the HNSW descend step).
    */
  private def walkHopsFrom(s: SparkSession, d: String, sym: DataFrame,
      frontier0: DataFrame): Seq[(Int, DataFrame)] = {
    val corpus = withNorm(s, d)
    val probes = probesOf(corpus, 10)
    var frontier = frontier0
    (1 to WalkHops).map { h =>
      val nbrs = frontier.select("qid", "vec_id")
        .join(sym, col("vec_id") === col("u"))
        .select(col("qid"), col("v").as("vec_id"))
      val cand = frontier.select("qid", "vec_id").union(nbrs).distinct()
        .where(col("vec_id") =!= col("qid"))
      val scored = rerank(cand, corpus, probes).select("qid", "vec_id", "cos_sim")
      frontier = topK(scored, WalkBeam).select("qid", "vec_id", "cos_sim").localCheckpoint()
      (h, frontier)
    }
  }

  /** Everything from raw embeddings to sim38's final walk frontier `wf3`:
    * trained assignment → k-NN edges → component closure → one entry per
    * component → 3 beam-search hops. Shared by sim38 (the walk) and sim39
    * (its recall). Must sit inside a `WITH RECURSIVE`.
    */
  private lazy val sqlWalkCtes: String =
    s"""$sqlTrainedAssignCtes, $sqlKnnCtes,
        ${sqlWalkChainOver("kedges")}"""

  /** The walk's closure + entries + hop CTEs over an ARBITRARY symmetrized
    * edge CTE — `kedges` for the full graph (sim38/39/40), the pruned
    * survivor edges for sim45. Mirrors [[walkFrontiersOver]].
    */
  private def sqlWalkChainOver(edgeCte: String): String =
    s"""kreach(id, r) AS (
          SELECT u, u FROM $edgeCte
          UNION
          SELECT e.u, rr.r FROM $edgeCte e JOIN kreach rr ON e.v = rr.id),
        wkcomp AS MATERIALIZED (SELECT id, MIN(r) AS label FROM kreach GROUP BY id),
        wentries AS MATERIALIZED (SELECT DISTINCT label FROM wkcomp),
        wf0 AS MATERIALIZED (SELECT p.vec_id AS qid, e.label AS vec_id
                FROM nv p, wentries e WHERE p.vec_id < 10),
        ${(1 to WalkHops).map(sqlWalkHop(_, WalkBeam, edgeCte)).mkString(",\n        ")}"""

  /** One oracle-side beam-search hop `i`: candidates = previous frontier ∪
    * its out-neighbors (minus the query itself), rescored against the
    * probe, new frontier = top-`beam` per query — the same monotone
    * keep-the-best step the engine loop runs.
    */
  private def sqlWalkHop(i: Int, beam: Int, edgeCte: String): String = {
    // SUFFIXED CTE names (wc/ws/wf): c$i/s$i live inside the Lloyd chain
    // this composes with — the p02 collision lesson
    val prev = s"wf${i - 1}"
    s"""wc$i AS MATERIALIZED (SELECT DISTINCT qid, vec_id FROM (
                   SELECT qid, vec_id FROM $prev
                   UNION ALL
                   SELECT f.qid, e.v AS vec_id FROM $prev f JOIN $edgeCte e ON e.u = f.vec_id)),
        ws$i AS MATERIALIZED (SELECT c.qid, c.vec_id, ${sqlCos()} AS cos_sim
                 FROM wc$i c JOIN nv a ON a.vec_id = c.qid
                             JOIN nv b ON b.vec_id = c.vec_id
                 WHERE c.vec_id <> c.qid),
        wf$i AS MATERIALIZED (${sqlTopK(s"ws$i", beam, cols = "qid, vec_id, cos_sim")})"""
  }
}
