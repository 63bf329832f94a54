package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Catalog._

/** Deduplication operators for training-data curation (SURVEY M6):
  * exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine,
  * edit-distance near-dup, cluster resolution (propagation + star CC),
  * dedup apply, and benchmark decontamination.
  *
  * Scale design: every variant is expressed as hash-partitioned dataflow —
  * exact dedup is one hash aggregation; Jaccard/MinHash go through an
  * (id, shingle)-exploded shuffle keyed on the shingle/band so candidate
  * generation never materializes the O(n²) pair space; only candidate pairs
  * (bucket collisions) are verified, and expensive exact metrics
  * (Levenshtein) run exclusively on blocked candidates.
  */
object DedupOps {

  /** Distinct word-3-gram shingles of the text column (empty when <3
    * tokens). Backed by the codegen'd `word_shingles` kernel — the
    * declarative transform/sequence/slice formulation runs interpreted at
    * ~1 ms/doc, two orders of magnitude too slow for a 100 TB dedup pass
    * (registered on the session by graft.SparkEntry.install).
    */
  def shingles3(text: Column): Column =
    graft.functions.GraftFunctions.word_shingles(text, 3)

  /** Non-empty view of a `toks` column for the gram/shingle oracles.
    * The kernels tokenize by scanning past ALL whitespace and never emit
    * an empty token; `string_split_regex(trim(text), '\s+')` keeps a
    * leading empty token when the text starts with a tab/newline (SQL
    * trim strips spaces only). Filtering here makes the oracle faithful
    * to the kernel on every input, not just the space-separated fixture
    * (found by KernelFuzzSpec).
    */
  val sqlToksNE = "list_filter(toks, t -> length(t) > 0)"

  val sqlShingles3 =
    s"""list_distinct(CASE WHEN len($sqlToksNE) >= 3
         THEN list_transform(range(1, len($sqlToksNE) - 1),
                i -> array_to_string(($sqlToksNE)[i:i+2], ' '))
         ELSE [] END)"""

  /** Document-frequency cap on join shingles: a shingle shared by k docs
    * contributes O(k²) candidate rows to the pair join, so one ubiquitous
    * shingle ("of the and") makes the exact-Jaccard join quadratic in its
    * df. Shingles with per-lang df above this cap are excluded from the
    * JOIN side only, bounding per-shingle fan-out to cap². Surviving pairs
    * get their hot-shingle intersection RESTORED from per-doc hot sets
    * (see [[jaccardPairs]]), so reported inter/jaccard values stay exact;
    * the cap only costs recall on pairs whose every shared shingle is hot.
    * 50 exceeds the max observed df at every test SF (25 at sf0.1), so
    * test-scale output is bit-identical to the uncapped form (pinned in
    * DedupOpsSpec, which also pins metric exactness under an ACTIVE cap);
    * at larger corpora, scale the cap with corpus size (df > cap ⇒
    * stopword-grade shingle) — d03 (LSH) remains the intended 100 TB path
    * either way.
    */
  val HotShingleDfCap = 50

  /** Shared oracle CTEs: the exact lang-blocked, df-capped 3-shingle pair
    * graph — UNthresholded — as `pgraph(da, db, sza, szb, inter, uni,
    * jaccard)`. [[sqlJaccardCtes]] adds the J ≥ 0.2 cut (d02 and the
    * recursive-CTE clustering oracles d06b/d07b); d21 cuts on containment
    * instead.
    */
  val sqlPairGraphCtes: String =
    s"""sh AS (
          SELECT doc_id, lang, $sqlShingles3 AS sh
          FROM ${TextOps.sqlDocToks}),
        ex AS (SELECT doc_id, lang, len(sh) AS sz, UNNEST(sh) AS shingle FROM sh),
        hot AS (SELECT lang, shingle FROM ex GROUP BY lang, shingle
                HAVING COUNT(*) > $HotShingleDfCap),
        exf AS (SELECT ex.* FROM ex ANTI JOIN hot USING (lang, shingle)),
        hsets AS (SELECT doc_id, list(shingle) AS hsh
                  FROM ex JOIN hot USING (lang, shingle) GROUP BY doc_id),
        prs AS (
          SELECT a.doc_id AS da, b.doc_id AS db,
                 CAST(a.sz AS BIGINT) AS sza, CAST(b.sz AS BIGINT) AS szb,
                 COUNT(*) AS cold
          FROM exf a JOIN exf b
            ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4),
        prsh AS (
          SELECT p.da, p.db, p.sza, p.szb,
                 p.cold + COALESCE(len(list_intersect(ha.hsh, hb.hsh)), 0) AS inter
          FROM prs p LEFT JOIN hsets ha ON ha.doc_id = p.da
                     LEFT JOIN hsets hb ON hb.doc_id = p.db),
        pgraph AS (
          SELECT da, db, sza, szb, inter, sza + szb - inter AS uni,
                 CAST(inter AS DOUBLE) / (sza + szb - inter) AS jaccard
          FROM prsh)"""

  /** `sqlPairGraphCtes` + the J ≥ 0.2 cut — the d02/d06b/d07b view. */
  val sqlJaccardCtes: String =
    s"""$sqlPairGraphCtes,
        jpairs AS (SELECT da, db, inter, uni, jaccard FROM pgraph
                   WHERE jaccard >= 0.2)"""

  /** Recursive-CTE connected components over `jpairs`: `reach(id, r)` is the
    * transitive closure of the symmetrized edge list; min reachable id =
    * cluster label — the SQL mirror of [[connectedComponents]].
    */
  val sqlClusterCtes: String =
    s"""$sqlJaccardCtes,
        edges AS (SELECT da AS src, db AS dst FROM jpairs
                  UNION SELECT db, da FROM jpairs),
        reach(id, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, rr.r FROM edges e JOIN reach rr ON e.dst = rr.id),
        clusters AS (SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id)"""

  // MinHash parameters: 64 permutations, banded 16×4 for LSH.
  val NumHashes = 64
  val BandSize = 4
  val MinhashPrime = 2147483647L // 2^31 - 1, Mersenne

  /** Oracle CTEs for the LSH pipeline over the DRIVER-COMPUTED signature
    * dump (`Verify.dumpSignatures` → `graft.verify.PureSig`, a from-scratch
    * reimplementation with no Spark internals): band the dumped signatures
    * in SQL (joining on the raw 4-value band tuples — no need to mirror the
    * engine's xxhash64 band keys, which are only an equality proxy), then
    * exact-Jaccard-verify candidates at J ≥ 0.5 → `lshpairs(da, db,
    * jaccard)`. This puts the whole MinHash→LSH→verify pipeline in the hard
    * hash-compare gate (d03), and transitively the cluster/apply stages
    * built on it (d06/d07).
    */
  lazy val sqlLshCtes: String = {
    val dump = s"'${graft.Verify.SigDumpDir}/doc_sigs.parquet/*.parquet'"
    s"""sg AS (SELECT doc_id, sig FROM $dump),
        sgb AS (
          SELECT doc_id, b,
                 sig[CAST(b*$BandSize+1 AS INT):CAST(b*$BandSize+$BandSize AS INT)] AS bk
          FROM sg, LATERAL (SELECT UNNEST(range(0, ${NumHashes / BandSize})) AS b)),
        scand AS (
          SELECT DISTINCT a.doc_id AS da, c.doc_id AS db
          FROM sgb a JOIN sgb c ON a.b = c.b AND a.bk = c.bk AND a.doc_id < c.doc_id),
        csh AS (SELECT doc_id, $sqlShingles3 AS sh
                FROM ${TextOps.sqlDocToks}),
        lshj AS (
          SELECT scand.da, scand.db,
                 CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
                 CAST(len(sa.sh) AS BIGINT) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS uni
          FROM scand JOIN csh sa ON sa.doc_id = scand.da JOIN csh sb ON sb.doc_id = scand.db),
        lshpairs AS (
          SELECT da, db, CAST(inter AS DOUBLE) / uni AS jaccard
          FROM lshj WHERE CAST(inter AS DOUBLE) / uni >= 0.5)"""
  }

  /** `sqlLshCtes` + recursive-CTE connected components over the verified
    * LSH pair graph → `lclusters(doc_id, cluster)` — the SQL mirror of
    * d06's `connectedComponents` over d03's pairs.
    */
  lazy val sqlLshClusterCtes: String =
    s"""$sqlLshCtes,
        ledges AS (SELECT da AS src, db AS dst FROM lshpairs
                   UNION SELECT db, da FROM lshpairs),
        lreach(id, r) AS (
          SELECT src, src FROM ledges
          UNION
          SELECT e.src, rr.r FROM ledges e JOIN lreach rr ON e.dst = rr.id),
        lclusters AS (SELECT id AS doc_id, MIN(r) AS cluster FROM lreach GROUP BY id)"""

  /** 64 minhash values per doc as one array column, computed by the
    * codegen'd `minhash_signature` kernel: a SHUFFLE-FREE narrow projection
    * (the equivalent explode → 64×min-aggregate dataflow — kept as the
    * executable spec in TextExpressionsSpec — needs a corpus-wide exchange).
    */
  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      graft.functions.GraftFunctions.minhash_signature(col("text"), 3, NumHashes).as("sig"))

  /** (doc_id, band, sig) LSH bucket rows of a documents-shaped frame: the
    * banded signature d03 equi-joins on. A pure per-row projection —
    * batch plan == streaming micro-batch plan — shared by the batch
    * pipeline (d03) and the streaming signature store (x28).
    */
  def bandBuckets(docs: DataFrame): DataFrame = {
    val sigs = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.minhash_signature(col("text"), 3, NumHashes).as("sig"))
    val bandCols = (0 until NumHashes / BandSize).map { bnd =>
      val cols = (0 until BandSize).map(j => element_at(col("sig"), bnd * BandSize + j + 1))
      struct(lit(bnd).as("band"), xxhash64(cols: _*).as("sig"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
  }

  /** The d03 verify stage on an ARBITRARY (da, db) candidate set: exact
    * 3-shingle Jaccard ≥ 0.5, computed only on the blocked pairs — shared
    * by the batch pipeline and x28's incrementally discovered candidates.
    */
  def jaccardVerified(s: SparkSession, d: String, candidates: DataFrame): DataFrame = {
    val sh = t(s, d, "documents")
      .select(col("doc_id"), shingles3(col("text")).as("sh"))
    val sa = sh.select(col("doc_id").as("da"), col("sh").as("sha"))
    val sb = sh.select(col("doc_id").as("db"), col("sh").as("shb"))
    candidates.join(sa, "da").join(sb, "db")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast(LongType))
      .withColumn("uni", size(col("sha")) + size(col("shb")) - col("inter"))
      .withColumn("jaccard", col("inter").cast(DoubleType) / col("uni"))
      .where(col("jaccard") >= 0.5)
      .select("da", "db", "jaccard")
  }

  /** d03's LSH+verify near-dup pairs (da, db, jaccard ≥ 0.5), an
    * [[Artifacts.shared]] dir: the band self-join + exact verification runs
    * once; d03 serves the artifact, d06 resolves clusters over it.
    */
  def lshPairsShared(s: SparkSession, d: String): DataFrame =
    Catalog.parquet(s, Artifacts.shared("graft_lshpairs", d) { dir =>
      val buckets = bandBuckets(t(s, d, "documents"))
        // both sides of the band self-join — one signature pass
        .localCheckpoint()
      val l = buckets.select(col("doc_id").as("da"), col("band"), col("sig"))
      val r = buckets.select(col("doc_id").as("db"), col("band"), col("sig"))
      val candidates = l.join(r, Seq("band", "sig")).where(col("da") < col("db"))
        .select("da", "db").distinct()
      jaccardVerified(s, d, candidates).write.mode("overwrite").parquet(dir)
    })

  /** d06's cluster labels (doc_id, cluster) over [[lshPairsShared]], an
    * [[Artifacts.shared]] dir: min-label-propagation connected components
    * runs once; d06 serves the labels, d07 applies them, d23 summarizes
    * them — the same one-build/many-readers split as r04/r10's day grid.
    */
  def lshClustersShared(s: SparkSession, d: String): DataFrame =
    Catalog.parquet(s, Artifacts.shared("graft_lshclusters", d) { dir =>
      connectedComponents(lshPairsShared(s, d).select("da", "db"), maxIter = 20)
        .select(col("id").as("doc_id"), col("label").as("cluster"))
        .write.mode("overwrite").parquet(dir)
    })

  /** Min-label propagation to fixpoint over an undirected edge list
    * (da, db): every connected node ends up labeled with the smallest
    * doc_id in its component. Each iteration is one join + one aggregate;
    * `localCheckpoint` truncates the growing lineage so iteration N+1's
    * plan doesn't replay iterations 1..N.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int): DataFrame = {
    // materialize the edge list ONCE before symmetrizing: the union reads
    // its input twice, which would re-execute the (expensive) candidate
    // pipeline feeding this operator
    val e = edges.localCheckpoint()
    val sym = e.select(col("da").as("src"), col("db").as("dst"))
      .union(e.select(col("db").as("src"), col("da").as("dst")))
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    // Convergence via the exact label sum: propagation is MONOTONE (each
    // node's label can only decrease — label' = least(label, nbr-min)), so
    // the sum is strictly decreasing until the fixpoint and "sum
    // unchanged" ⟺ "no label changed". One partial+final aggregate per
    // iteration instead of a join+filter action; DECIMAL(38,0) keeps the
    // sum exact (no Long overflow at billions of nodes × 64-bit ids).
    // SUM over zero rows is SQL NULL — an empty edge list (no candidate
    // pairs anywhere in the corpus) must converge immediately, not NPE.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val v = df.agg(sum(col("label").cast(DecimalType(38, 0)))).head.getDecimal(0)
      if (v == null) java.math.BigDecimal.ZERO else v
    }
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = sym.join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id")).agg(min("label").as("nbr"))
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
        .localCheckpoint()
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      i += 1
    }
    // Exhausting maxIter on a chain-like graph (diameter > maxIter) would
    // otherwise RETURN PARTIAL LABELS silently — the caller's oracle then
    // hash-fails with no local diagnostic (review finding, round 7). Loud
    // failure here names the fix: more iterations or the star variant.
    require(converged,
      s"connectedComponents did not converge in $maxIter iterations — " +
        "component diameter exceeds the cap; raise maxIter or use connectedComponentsStar")
    labels
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR — the
    * two-phase algorithm from the public MapReduce-CC literature. Each
    * round rewires every node toward its neighborhood minimum:
    * large-star hangs strictly-larger neighbors v > u onto
    * m = min(N(u) ∪ u); small-star (on the big→small directed result)
    * collapses each node's smaller neighbors onto their minimum. Converges
    * in O(log n) rounds REGARDLESS of component diameter — min-label
    * propagation ([[connectedComponents]]) needs O(diameter) rounds, so on
    * adversarial graphs (long chains of pairwise near-dups — common when a
    * document family drifts gradually) the star variant wins; both are one
    * shuffle per phase. Output matches [[connectedComponents]] exactly
    * (spec-pinned on path/random/corpus graphs): (id, label = component
    * min).
    */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int): DataFrame = {
    // LAZY localCheckpoints throughout the loop (eager = false): lineage
    // still truncates at every round boundary, but materialization happens
    // inside the SAME job as the round's convergence aggregate — one
    // action per round instead of two (checkpoint + compare). g06 is the
    // slowest steady-state query and scales 1.00 from 8→32 cores: its
    // floor is the per-round action count, not shuffle bytes.
    val e0 = edges.localCheckpoint(false)
    // node set BEFORE dropping self-loops, so a node appearing only in a
    // self-loop edge still gets its (self) label — matching
    // connectedComponents, whose symmetrized edge list keeps such nodes
    val nodes = e0.select(col("da").as("id"))
      .union(e0.select(col("db").as("id"))).distinct()
    val sym0 = e0.select(col("da").as("u"), col("db").as("v"))
      .union(e0.select(col("db").as("u"), col("da").as("v")))
      .where(col("u") =!= col("v")).distinct()

    // Each star phase is ONE window pass (exchange by u + per-u min),
    // not a groupBy + join-back: the min-neighbor lookup and the edge
    // emission read the phase input once. Both phases are insensitive to
    // duplicate input edges (per-u min is unchanged; duplicate emissions
    // collapse in smallStar's round-final distinct), so the intermediate
    // distincts the join form needed are dropped — 2 exchanges per round
    // (plus the final distinct) instead of 5.
    // large-star over a SYMMETRIC edge set → big→small directed edges
    def largeStar(sym: DataFrame): DataFrame = {
      val mv = min(col("v")).over(Window.partitionBy("u"))
      sym.withColumn("m", least(col("u"), mv))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
    }
    // small-star over big→small directed edges (every v < u): per input
    // row emit the self edge (u, mv) and — when v itself moved — the
    // rewired edge (v, mv); exactly the moved ∪ self union of the join
    // form, deduplicated by the final distinct
    def smallStar(dir: DataFrame): DataFrame =
      dir.withColumn("mv", min(col("v")).over(Window.partitionBy("u")))
        .select(explode(array(
          struct(col("u").as("nu"), col("mv").as("nv"), lit(true).as("keep")),
          struct(col("v").as("nu"), col("mv").as("nv"),
            (col("v") =!= col("mv")).as("keep")))).as("e"))
        .where(col("e.keep"))
        .select(col("e.nu").as("u"), col("e.nv").as("v"))
        .where(col("u") =!= col("v")).distinct()

    // Fixpoint test in ONE action: both edge frames are distinct sets, so
    // set equality ⟺ the signed symmetric difference is empty — tag each
    // side ±1, group by edge, and any nonzero per-edge sum means the sets
    // differ. One two-level aggregate per iteration instead of the two
    // exceptAll actions (each a full shuffle of both frames) it replaces.
    // With the lazy checkpoints above, this aggregate is ALSO the job that
    // materializes the round's checkpoint — the round's only action.
    def edgeSetsDiffer(a: DataFrame, b: DataFrame): Boolean = {
      val signed = a.withColumn("__s", lit(1)).union(b.withColumn("__s", lit(-1)))
      val r = signed.groupBy("u", "v").agg(sum(col("__s")).as("__d"))
        .agg(count_if(col("__d") =!= 0).as("__n")).head.getLong(0)
      r != 0L
    }
    var dir = smallStar(largeStar(sym0)).localCheckpoint(false)
    var converged = false
    var i = 1
    while (!converged && i < maxIter) {
      // dir is distinct and u ≠ v on every row, so the two orientations
      // cannot collide — the union needs no dedup (largeStar tolerates
      // duplicates anyway)
      val sym = dir.union(dir.select(col("v").as("u"), col("u").as("v")))
      val next = smallStar(largeStar(sym)).localCheckpoint(false)
      // measured negative result (r09): testing convergence only every 2nd
      // round (skipped tests cost one idempotent extra round) A/B'd WORSE
      // at sf0.1 — solo medians 4.63 s vs 4.17 s — because with the lazy
      // checkpoints the comparison is already the round's ONLY action and
      // an extra star round costs more than the action it saves
      converged = !edgeSetsDiffer(next, dir)
      dir = next
      i += 1
    }
    require(converged || i < maxIter,
      s"connectedComponentsStar did not converge in $maxIter rounds — " +
        "raise maxIter (O(log n) rounds expected; this indicates a bug or an enormous graph)")
    // at the fixpoint edges form stars on component minima: label(u) =
    // min(u, its star center); centers appear only as targets → self label
    val centers = dir.groupBy("u").agg(min("v").as("mv"))
    nodes.join(centers.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id"), least(col("id"), coalesce(col("mv"), col("id"))).as("label"))
  }

  /** Exact lang-blocked 3-shingle Jaccard pairs at J ≥ 0.2 (the d02
    * dataflow): shingle-join candidate generation with shingles above
    * `dfCap` per-lang document frequency excluded from the JOIN only —
    * no ubiquitous shingle can make the candidate space quadratic. The
    * reported inter/jaccard stays EXACT even when the cap is active:
    * surviving pairs recover their hot-shingle intersection from a small
    * per-doc hot-shingle set (bounded — hot shingles are stopword-grade
    * few) joined back on the bounded candidate list, never through the
    * pair space. The only approximation left is recall: a pair whose
    * shared shingles are ALL hot never becomes a candidate (the
    * documented loss mode — all its evidence is ubiquitous). `dfCap < 0`
    * disables the cap (spec baseline).
    */
  def jaccardPairs(s: SparkSession, d: String, dfCap: Int): DataFrame =
    pairGraphShared(s, d, dfCap).where(col("jaccard") >= 0.2)

  /** The df-capped 3-shingle pair graph at the catalog's standard cap, an
    * [[Artifacts.shared]] dir. Seven catalog queries
    * (d02/d06b/d06c/d10/d13/d21/d22) all start from this identical
    * graph and each re-ran its shingle-explode + self-join per query;
    * materializing it once replaces those with one build + bounded parquet
    * reads of O(near-dup pairs) narrow rows. A non-standard dfCap (the
    * spec-suite baselines) bypasses the memo and computes directly.
    */
  def pairGraphShared(s: SparkSession, d: String, dfCap: Int): DataFrame =
    if (dfCap != HotShingleDfCap) shinglePairGraph(s, d, dfCap)
    else Catalog.parquet(s, Artifacts.shared("graft_pairgraph", d) { dir =>
      shinglePairGraph(s, d, HotShingleDfCap)
        .write.mode("overwrite").parquet(dir)
    })

  /** The UNthresholded pair graph behind [[jaccardPairs]] (same candidate
    * generation, no J cut) — d21 applies a containment cut instead.
    * [[sqlPairGraphCtes]] is the SQL twin.
    */
  def shinglePairGraph(s: SparkSession, d: String, dfCap: Int): DataFrame = {
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), shingles3(col("text")).as("sh"))
      .withColumn("sz", size(col("sh")))
    val ex = docs.select(col("doc_id"), col("lang"), col("sz"), explode(col("sh")).as("shingle"))
      // three consumers (df aggregate, the capped join input, hot sets) —
      // checkpoint so the shingle explode runs once per build
      .localCheckpoint()
    val hot =
      if (dfCap < 0) None
      else Some(ex.groupBy("lang", "shingle")
        .agg(count(lit(1)).as("__df")).where(col("__df") > dfCap)
        .select("lang", "shingle"))
    val exf = hot.fold(ex)(h => ex.join(h, Seq("lang", "shingle"), "left_anti"))
    // Candidate generation in ONE exchange (r09): group each (lang,
    // shingle) posting list and expand its id-ordered pairs in place with
    // the codegen'd doc_pairs kernel — row-for-row what the two-sided
    // self-join on (shingle, lang) emitted under da < db, without
    // exchanging the exploded shingle rows twice. The r08 A/B rejected
    // this shape built from nested transform/flatten lambdas (interpreted,
    // slower than the saved exchange); the kernel runs inside whole-stage
    // codegen. Group size is bounded by the hot-shingle df cap, so the
    // in-place k² expansion is bounded exactly where the join's output was.
    val cold = exf.groupBy("lang", "shingle")
      .agg(collect_list(struct(col("doc_id"), col("sz"))).as("ds"))
      .select(explode(graft.functions.GraftFunctions.doc_pairs(col("ds"))).as("p"))
      .select(col("p.da").as("da"), col("p.db").as("db"),
        col("p.sza").as("sza"), col("p.szb").as("szb"))
      .groupBy("da", "db", "sza", "szb")
      .agg(count(lit(1)).as("__cold"))
    val withInter = hot.fold(cold.withColumn("inter", col("__cold"))) { h =>
      val hotSets = ex.join(h, Seq("lang", "shingle"))
        .groupBy("doc_id").agg(collect_set(col("shingle")).as("hsh"))
      cold
        .join(hotSets.select(col("doc_id").as("da"), col("hsh").as("__ha")), Seq("da"), "left")
        .join(hotSets.select(col("doc_id").as("db"), col("hsh").as("__hb")), Seq("db"), "left")
        .withColumn("inter", col("__cold") +
          when(col("__ha").isNull || col("__hb").isNull, lit(0L))
            .otherwise(size(array_intersect(col("__ha"), col("__hb"))).cast(LongType)))
        .drop("__ha", "__hb")
    }
    // canonical column order: the USING-joins above move their key first
    withInter.select("da", "db", "sza", "szb", "inter")
      .withColumn("uni", col("sza") + col("szb") - col("inter"))
      .withColumn("jaccard", col("inter").cast(DoubleType) / col("uni"))
  }

  /** Oracle CTEs for 8-gram benchmark decontamination → `cont(doc_id)`,
    * the contaminated training doc ids (shared by d09 and the p02
    * pipeline; CTE names are 8-suffixed to compose with sqlClusterCtes).
    */
  val sqlDecontCtes: String =
    s"""tt8 AS ${TextOps.sqlDocToks},
        sh8 AS (SELECT doc_id, source,
                       list_distinct(CASE WHEN len($sqlToksNE) >= 8
                         THEN list_transform(range(1, len($sqlToksNE) - 6),
                                i -> array_to_string(($sqlToksNE)[i:i+7], ' '))
                         ELSE [] END) AS sh
                FROM tt8),
        bsh AS (SELECT DISTINCT UNNEST(sh) AS shingle FROM sh8 WHERE source = 'src0'),
        tex AS (SELECT doc_id, UNNEST(sh) AS shingle FROM sh8 WHERE source <> 'src0'),
        cont AS (SELECT DISTINCT doc_id FROM tex JOIN bsh USING (shingle))"""

  /** Distinct 8-gram shingles of the benchmark (src0) split — the
    * broadcast side of EVERY decontamination surface (d09, d16, p04,
    * x13's static side). Eval sets are tiny relative to the corpus, so
    * this set broadcasts at any scale.
    */
  def benchShingles8(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").where(col("source") === "src0")
      .select(explode(
        graft.functions.GraftFunctions.word_shingles(col("text"), 8)).as("shingle"))
      .distinct()

  /** (doc_id, shingle) contamination evidence: every 8-gram a training
    * (non-src0) document shares with the benchmark split — the map-side
    * broadcast semi-join all decontamination surfaces are built on.
    * [[sqlDecontCtes]] is the SQL twin (its `tex JOIN bsh` pair).
    */
  def contaminationHits(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").where(col("source") =!= "src0")
      .select(col("doc_id"), explode(
        graft.functions.GraftFunctions.word_shingles(col("text"), 8)).as("shingle"))
      .join(broadcast(benchShingles8(s, d)), "shingle")

  /** The d09 removal set: ids of contaminated training documents. */
  def contaminatedIds(s: SparkSession, d: String): DataFrame =
    contaminationHits(s, d).select("doc_id").distinct()

  /** Positional (0-based) corpus 8-grams and their corpus document-
    * frequency — the shared base of d14 (duplicate-span coverage) and d18
    * (span removal): one gram convention, so the report and the rewrite
    * can never disagree.
    */
  private def grams8WithDf(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val grams = t(s, d, "documents").select(col("doc_id"),
      posexplode(graft.functions.GraftFunctions.word_ngrams(col("text"), 8))
        .as(Seq("pos", "gram")))
      // callers join grams back against the df table derived from it —
      // checkpoint so the 8-gram explode runs once, not once per branch
      .localCheckpoint()
    (grams, grams.groupBy("gram").agg(count(lit(1)).as("df")))
  }

  val all: Seq[Q] = Seq(
    // Exact dedup: hash-groupBy on content, keep lowest doc_id as canonical.
    Q("d01_exact_dedup",
      (s, d) => t(s, d, "documents")
        .groupBy("text")
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
        .select("keeper_id", "n_copies")
        .orderBy("keeper_id"),
      Some("""SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
              FROM documents GROUP BY text ORDER BY keeper_id""")),

    // NORMALIZED exact dedup — the standard "near-exact" pass that runs
    // before any hashing in a real pipeline: lowercase, collapse every
    // non-alphanumeric run to one space, trim, then exact-group. Catches
    // the dominant duplicate class (same text modulo punctuation /
    // whitespace / case) at exact-dedup cost: one map-only normalization
    // + one hash aggregation, no pair space at all.
    Q("d11_normalized_dedup",
      (s, d) => t(s, d, "documents")
        .withColumn("norm", trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
        .groupBy("norm")
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
        .select("keeper_id", "n_copies")
        .orderBy("keeper_id"),
      Some("""SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
              FROM (SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
                    FROM documents)
              GROUP BY norm ORDER BY keeper_id""")),

    // n-gram (3-shingle) Jaccard near-dup, blocked by lang: the pair space
    // is generated by joining on shared shingles (only docs that share at
    // least one shingle ever meet), not by a cartesian product, and hot
    // shingles (per-lang df > HotShingleDfCap) are excluded from the join
    // so no single ubiquitous shingle can make the candidate space
    // quadratic. Surviving pairs recover their hot intersection exactly
    // (jaccardPairs), so emitted values are true Jaccard even under an
    // active cap; a no-op at test SFs (max df 25 < 50), both properties
    // pinned in DedupOpsSpec.
    // THRESHOLD SWEEP — the dedup-aggressiveness pareto: at each Jaccard
    // cut (0.02/0.05/0.10/0.50 — chosen where this corpus's pair-graph
    // distribution actually moves: ~8k pairs at 2%, ~170 at 5%, ~80 at
    // 10%+, near-identical dups at 50%+), how many near-dup pairs fire, how many
    // docs the first-occurrence pairwise rule removes (a doc is dropped
    // iff it has a smaller-id partner at that cut), and how many tokens
    // leave the corpus. The number a pipeline owner reads before picking
    // THE dedup threshold — too low eats legitimate boilerplate-sharing
    // docs, too high ships duplicates. Thresholds compare in exact
    // cross-multiplied integers (inter·100 ≥ τ%·uni — no float cut); the
    // pair graph is built ONCE (checkpointed) and each cut is a bounded
    // driver-side count (the sim09/sim31 convention, 12 small actions).
    Q("d22_threshold_sweep",
      (s, d) => {
        val pg = pairGraphShared(s, d, HotShingleDfCap)
          .select("da", "db", "inter", "uni").localCheckpoint()
        val ntoks = t(s, d, "documents")
          .select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast(LongType).as("n_toks"))
          .localCheckpoint()
        val nDocs = ntoks.count()
        val rows = Seq(2, 5, 10, 50).map { taupct =>
          val pairs = pg.where(col("inter") * 100 >= lit(taupct) * col("uni"))
          val removed = pairs.select(col("db").as("doc_id")).distinct()
          val nPairs = pairs.count()
          val nRem = removed.count()
          val tokRem = removed.join(ntoks, "doc_id")
            .agg(coalesce(sum("n_toks"), lit(0L)).as("tr")).first().getLong(0)
          (taupct, nPairs, nRem, nDocs - nRem, tokRem)
        }
        import s.implicits._
        rows.toDF("tau_pct", "n_pairs", "n_removed", "n_kept", "tokens_removed")
          .orderBy("tau_pct")
      },
      Some {
        val sweep = Seq(2, 5, 10, 50).map { p =>
          s"""rem_$p AS (SELECT DISTINCT db AS doc_id FROM pgraph
                         WHERE inter * 100 >= $p * uni),
              sw_$p AS (SELECT $p AS tau_pct,
                (SELECT COUNT(*) FROM pgraph WHERE inter * 100 >= $p * uni) AS n_pairs,
                (SELECT COUNT(*) FROM rem_$p) AS n_removed,
                (SELECT n_docs FROM tot) - (SELECT COUNT(*) FROM rem_$p) AS n_kept,
                (SELECT CAST(COALESCE(SUM(n_toks), 0) AS BIGINT)
                 FROM rem_$p JOIN nt USING (doc_id)) AS tokens_removed)"""
        }.mkString(",\n")
        s"""WITH $sqlPairGraphCtes,
              nt AS (SELECT doc_id,
                            CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_toks
                     FROM documents),
              tot AS (SELECT COUNT(*) AS n_docs FROM documents),
              $sweep
           SELECT tau_pct, n_pairs, n_removed, n_kept, tokens_removed
           FROM (SELECT * FROM sw_2 UNION ALL SELECT * FROM sw_5
                 UNION ALL SELECT * FROM sw_10 UNION ALL SELECT * FROM sw_50)
           ORDER BY tau_pct"""
      },
      bench = false),

    Q("d02_ngram_jaccard",
      (s, d) => jaccardPairs(s, d, HotShingleDfCap)
        .select("da", "db", "inter", "uni", "jaccard")
        .orderBy("da", "db"),
      Some(s"""WITH $sqlJaccardCtes
               SELECT da, db, inter, uni, jaccard FROM jpairs ORDER BY da, db""")),

    // MinHash + LSH + verify — the full scalable near-dup pipeline:
    // signatures → 16 bands of 4 → bucket join on (band, band-hash) →
    // candidate pairs → exact Jaccard computed ONLY on candidates → J≥0.5.
    // The candidate stage bounds the pair space (O(collisions), never
    // O(n²)); the verify stage makes the output exact, so spurious band
    // collisions cost one array_intersect each and never escape. Oracled
    // against the driver-side PureSig signature dump (band tuples compared
    // directly in SQL — the engine's xxhash64 band key is only an equality
    // proxy); the spec suite additionally pins recall/precision.
    Q("d03_minhash_lsh",
      (s, d) => lshPairsShared(s, d).orderBy("da", "db"),
      Some(s"""WITH $sqlLshCtes
               SELECT da, db, jaccard FROM lshpairs ORDER BY da, db""")),

    // SimHash: 64-bit signature from token hashes (xxhash64 seed 42);
    // per-bit ±1 votes, bit set when positive; near-dups = small Hamming
    // distance. One-pass codegen'd kernel (the per-bit aggregate()
    // formulation walks the token array 64× interpreted). Oracled against
    // the driver-side PureSig dump (independent xxHash64 from the public
    // spec).
    Q("d04_simhash",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), graft.functions.GraftFunctions.simhash64(col("text")).as("simhash"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, simhash
               FROM '${graft.Verify.SigDumpDir}/doc_sigs.parquet/*.parquet'
               ORDER BY doc_id""")),

    // Cluster resolution — the step that turns near-dup PAIRS into a
    // dedup DECISION: connected components over the LSH+verify pair graph,
    // canonical doc = min doc_id per component. Iterative min-label
    // propagation (one shuffle per iteration, O(log component-diameter)
    // iterations, lineage truncated per step) — the 100 TB-shaped
    // formulation of union-find. Oracled end-to-end via a recursive-CTE
    // transitive closure over the PureSig-dump LSH pair graph; DedupOpsSpec
    // additionally pins it against driver-side union-find.
    Q("d06_dedup_clusters",
      (s, d) => lshClustersShared(s, d).orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $sqlLshClusterCtes
               SELECT doc_id, cluster FROM lclusters ORDER BY doc_id""")),

    // Dedup APPLIED — the end of the pipeline: the corpus with every
    // near-dup cluster collapsed to its canonical (min-id) document.
    // Non-keepers are removed by a broadcast-able anti-join against the
    // (tiny relative to corpus) cluster table.
    Q("d07_dedup_apply",
      (s, d) => {
        val clusters = lshClustersShared(s, d)
        val losers = clusters.where(col("doc_id") =!= col("cluster")).select("doc_id")
        t(s, d, "documents")
          .join(losers, Seq("doc_id"), "left_anti")
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $sqlLshClusterCtes,
                 llosers AS (SELECT doc_id FROM lclusters WHERE doc_id <> cluster)
               SELECT doc_id, lang FROM documents
               WHERE doc_id NOT IN (SELECT doc_id FROM llosers)
               ORDER BY doc_id""")),

    // Clustering with a HARD oracle: same connected-components operator as
    // d06, but over the exact-Jaccard pair graph (d02, itself hash-green) so
    // the whole cluster resolution is DuckDB-checkable end-to-end via a
    // recursive-CTE transitive closure. d06 (LSH-based) remains the 100 TB
    // scale path; this pins the operator's semantics in the hard signal.
    Q("d06b_dedup_clusters_exact",
      (s, d) => {
        val pairs = jaccardPairs(s, d, HotShingleDfCap).select("da", "db")
        connectedComponents(pairs, maxIter = 20)
          .select(col("id").as("doc_id"), col("label").as("cluster"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $sqlClusterCtes
               SELECT doc_id, cluster FROM clusters ORDER BY doc_id"""),
      bench = false),

    // Dedup applied on the oracle-able cluster table: corpus minus
    // non-canonical members — the end-to-end pair-graph → clusters → apply
    // pipeline fully inside the hash-compare gate.
    Q("d07b_dedup_apply_exact",
      (s, d) => {
        val clusters = Catalog.byName("d06b_dedup_clusters_exact").build(s, d)
        val losers = clusters.where(col("doc_id") =!= col("cluster")).select("doc_id")
        t(s, d, "documents")
          .join(losers, Seq("doc_id"), "left_anti")
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $sqlClusterCtes,
                 losers AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster)
               SELECT doc_id, lang FROM documents
               WHERE doc_id NOT IN (SELECT doc_id FROM losers)
               ORDER BY doc_id"""),
      bench = false),

    // The SAME cluster resolution as d06b but via alternating large-star /
    // small-star — the O(log n)-rounds-regardless-of-diameter formulation
    // (min-label propagation needs O(diameter) rounds; document families
    // that drift gradually produce exactly those long chains). Same
    // recursive-CTE oracle as d06b: both algorithms must land on identical
    // clusters.
    Q("d06c_dedup_clusters_star",
      (s, d) => {
        val pairs = jaccardPairs(s, d, HotShingleDfCap).select("da", "db")
        connectedComponentsStar(pairs, maxIter = 20)
          .select(col("id").as("doc_id"), col("label").as("cluster"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $sqlClusterCtes
               SELECT doc_id, cluster FROM clusters ORDER BY doc_id"""),
      bench = false),

    // SimHash near-dup RETRIEVAL (d04 only computes signatures): band the
    // 64-bit simhash into 8 bands of 8 bits; by pigeonhole any pair within
    // hamming ≤ 7 agrees on at least one full band, so the band equi-join
    // finds ALL such pairs (exact recall at this radius) while never
    // forming the O(n²) pair space. Exact hamming (bit_count of xor) is
    // verified only on band collisions — the simhash mirror of the
    // MinHash→LSH→verify shape. Oracled against the PureSig dump (banding
    // and hamming mirrored in SQL over the driver-computed signatures);
    // DedupOpsSpec pins completeness against brute-force hamming.
    // Scale note: per-band candidate volume is ~n²/2^W for W-bit bands, so
    // W must grow with corpus size (at 10⁹ docs use 4×16-bit bands →
    // radius 3, the standard web-dedup setting; radius and W trade off via
    // bands > radius). W=8 fits the test corpus; the shape is unchanged.
    Q("d08_simhash_neardup",
      (s, d) => {
        val sh = t(s, d, "documents").select(col("doc_id"),
          graft.functions.GraftFunctions.simhash64(col("text")).as("sh"))
        val bands = sh.select(col("doc_id"), col("sh"),
          posexplode(array((0 until 8).map(b =>
            shiftright(col("sh"), b * 8).bitwiseAND(lit(0xFFL))): _*)).as(Seq("band", "key")))
          // both sides of the band self-join — checkpoint so the simhash
          // kernel + banding runs once, not per join side
          .localCheckpoint()
        val a = bands.select(col("doc_id").as("da"), col("sh").as("sha"), col("band"), col("key"))
        val b = bands.select(col("doc_id").as("db"), col("sh").as("shb"), col("band"), col("key"))
        a.join(b, Seq("band", "key")).where(col("da") < col("db"))
          .select("da", "db", "sha", "shb").distinct()
          .withColumn("hamming", bit_count(col("sha").bitwiseXOR(col("shb"))).cast(IntegerType))
          .where(col("hamming") <= 7)
          .select("da", "db", "hamming")
          .orderBy("da", "db")
      },
      Some(s"""WITH s AS (SELECT doc_id, simhash
                          FROM '${graft.Verify.SigDumpDir}/doc_sigs.parquet/*.parquet'),
                 hbands AS (SELECT doc_id, simhash, b, (simhash >> CAST(b*8 AS INT)) & 255 AS key
                            FROM s, LATERAL (SELECT UNNEST(range(0, 8)) AS b)),
                 hcand AS (SELECT DISTINCT a.doc_id AS da, a.simhash AS sha,
                                           c.doc_id AS db, c.simhash AS shb
                           FROM hbands a JOIN hbands c
                             ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id)
               SELECT da, db, CAST(bit_count(xor(sha, shb)) AS INT) AS hamming
               FROM hcand WHERE bit_count(xor(sha, shb)) <= 7
               ORDER BY da, db""")),

    // Benchmark DECONTAMINATION — the training-pipeline step the dedup
    // family exists to serve: remove from the training split every document
    // that shares an 8-word-gram with the held-out benchmark split (src0
    // stands in for the eval set). 8-grams (vs the dedup family's 3-grams)
    // follow the published LM-decontamination practice: long enough that a
    // collision means real text overlap, not phrase coincidence. Scale
    // shape: the benchmark side is tiny relative to the corpus (eval sets
    // are thousands of docs vs billions), so its distinct-shingle set is
    // BROADCAST and contamination detection is a map-side semi-join — the
    // 100 TB pass reads the corpus exactly once with no corpus-wide
    // shuffle; the final anti-join keys on doc_id against the (small)
    // contaminated-id set.
    Q("d09_decontaminate",
      (s, d) => {
        // no broadcast hint on the contaminated set: it is USUALLY tiny,
        // but unlike the benchmark shingles it is not bounded by the eval
        // set's size (an adversarially-overlapping corpus contaminates
        // everything) — let AQE pick broadcast when it measures small
        t(s, d, "documents").where(col("source") =!= "src0")
          .join(contaminatedIds(s, d), Seq("doc_id"), "left_anti")
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some(s"""WITH $sqlDecontCtes
               SELECT doc_id, lang, source FROM documents
               WHERE source <> 'src0' AND doc_id NOT IN (SELECT doc_id FROM cont)
               ORDER BY doc_id""")),

    // Edit-distance (Levenshtein) verification over the BLOCKED candidate
    // pairs — the exact character-level string metric of the near-dup
    // family (Jaccard is token-set, SimHash is bit-sketch; Levenshtein
    // catches small in-place edits both can miss). O(len²) per pair, so at
    // scale it only ever runs on candidates from blocking (here the d02
    // pair graph; at 100 TB, the LSH candidates), NEVER the raw pair
    // space. Both engines implement unit-cost Levenshtein identically;
    // the normalized similarity is one IEEE division of exact ints.
    Q("d10_edit_distance",
      (s, d) => {
        val pairs = jaccardPairs(s, d, HotShingleDfCap).select("da", "db")
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val ta = docs.select(col("doc_id").as("da"), col("text").as("ta"))
        val tb = docs.select(col("doc_id").as("db"), col("text").as("tb"))
        pairs.join(ta, "da").join(tb, "db")
          .withColumn("lev", levenshtein(col("ta"), col("tb")))
          .withColumn("sim",
            lit(1.0) - col("lev").cast(DoubleType) / greatest(length(col("ta")), length(col("tb"))))
          .select("da", "db", "lev", "sim")
          .orderBy("da", "db")
      },
      Some(s"""WITH $sqlJaccardCtes
               SELECT da, db, CAST(levenshtein(ta.text, tb.text) AS INT) AS lev,
                      1.0 - CAST(levenshtein(ta.text, tb.text) AS DOUBLE)
                            / greatest(length(ta.text), length(tb.text)) AS sim
               FROM jpairs JOIN documents ta ON ta.doc_id = jpairs.da
                           JOIN documents tb ON tb.doc_id = jpairs.db
               ORDER BY da, db""")),

    // Embedding-cosine near-dup: probe block vs corpus, threshold 0.2
    // (synthetic embeddings are near-orthogonal; threshold exercises the
    // scan without emitting the full pair space).
    Q("d05_embedding_neardup",
      (s, d) => SimilarityOps.probePairsShared(s, d, 50)
        .where(col("cos_sim") >= 0.2)
        .select("qid", "vec_id", "cos_sim")
        .orderBy("qid", "vec_id"),
      Some(s"""SELECT qid, vec_id, cos_sim FROM (${SimilarityOps.sqlProbePairs(50)})
               WHERE cos_sim >= 0.2 ORDER BY qid, vec_id""")),

    // CROSS-SOURCE LEAKAGE MATRIX — the data-governance report over the
    // near-dup pair graph: for every (source, source) pair, how many
    // near-duplicate document pairs cross it (diagonal = within-source
    // duplication, off-diagonal = content leaking between sources —
    // which d09-style decontamination and train/eval splits care about).
    // Composes d02's exact pair graph; the source attach is two equi-joins
    // of the SMALL pair list against the doc table, the matrix is
    // ≤ sources² rows. Canonicalized to upper-triangular with
    // least/greatest so the pair orientation cannot split counts.
    Q("d13_source_leakage",
      (s, d) => {
        // the pair list comes straight from jaccardPairs (d02 minus its
        // oracle-determinism sort — ordering is irrelevant to a join
        // input); its size is data-dependent (O(k²) per duplicate
        // cluster), so join strategy is left to AQE rather than forced
        // to a broadcast that a high-duplication corpus would overflow
        val pairs = jaccardPairs(s, d, HotShingleDfCap).select("da", "db")
        val src = t(s, d, "documents").select(col("doc_id"), col("source"))
        pairs
          .join(src.select(col("doc_id").as("da"), col("source").as("sa")), Seq("da"))
          .join(src.select(col("doc_id").as("db"), col("source").as("sb")), Seq("db"))
          .groupBy(least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""WITH $sqlJaccardCtes
               SELECT LEAST(a.source, b.source) AS source_a,
                      GREATEST(a.source, b.source) AS source_b,
                      COUNT(*) AS n_pairs
               FROM jpairs j JOIN documents a ON a.doc_id = j.da
                             JOIN documents b ON b.doc_id = j.db
               GROUP BY 1, 2 ORDER BY 1, 2"""),
      bench = false),

    // DUPLICATE-SPAN COVERAGE — the exact-substring dedup signal (the
    // suffix-array method's verdict, re-expressed as dataflow): a token
    // position is "duplicated" when its 8-gram occurs anywhere else in the
    // corpus; per doc we report how many positions that covers and how many
    // contiguous duplicated RUNS they form. Positional (non-deduping)
    // 8-grams from the codegen'd word_ngrams kernel; corpus df is the
    // standard two-level aggregate with map-side combine; the membership
    // join is an equi-join on the gram; the run-detection window is
    // partitioned BY doc — no global window at any corpus size. 8-grams
    // (not 3) so a hit means real text overlap, matching d09's convention.
    Q("d14_duplicate_spans",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val (grams, dfreq) = grams8WithDf(s, d)
        val w = Window.partitionBy("doc_id").orderBy("pos")
        grams.join(dfreq, "gram")
          .withColumn("dup", col("df") > 1)
          .withColumn("sstart",
            col("dup") && !coalesce(lag(col("dup"), 1).over(w), lit(false)))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            count_if(col("dup")).as("n_dup"),
            count_if(col("sstart")).as("n_spans"))
          .withColumn("dup_fraction", col("n_dup").cast(DoubleType) / col("n_grams"))
          .orderBy("doc_id")
      },
      Some("""WITH tt AS (SELECT doc_id,
                                 list_filter(string_split_regex(trim(text), '\s+'),
                                             t -> length(t) > 0) AS toks
                          FROM documents),
                 g AS (SELECT doc_id, i AS pos, array_to_string(toks[i:i+7], ' ') AS gram
                       FROM tt, LATERAL (SELECT UNNEST(range(1, len(toks) - 6)) AS i)),
                 dfreq AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram),
                 fl AS (SELECT doc_id, pos, (df > 1) AS dup FROM g JOIN dfreq USING (gram)),
                 st AS (SELECT doc_id, dup,
                               dup AND NOT COALESCE(LAG(dup) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS sstart
                        FROM fl)
              SELECT doc_id, COUNT(*) AS n_grams,
                     CAST(COUNT(*) FILTER (dup) AS BIGINT) AS n_dup,
                     CAST(COUNT(*) FILTER (sstart) AS BIGINT) AS n_spans,
                     CAST(COUNT(*) FILTER (dup) AS DOUBLE) / COUNT(*) AS dup_fraction
              FROM st GROUP BY doc_id ORDER BY doc_id""")),

    // WINNOWING FINGERPRINTS (Schleimer/Wilkerson/Aiken, the MOSS
    // algorithm): per document, hash every 4-gram and keep the MINIMUM
    // hash of each sliding window of 4 consecutive positions — the
    // guarantee is that any shared substring of ≥ 7 tokens contributes at
    // least one IDENTICAL selected fingerprint to both documents, at ~1/4
    // the storage of the full gram set. Hash = md5 (identical across
    // engines — xxhash64 would be engine-internal); the selection windows
    // are partitioned BY doc, the fingerprint set is the distinct output.
    // At scale the fingerprint table feeds the same bucketed equi-join as
    // d03's bands.
    Q("d15_winnowing",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val grams = t(s, d, "documents")
          .select(col("doc_id"),
            posexplode(graft.functions.GraftFunctions.word_ngrams(col("text"), 4))
              .as(Seq("pos", "gram")))
          .withColumn("fp", md5(col("gram").cast(BinaryType)))
        val wN = Window.partitionBy("doc_id")
        val wWin = Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(Window.currentRow, 3)
        grams
          .withColumn("n", count(lit(1)).over(wN))
          .withColumn("wmin", min(col("fp")).over(wWin))
          .where(col("pos") <= col("n") - 4) // full windows only (pos 0-based)
          .select(col("doc_id"), col("wmin").as("fingerprint")).distinct()
          .orderBy("doc_id", "fingerprint")
      },
      Some("""WITH tt AS (SELECT doc_id,
                                 list_filter(string_split_regex(trim(text), '\s+'),
                                             t -> length(t) > 0) AS toks
                          FROM documents),
                 g AS (SELECT doc_id, i AS pos, md5(array_to_string(toks[i:i+3], ' ')) AS fp
                       FROM tt, LATERAL (SELECT UNNEST(range(1, len(toks) - 2)) AS i)),
                 wm AS (SELECT doc_id, pos,
                               COUNT(*) OVER (PARTITION BY doc_id) AS n,
                               MIN(fp) OVER (PARTITION BY doc_id ORDER BY pos
                                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
                        FROM g)
              SELECT DISTINCT doc_id, wmin AS fingerprint
              FROM wm WHERE pos <= n - 3
              ORDER BY doc_id, fingerprint""")),

    // CONTAMINATION REPORT — d09's decision with its evidence: for each
    // contaminated training document, how many distinct benchmark 8-grams
    // it shares with the eval split and one example gram (the audit
    // artifact a decontamination run ships alongside the removal list).
    // Same broadcast semi-join shape as d09: the benchmark shingle set is
    // eval-split-sized, the per-doc aggregate keys on doc_id.
    Q("d16_contamination_report",
      (s, d) => contaminationHits(s, d)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"), min(col("shingle")).as("example_shingle"))
        .orderBy("doc_id"),
      Some(s"""WITH $sqlDecontCtes
               SELECT doc_id, COUNT(*) AS n_hits, MIN(shingle) AS example_shingle
               FROM tex JOIN bsh USING (shingle)
               GROUP BY doc_id ORDER BY doc_id"""),
      bench = false),

    // SKETCH QUALITY IN THE GATE — the MinHash estimator itself, measured:
    // for every exact-Jaccard pair (d02), the fraction of agreeing
    // signature positions (the unbiased MinHash estimate of J, E[match] =
    // J per position) next to the true value and the absolute error — the
    // sim04-style "is the sketch actually good" row for the dedup family.
    // Engine side uses its codegen'd signatures; the oracle recomputes the
    // agreement from the INDEPENDENT PureSig dump, so a signature-kernel
    // regression shows up as a hash mismatch here even if banding (d03)
    // still collides. The signature join touches only the bounded d02 pair
    // list.
    Q("d17_minhash_estimate",
      (s, d) => {
        val pairs = jaccardPairs(s, d, HotShingleDfCap)
          .select("da", "db", "jaccard")
        val sigs = minhashSignatures(s, d)
        val sa = sigs.select(col("doc_id").as("da"), col("sig").as("siga"))
        val sb = sigs.select(col("doc_id").as("db"), col("sig").as("sigb"))
        pairs.join(sa, "da").join(sb, "db")
          .withColumn("n_match",
            size(filter(zip_with(col("siga"), col("sigb"), (x, y) => x === y),
              b => b)).cast(LongType))
          .withColumn("est_jaccard", col("n_match").cast(DoubleType) / NumHashes)
          .withColumn("abs_err", abs(col("est_jaccard") - col("jaccard")))
          .select("da", "db", "jaccard", "n_match", "est_jaccard", "abs_err")
          .orderBy("da", "db")
      },
      Some {
        val dump = s"'${graft.Verify.SigDumpDir}/doc_sigs.parquet/*.parquet'"
        s"""WITH $sqlJaccardCtes,
              sg AS (SELECT doc_id, sig FROM $dump),
              m AS (
                SELECT da, db, jaccard,
                       CAST(list_sum(list_transform(range(1, ${NumHashes + 1}),
                              i -> CASE WHEN a.sig[CAST(i AS INT)] = b.sig[CAST(i AS INT)]
                                        THEN 1 ELSE 0 END)) AS BIGINT) AS n_match
                FROM jpairs JOIN sg a ON a.doc_id = da JOIN sg b ON b.doc_id = db)
            SELECT da, db, jaccard, n_match,
                   CAST(n_match AS DOUBLE) / $NumHashes AS est_jaccard,
                   ABS(CAST(n_match AS DOUBLE) / $NumHashes - jaccard) AS abs_err
            FROM m ORDER BY da, db"""
      },
      bench = false),

    // DUPLICATE-SPAN REMOVAL — d14's APPLY step (the published exact-
    // substring dedup actually REWRITES documents, cutting repeated
    // spans, rather than dropping whole docs): a token is removed when
    // any corpus-duplicated 8-gram covers it; the document is rebuilt
    // from the surviving tokens. Coverage expansion is a bounded explode
    // (8 positions per duplicated gram); the rebuild is a per-doc
    // sort+join aggregate — partitioned BY doc, no global ordering.
    // Docs shorter than 8 tokens have no grams and survive unchanged.
    Q("d18_dedup_spans_apply",
      (s, d) => {
        val docs = t(s, d, "documents")
        // regex-split + empty filter == the kernel's scan tokenization on
        // EVERY input (the kernels separate on exactly the regex \s class
        // — isWs in TextKernels), so these positions index the same token
        // list the 8-grams were built from
        val toksNE = filter(TextOps.tokens(col("text")), t => length(t) > 0)
        val toksP = docs.select(col("doc_id"), posexplode(toksNE).as(Seq("pos", "tok")))
        val (grams, dfreq) = grams8WithDf(s, d)
        val covered = grams.join(dfreq, "gram").where(col("df") > 1)
          .select(col("doc_id"),
            explode(sequence(col("pos"), col("pos") + 7)).as("pos"))
          .distinct()
          .withColumn("cov", lit(true))
        toksP.join(covered, Seq("doc_id", "pos"), "left")
          .withColumn("cov", coalesce(col("cov"), lit(false)))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_toks"),
            count_if(!col("cov")).as("n_kept"),
            array_join(
              transform(
                array_sort(collect_list(when(!col("cov"), struct(col("pos"), col("tok"))))),
                s => s.getField("tok")),
              " ").as("clean_text"))
          .orderBy("doc_id")
      },
      Some("""WITH tt AS (SELECT doc_id,
                                 list_filter(string_split_regex(trim(text), '\s+'),
                                             t -> length(t) > 0) AS toks
                          FROM documents),
                 tokp AS (SELECT doc_id, UNNEST(toks) AS tok,
                                 UNNEST(range(0, len(toks))) AS pos
                          FROM tt),
                 g AS (SELECT doc_id, i - 1 AS gpos, array_to_string(toks[i:i+7], ' ') AS gram
                       FROM tt, LATERAL (SELECT UNNEST(range(1, len(toks) - 6)) AS i)),
                 dfreq AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram),
                 covered AS (SELECT DISTINCT doc_id, UNNEST(range(gpos, gpos + 8)) AS pos
                             FROM g JOIN dfreq USING (gram) WHERE df > 1),
                 kept AS (SELECT t.doc_id, t.pos, t.tok, (c.pos IS NOT NULL) AS cov
                          FROM tokp t LEFT JOIN covered c
                            ON c.doc_id = t.doc_id AND c.pos = t.pos)
              SELECT doc_id, COUNT(*) AS n_toks,
                     CAST(COUNT(*) FILTER (NOT cov) AS BIGINT) AS n_kept,
                     COALESCE(string_agg(tok, ' ' ORDER BY pos) FILTER (NOT cov), '') AS clean_text
              FROM kept GROUP BY doc_id ORDER BY doc_id"""),
      bench = false),

    // SOFT DEDUP — the weighting alternative to d07's hard drop: instead
    // of deleting near-duplicates, every document is down-WEIGHTED by its
    // cluster size (weight = 1/|cluster|), so each duplicate cluster
    // contributes exactly one document's worth of training mass and no
    // content is lost. Cluster resolution reuses d06b's connected
    // components over the exact-Jaccard pair graph (hash-green end to
    // end); docs outside every cluster are singletons (weight 1). Weights
    // are scaled INTEGER parts-per-million (1e6 div size) so the
    // per-source rollup is an exact integer sum — no float accumulation
    // order to diverge on. The rollup emits per source: raw doc count vs
    // effective (deduped) mass — the number a data card reports.
    Q("d19_soft_dedup_weights",
      (s, d) => {
        val clusters = Catalog.byName("d06b_dedup_clusters_exact").build(s, d)
        val sizes = clusters.groupBy("cluster").agg(count(lit(1)).as("csize"))
        val weighted = t(s, d, "documents").select("doc_id", "source")
          .join(clusters, Seq("doc_id"), "left")
          .join(sizes, Seq("cluster"), "left")
          .withColumn("csize", coalesce(col("csize"), lit(1L)))
          .withColumn("w_ppm", expr("1000000 div csize"))
        weighted.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("w_ppm").as("effective_ppm"))
          .orderBy("source")
      },
      Some(s"""WITH RECURSIVE $sqlClusterCtes,
                 csizes AS (SELECT cluster, COUNT(*) AS csize FROM clusters GROUP BY 1),
                 dw AS (SELECT d.doc_id, d.source, COALESCE(z.csize, 1) AS csize
                        FROM documents d
                        LEFT JOIN clusters c ON d.doc_id = c.doc_id
                        LEFT JOIN csizes z ON c.cluster = z.cluster)
               SELECT source, COUNT(*) AS n_docs,
                      CAST(SUM(1000000 // csize) AS BIGINT) AS effective_ppm
               FROM dw GROUP BY source ORDER BY source"""),
      bench = false),

    // CORPUS-LEVEL LINE DEDUP (C4/RefinedWeb's "dedup at the line level
    // across the corpus"): every page line that occurs elsewhere in the
    // corpus is removed EXCEPT its first occurrence, and documents are
    // rebuilt from the survivors. Fixture docs are single-line, so pages
    // are synthesized the t24 way (deterministic 10-token lines, identical
    // formula in the oracle) — the operator consumes only (doc_id, pos,
    // line). First occurrence = the minimum of the line's occurrence keys
    // occ = doc_id·2^16 + pos (exact integer; pos < 2^16 holds by
    // construction — ≤ ceil(tokens/10) lines per doc and the longest
    // fixture doc is 100 tokens; a real corpus would widen the shift).
    // Scale shape: one explode, ONE map-side-combined aggregate on the
    // line text (min(occ) — never a window over the corpus), an equi-join
    // back on the line, and a per-doc sort+rebuild (the d18 convention).
    // Hot lines (boilerplate repeated millions of times) cost one combine
    // cell each, not a shuffle of their occurrence list.
    Q("d20_line_dedup",
      (s, d) => {
        val occ = t(s, d, "documents")
          .withColumn("toks", split(trim(col("text")), "\\s+"))
          .withColumn("lines", expr(
            "transform(sequence(0, (size(toks)+9) div 10 - 1), i -> array_join(slice(toks, i*10+1, 10), ' '))"))
          .select(col("doc_id"), posexplode(col("lines")).as(Seq("pos", "line")))
          .withColumn("occ", col("doc_id") * lit(65536L) + col("pos"))
          // two consumers (the canon aggregate and the join back) — one
          // checkpoint so the tokenize + line-slice lambda runs once
          .localCheckpoint()
        val first = occ.groupBy("line").agg(min("occ").as("canon"))
        occ.join(first, "line")
          .withColumn("kept", col("occ") === col("canon"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_lines"),
            count_if(col("kept")).as("n_kept"),
            array_join(transform(
              array_sort(collect_list(when(col("kept"), struct(col("pos"), col("line"))))),
              x => x("line")), " ").as("content"))
          .orderBy("doc_id")
      },
      Some("""WITH dt AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
                          FROM documents),
                 ln AS (SELECT doc_id, list_transform(range(0, (len(toks)+9)//10), i ->
                          array_to_string(toks[CAST(i*10+1 AS INT):CAST(i*10+10 AS INT)], ' ')) AS lines
                        FROM dt),
                 oc AS (SELECT doc_id, CAST(j - 1 AS BIGINT) AS pos, lines[CAST(j AS INT)] AS line,
                               doc_id * 65536 + (j - 1) AS occ
                        FROM ln, LATERAL (SELECT UNNEST(range(1, len(lines) + 1)) AS j)),
                 fo AS (SELECT line, MIN(occ) AS canon FROM oc GROUP BY line)
               SELECT doc_id, COUNT(*) AS n_lines,
                      CAST(COUNT(*) FILTER (occ = canon) AS BIGINT) AS n_kept,
                      COALESCE(string_agg(line, ' ' ORDER BY pos) FILTER (occ = canon), '') AS content
               FROM oc JOIN fo USING (line)
               GROUP BY doc_id ORDER BY doc_id""")),

    // CONTAINMENT NEAR-DUP — the asymmetric complement of d02: report
    // pairs where the SMALLER shingle set is ≥ 80% covered by the
    // intersection (|A∩B| ∕ min(|A|,|B|)). Catches a short document
    // embedded in a longer one, which symmetric Jaccard structurally
    // misses (inter = |A| but union ≈ |B| ⇒ J small) — the "quote of a
    // whole article" duplication mode. Same df-capped shingle-join
    // candidate space as d02 (bounded fan-out, exact inter restored from
    // hot sets); the threshold is an integer cross-multiplication
    // (inter·5 ≥ min·4) — no floats in the predicate. `contained_id`
    // reports the direction (the covered side; ties → da).
    Q("d21_containment",
      (s, d) => pairGraphShared(s, d, HotShingleDfCap)
        .where(col("inter") * 5 >= least(col("sza"), col("szb")) * 4)
        .withColumn("contained_id",
          when(col("szb") < col("sza"), col("db")).otherwise(col("da")))
        .select("da", "db", "sza", "szb", "inter", "contained_id")
        .orderBy("da", "db"),
      Some(s"""WITH $sqlPairGraphCtes
               SELECT da, db, sza, szb, inter,
                      CASE WHEN szb < sza THEN db ELSE da END AS contained_id
               FROM pgraph
               WHERE inter * 5 >= LEAST(sza, szb) * 4
               ORDER BY da, db""")),

    // CLUSTER-SIZE HISTOGRAM — the shape-of-duplication report read off
    // d06's resolved clusters, SINGLETONS INCLUDED (an un-paired doc is
    // its own cluster of one — without that row the histogram silently
    // describes only the duplicated minority): how many clusters of each
    // size the near-dup graph resolves to. The tail of this histogram is
    // what dedup actually removes; a fat tail means boilerplate families,
    // a spike at 2 means pairwise near-copies. Two map-side-combined
    // aggregates over the cluster table; output is O(max cluster size).
    Q("d23_cluster_size_histogram",
      (s, d) => {
        val clusters = lshClustersShared(s, d)
        t(s, d, "documents").select("doc_id")
          .join(clusters, Seq("doc_id"), "left")
          .select(coalesce(col("cluster"), col("doc_id")).as("cluster"))
          .groupBy("cluster").agg(count(lit(1)).as("sz"))
          .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
          .orderBy("sz")
      },
      Some(s"""WITH RECURSIVE $sqlLshClusterCtes,
                 fullc AS (SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
                           FROM documents d LEFT JOIN lclusters c USING (doc_id)),
                 per AS (SELECT cluster, COUNT(*) AS sz FROM fullc GROUP BY 1)
               SELECT sz, COUNT(*) AS n_clusters FROM per
               GROUP BY sz ORDER BY sz"""),
      bench = false)
  )
}
