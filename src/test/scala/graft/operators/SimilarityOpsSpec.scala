package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** ANN semantics: the LSH path must agree exactly with brute force on the
  * pairs it emits (precision-exact by construction), and bucketing must be
  * deterministic.
  */
class SimilarityOpsSpec extends SparkSpec {

  private lazy val brute: Map[(Long, Long), Double] =
    SimilarityOps.probePairs(spark, sfDir, 50)
      .select("qid", "vec_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("probePairsShared is bit-identical to a direct probePairs slice") {
    // the shared artifact (one materialized scan at ProbePairsMax) must
    // reproduce every caller's direct computation exactly — same pairs,
    // same IEEE double score bits — for a representative probe block
    val shared = SimilarityOps.probePairsShared(spark, sfDir, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val direct = SimilarityOps.probePairs(spark, sfDir, 16)
      .select("qid", "vec_id", "cos_sim")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(shared.nonEmpty && shared.keySet === direct.keySet)
    direct.foreach { case (p, v) =>
      assert(java.lang.Double.doubleToRawLongBits(shared(p)) ===
        java.lang.Double.doubleToRawLongBits(v), s"pair $p: shared=${shared(p)} direct=$v")
    }
  }

  test("sim02 ANN cosine values are exactly the brute-force values") {
    val ann = Catalog.byName("sim02_ann_lsh").build(spark, sfDir)
      .select("qid", "vec_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(ann.nonEmpty)
    ann.foreach { case (p, c) =>
      assert(brute.get(p).exists(b => math.abs(b - c) < 1e-12),
        s"pair $p: ann=$c brute=${brute.get(p)}")
    }
  }

  test("sim03 IVF cosine values are exactly the brute-force values") {
    val ivf = Catalog.byName("sim03_ann_ivf").build(spark, sfDir)
      .select("qid", "vec_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(ivf.nonEmpty)
    ivf.foreach { case (p, c) =>
      assert(brute.get(p).exists(b => math.abs(b - c) < 1e-12),
        s"pair $p: ivf=$c brute=${brute.get(p)}")
    }
    // every probe returns results (4 of 16 cells probed on a ~uniform
    // corpus always yields candidates)
    assert(ivf.map(_._1._1).distinct.length === 10)
  }

  test("lsh bucket is deterministic and stable across runs") {
    val b1 = SimilarityOps.withNorm(spark, sfDir)
      .withColumn("b", SimilarityOps.lshBucket(col("embedding")))
      .select("vec_id", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = SimilarityOps.withNorm(spark, sfDir)
      .withColumn("b", SimilarityOps.lshBucket(col("embedding")))
      .select("vec_id", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 === b2)
    // buckets spread: not everything in one bucket
    assert(b1.values.toSet.size > 4, s"only ${b1.values.toSet.size} distinct buckets")
  }

  test("scaled dot product is exact and order-independent") {
    import spark.implicits._
    val v = Seq((Seq(0.5f, -0.25f, 0.125f), Seq(0.25f, 0.5f, -1.0f))).toDF("a", "b")
    val dot = v.select(SimilarityOps.scaledDot(col("a"), col("b"))).head.getLong(0)
    val expected = Seq(0.5 * 0.25, -0.25 * 0.5, 0.125 * -1.0)
      .map(x => math.floor(x * SimilarityOps.SCALE).toLong).sum
    assert(dot === expected)
  }

  test("scaled_dot kernel == zip_with/aggregate dataflow on real embeddings") {
    val declarative = aggregate(
      zip_with(col("embedding"), col("e2"), (x, y) =>
        floor(x.cast("double") * y.cast("double") * lit(SimilarityOps.SCALE))),
      lit(0L), (acc, x) => acc + x)
    val e = Catalog.t(spark, sfDir, "embeddings")
    val pairs = e.select(col("vec_id"), col("embedding"))
      .crossJoin(e.select(col("embedding").as("e2"), col("vec_id").as("v2")).where(col("v2") < 3))
    val bad = pairs.select(
      SimilarityOps.scaledDot(col("embedding"), col("e2")).as("fast"),
      declarative.as("slow"))
      .where(col("fast") =!= col("slow")).count()
    assert(bad === 0)
  }

  test("scaled_l2 kernel == zip_with/aggregate dataflow, float×float AND float×double") {
    def declarative(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(
        zip_with(a, b, (x, y) =>
          floor((x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")) * lit(SimilarityOps.SCALE)).cast("long")),
        lit(0L), (acc, x) => acc + x)
    val e = Catalog.t(spark, sfDir, "embeddings")
    val pairs = e.select(col("vec_id"), col("embedding"))
      .crossJoin(e.select(col("embedding").as("e2"), col("vec_id").as("v2")).where(col("v2") < 3))
    // float × float
    val badFF = pairs.select(
      SimilarityOps.scaledL2(col("embedding"), col("e2")).as("fast"),
      declarative(col("embedding"), col("e2")).as("slow"))
      .where(col("fast") =!= col("slow")).count()
    assert(badFF === 0, "float×float kernel diverged from the dataflow spec")
    // float × double (the sim26 asymmetric shape)
    val withD = pairs.withColumn("d2",
      org.apache.spark.sql.functions.transform(col("e2"), _.cast("double")))
    val badFD = withD.select(
      SimilarityOps.scaledL2(col("embedding"), col("d2")).as("fast"),
      declarative(col("embedding"), col("d2")).as("slow"))
      .where(col("fast") =!= col("slow")).count()
    assert(badFD === 0, "float×double kernel diverged from the dataflow spec")
    // null propagation matches the declarative form
    import spark.implicits._
    val n = Seq((Seq(1.0f, 2.0f), Option.empty[Seq[Float]])).toDF("a", "b")
    assert(n.select(SimilarityOps.scaledL2(col("a"), col("b"))).head.isNullAt(0))
  }

  test("sim28: pareto rows reconcile with the per-probe recall queries they summarize") {
    val pareto = Catalog.byName("sim28_quantization_pareto").build(spark, sfDir).collect()
      .map(r => r.getAs[String]("method") -> r.getAs[Double]("mean_recall")).toMap
    def meanOf(q: String) = Catalog.byName(q).build(spark, sfDir).collect()
      .map(_.getAs[Long]("n_hit")).sum.toDouble / 30
    assert(pareto("pq_adc") == meanOf("sim17_pq_recall"), "pq_adc row != sim17 mean")
    assert(pareto("sq_adc") == meanOf("sim27_sq_recall"), "sq_adc row != sim27 mean")
    assert(pareto("pq_adc_rerank") == meanOf("sim19_pq_adc_rerank"), "rerank row != sim19 mean")
    assert(pareto("full_float") == 1.0, "exact search must anchor at recall 1")
    // the pareto must be honest: rerank >= raw ADC, SQ >= PQ at 16× the bytes
    assert(pareto("pq_adc_rerank") >= pareto("pq_adc") && pareto("sq_adc") >= pareto("pq_adc"))
  }

  test("sim05 Lloyd step == driver-side recomputation from raw embeddings") {
    import spark.implicits._
    val SCALE = SimilarityOps.SCALE
    val rows = Catalog.t(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def sdot(a: Array[Float], b: Array[Float]): Long =
      a.indices.map(i => math.floor(a(i).toDouble * b(i).toDouble * SCALE).toLong).sum
    val cents = rows.filter(_._1 < SimilarityOps.IvfCells).sortBy(_._1).map(_._2)
    val cnorm = cents.map(c => sdot(c, c))
    def cellOf(v: Array[Float]): Int = {
      val scores = cents.indices.map(k => sdot(v, cents(k)).toDouble / math.sqrt(cnorm(k).toDouble))
      scores.indexOf(scores.max) // first occurrence of max = lowest cell
    }
    val dims = rows.head._2.length
    val expected = (for {
      (c, members) <- rows.groupBy { case (_, v) => cellOf(v) }.toSeq
      dim <- 0 until dims
    } yield {
      val n = members.length.toLong
      val ssum = members.map { case (_, v) => BigInt(math.floor(v(dim).toDouble * SCALE).toLong) }.sum
      (c, dim, n, ssum.toDouble / (n * SCALE))
    }).toSet
    val got = Catalog.byName("sim05_kmeans_step").build(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === expected)
  }

  test("Lloyd training reaches a TRUE assignment fixpoint on the corpus") {
    val (cents, iters) = SimilarityOps.trainedCentroidsConverged(spark, sfDir, maxIters = 40)
    info(s"assignment fixpoint certified after $iters Lloyd iterations")
    assert(iters >= 1, "the certificate cannot precede the first distributed step")
    // a TRUE fixpoint reproduces itself: one more full Lloyd step from the
    // returned centroids must rebuild bit-identical centroids and norms
    val corpus = SimilarityOps.withNorm(spark, sfDir)
    val next = SimilarityOps.centroidsFrom(
      SimilarityOps.lloydSums(corpus, cents).collect())
    assert(cents.length === next.length)
    cents.zip(next).zipWithIndex.foreach { case (((c1, n1), (c2, n2)), k) =>
      assert(n1 === n2, s"cell $k norm changed after the certified fixpoint")
      assert(c1.sameElements(c2), s"cell $k centroid changed after the certified fixpoint")
    }
  }

  test("sim12 label-affinity matrix == driver-side centroid cosines") {
    import spark.implicits._
    val SCALE = SimilarityOps.SCALE
    val rows = Catalog.t(spark, sfDir, "embeddings")
      .select($"label", $"embedding").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
    val dims = rows.head._2.length
    // label centroid with the engine's exact convention: integer-scaled
    // sums, IEEE-double mean
    val cents: Map[Int, Array[Double]] = rows.groupBy(_._1).map { case (l, ms) =>
      l -> Array.tabulate(dims) { d =>
        ms.map { case (_, v) => BigInt(math.floor(v(d).toDouble * SCALE).toLong) }.sum.toDouble /
          (ms.length * SCALE)
      }
    }
    def sdot(a: Array[Double], b: Array[Double]): Long =
      a.indices.map(i => math.floor(a(i) * b(i) * SCALE).toLong).sum
    val labels = cents.keys.toSeq.sorted
    val expect = (for { la <- labels; lb <- labels if la < lb } yield
      (la, lb) -> sdot(cents(la), cents(lb)).toDouble /
        math.sqrt(sdot(cents(la), cents(la)).toDouble * sdot(cents(lb), cents(lb)).toDouble)).toMap
    val got = Catalog.byName("sim12_label_affinity").build(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.keySet === expect.keySet)
    got.foreach { case (k, v) => assert(v === expect(k), s"pair $k: $v vs ${expect(k)}") }
    got.values.foreach(v => assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9))
  }

  test("sim14 scalar quantization == driver-side recompute, with bounded error") {
    import spark.implicits._
    val SCALE = SimilarityOps.SCALE
    val rows = Catalog.t(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
    val dims = rows.head._2.length
    val lo = Array.tabulate(dims)(d => rows.map(_._2(d)).min)
    val hi = Array.tabulate(dims)(d => rows.map(_._2(d)).max)
    val expect = rows.map { case (id, v) =>
      val errs = v.indices.map { d =>
        val q = if (hi(d) > lo(d))
          math.min(math.floor((v(d) - lo(d)) / (hi(d) - lo(d)) * 255).toLong, 255L)
        else 0L
        val recon = lo(d) + q.toDouble * (hi(d) - lo(d)) / 255
        (q, math.floor((v(d) - recon) * (v(d) - recon) * SCALE).toLong)
      }
      id -> (errs.map(_._2).sum, errs.map(_._1).max)
    }.toMap
    val got = Catalog.byName("sim14_scalar_quantization").build(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === expect)
    // 8-bit uniform quantization error bound: per element < ((hi-lo)/255)²,
    // so the scaled per-vector sum is bounded by dims × max-step²
    val maxStep2 = (0 until dims).map { d =>
      val s = (hi(d) - lo(d)) / 255; s * s * SCALE
    }.max
    got.values.foreach { case (err, _) =>
      assert(err.toDouble <= dims * maxStep2 + dims, s"error $err above the uniform-quantization bound")
    }
  }

  test("sim15 PQ codes == driver recompute; codebook vectors self-encode at distance 0") {
    import spark.implicits._
    val SCALE = SimilarityOps.SCALE
    val rows = Catalog.t(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val cb = rows.filter(_._1 < 16).sortBy(_._1).map(_._2)
    def dist(a: Array[Float], b: Array[Float], j: Int): Long =
      (0 until 8).map { d =>
        val x = a(j * 8 + d).toDouble - b(j * 8 + d).toDouble
        math.floor(x * x * SCALE).toLong
      }.sum
    val expect = (for {
      (id, v) <- rows; j <- 0 until 8
    } yield {
      val scored = cb.indices.map(c => (dist(v, cb(c), j), c.toLong))
      (id, j) -> scored.min
    }).toMap
    val got = Catalog.byName("sim15_pq_encode").build(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(3), r.getLong(2))).toMap
    assert(got === expect)
    // a codebook vector encodes at distance 0 in every subspace (its own
    // subvector is in the codebook; ties resolve to the lowest code)
    rows.filter(_._1 < 16).foreach { case (id, _) =>
      (0 until 8).foreach { j =>
        assert(got((id, j))._1 === 0L, s"codeword $id subspace $j has nonzero self-distance")
      }
    }
  }

  test("sim13 takes at most the quota per cell, in deterministic hash order") {
    val assigned = SimilarityOps.assignCells(
      SimilarityOps.withNorm(spark, sfDir),
      SimilarityOps.trainedCentroids(spark, sfDir, iters = 2))
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    def key(id: Long): Long = ((id % 2147483648L) * 2654435761L) % 1000000007L
    val expect: Map[(Int, Int), Long] = assigned.groupBy(_._2).toSeq.flatMap { case (cell, ms) =>
      ms.map(_._1).sortBy(id => (key(id), id)).take(4).zipWithIndex
        .map { case (id, i) => (cell, i + 1) -> id }
    }.toMap
    val got = Catalog.byName("sim13_cell_balanced_sample").build(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got === expect)
    // balanced: every non-empty cell is represented
    assert(got.keys.map(_._1).toSet === assigned.map(_._2).toSet)
  }

  test("sim20 == full-corpus ADC restricted to the IVF candidate set") {
    // Cross-implementation identity: the pruned search must return exactly
    // the top-3 of sim16's full ADC scores over the (qid, vec_id) pairs
    // that share a probed cell — pruning may lose recall vs TRUTH but must
    // never change a surviving pair's score or the order within survivors.
    val corpus = SimilarityOps.withNorm(spark, sfDir)
    val cents = SimilarityOps.ivfCentroids(corpus)
    val cellOf = SimilarityOps.assignCells(corpus, cents)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probed: Map[Long, Set[Int]] =
      SimilarityOps.probeCells(corpus, cents, nProbes = 10)
        .select("qid", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
        .groupBy(_._1).map { case (q, cs) => q -> cs.map(_._2).toSet }
    val fullAdc = SimilarityOps.pqAdcScores(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expect = fullAdc.toSeq
      .filter { case ((q, v), _) => probed(q).contains(cellOf(v)) }
      .groupBy(_._1._1).toSeq.flatMap { case (q, scored) =>
        scored.map { case ((_, v), s) => (s, v) }.sorted.take(3).zipWithIndex
          .map { case ((s, v), i) => (q, i + 1, v, s) }
      }.sortBy(r => (r._1, r._2))
    val got = Catalog.byName("sim20_ivfpq_search").build(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expect)
    assert(got.map(_._1).distinct.length === 10) // every probe answered
  }

  test("sim21 recall == |sim20 top-3 ∩ exact truth| / 3, per probe") {
    val truth = SimilarityOps.pqL2Truth(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val top = Catalog.byName("sim20_ivfpq_search").build(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val expect = top.groupBy(_._1).map { case (q, ps) =>
      q -> ps.count(truth.contains) / 3.0
    }
    val got = Catalog.byName("sim21_ivfpq_recall").build(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got === expect)
    got.values.foreach(r => assert(r >= 0.0 && r <= 1.0))
  }

  test("sim22: every filtered-ANN result shares its probe's label and beats post-filtering") {
    import org.apache.spark.sql.functions._
    val labels = Catalog.t(spark, sfDir, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Catalog.byName("sim22_filtered_ann").build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(labels(r.getAs[Long]("vec_id")) == labels(r.getAs[Long]("qid")),
        s"probe ${r.getAs[Long]("qid")} got a cross-label neighbor")
    }
    // pre-filtering must fill k for every probe wherever the filtered
    // candidate space allows — the failure mode post-filtering hits; with
    // 10 labels over 16 cells the fixture always has >= 3 class-mates in
    // the probed cells (verified here, not assumed)
    val perProbe = rows.groupBy(_.getAs[Long]("qid")).view.mapValues(_.length)
    perProbe.foreach { case (q, n) => assert(n == 3, s"probe $q returned $n < 3 results") }
  }

  test("sim23: prediction is the majority label of the exact top-5 neighborhood") {
    val out = Catalog.byName("sim23_knn_classify").build(spark, sfDir).collect()
    assert(out.length == 16)
    // independent neighborhood: brute-force top-5 per probe from the raw
    // pair scores (ties: cos desc, vec_id asc), then recount the vote
    val pairs = SimilarityOps.probePairs(spark, sfDir, 16)
      .select("qid", "vec_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val labels = Catalog.t(spark, sfDir, "embeddings").select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byProbe = pairs.groupBy(_._1)
    out.foreach { r =>
      val q = r.getAs[Long]("vec_id")
      val top5 = byProbe(q).sortBy(p => (-p._3, p._2)).take(5).map(p => labels(p._2))
      val votes = top5.groupBy(identity).view.mapValues(_.size).toMap
      val best = votes.toSeq.sortBy { case (l, c) => (-c, l) }.head
      assert(r.getAs[Int]("pred_label") == best._1 && r.getAs[Long]("n_votes") == best._2.toLong,
        s"probe $q vote mismatch")
      assert(r.getAs[Boolean]("correct") == (best._1 == labels(q)))
    }
    // near-orthogonal synthetic vectors make kNN labels mostly wrong (the
    // sim17 recall story) — all-correct would mean the vote ignored the
    // neighborhood; at sf0.1 the split is 4/12 (checked at build time)
    val nc = out.count(_.getAs[Boolean]("correct"))
    assert(nc < out.length)
  }

  test("sim24: selection replays a driver-side greedy MMR walk over the top-8 pool") {
    val out = Catalog.byName("sim24_mmr_rerank").build(spark, sfDir).collect()
    assert(out.length == 48) // 16 probes × 3 picks
    val pairs = SimilarityOps.probePairs(spark, sfDir, 16)
      .select("qid", "vec_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // candidate-candidate cosine recomputed from raw embeddings with the
    // engine's exact scaled-integer dot (bounded: 16 pools × 8 vectors)
    val emb = Catalog.t(spark, sfDir, "embeddings").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def sdot(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (u, v) => math.floor(u.toDouble * v.toDouble * 1e15).toLong }.sum
      sdot(a, b).toDouble / math.sqrt(sdot(a, a).toDouble * sdot(b, b).toDouble)
    }
    val byProbe = pairs.groupBy(_._1)
    out.groupBy(_.getAs[Long]("qid")).foreach { case (q, rows) =>
      val pool = byProbe(q).sortBy(p => (-p._3, p._2)).take(8)
        .map(p => p._2 -> p._3)
      var selected = Vector(pool.head._1) // step 1: pure relevance
      (2 to 3).foreach { _ =>
        val best = pool.filterNot(c => selected.contains(c._1)).map { case (id, rel) =>
          val red = selected.map(s => cos(emb(id), emb(s))).max
          (id, 2 * rel - red)
        }.minBy { case (id, mmr) => (-mmr, id) }
        selected :+= best._1
      }
      val got = rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("vec_id")).toVector
      assert(got == selected, s"probe $q MMR trajectory diverged")
    }
    // diversification must BITE somewhere: if every probe's MMR pick equals
    // its plain top-3, the redundancy term did nothing on this fixture
    val plain = byProbe.view.mapValues(_.sortBy(p => (-p._3, p._2)).take(3).map(_._2).toVector)
    val diverged = out.groupBy(_.getAs[Long]("qid")).count { case (q, rows) =>
      rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("vec_id")).toVector != plain(q)
    }
    assert(diverged > 0, "MMR never diverged from plain top-3 — redundancy term inert")
  }

  test("sim25: truncated search == driver brute force on sliced vectors; recall honest") {
    val vecs = Catalog.t(spark, sfDir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def scaledDot(a: Array[Float], b: Array[Float]): Long =
      a.indices.map(i => math.floor(a(i).toDouble * b(i).toDouble * 1e15).toLong).sum
    def top3(dims: Int): Map[Long, Vector[Long]] = {
      val sliced = vecs.map { case (id, v) => id -> v.take(dims) }
      val norms = sliced.map { case (id, v) => id -> scaledDot(v, v) }.toMap
      sliced.filter(_._1 < 10).map { case (q, qv) =>
        q -> sliced.filter(_._1 != q).map { case (c, cv) =>
          (c, scaledDot(qv, cv).toDouble / math.sqrt(norms(q).toDouble * norms(c).toDouble))
        }.sortBy(p => (-p._2, p._1)).take(3).map(_._1).toVector
      }.toMap
    }
    val truncTruth = top3(SimilarityOps.MrlDims)
    val fullTruth = top3(64)
    val out = Catalog.byName("sim25_matryoshka_recall").build(spark, sfDir).collect()
    out.foreach { r =>
      val q = r.getAs[Long]("qid")
      val expHits = fullTruth(q).count(truncTruth(q).contains)
      assert(r.getAs[Long]("n_truth") == 3L)
      assert(r.getAs[Long]("n_hit") == expHits.toLong, s"probe $q hits")
    }
    // truncation must actually cost something on this corpus (honest price)
    assert(out.map(_.getAs[Long]("n_hit")).sum < 30, "truncated recall suspiciously perfect")
  }

  test("sim26/sim27: SQ ADC search == driver encode∘decode recompute; recall vs exact truth") {
    val vecs = Catalog.t(spark, sfDir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
    val dims = vecs.head._2.length
    val lo = Array.tabulate(dims)(i => vecs.map(_._2(i)).min)
    val hi = Array.tabulate(dims)(i => vecs.map(_._2(i)).max)
    def recon(v: Array[Double]): Array[Double] = Array.tabulate(dims) { i =>
      val q = if (hi(i) > lo(i))
        math.min(math.floor((v(i) - lo(i)) / (hi(i) - lo(i)) * 255), 255.0)
      else 0.0
      lo(i) + q * (hi(i) - lo(i)) / 255
    }
    def sl2(a: Array[Double], b: Array[Double]): Long =
      (0 until dims).map(i => math.floor((a(i) - b(i)) * (a(i) - b(i)) * 1e15).toLong).sum
    val rc = vecs.map { case (id, v) => id -> recon(v) }.toMap
    def top3(q: Long, dist: Long => Long): Vector[(Long, Long)] =
      vecs.filter(_._1 != q).map { case (c, _) => (dist(c), c) }
        .sortBy(identity).take(3).map(_.swap).toVector
    val qvs = vecs.filter(_._1 < 10).toMap
    val sqTop = qvs.map { case (q, qv) => q -> top3(q, c => sl2(qv, rc(c))) }
    val out = Catalog.byName("sim26_sq_adc_search").build(spark, sfDir).collect()
    assert(out.length == 30)
    out.foreach { r =>
      val (vid, dist) = sqTop(r.getAs[Long]("qid"))(r.getAs[Int]("rk") - 1)
      assert(r.getAs[Long]("vec_id") == vid && r.getAs[Long]("sq_dist") == dist,
        s"sim26 row $r != driver ($vid, $dist)")
    }
    // recall: SQ top-3 vs the exact full-precision L2 top-3
    val truth = qvs.map { case (q, qv) => q -> top3(q, c => sl2(qv, vecs.toMap.apply(c))) }
    Catalog.byName("sim27_sq_recall").build(spark, sfDir).collect().foreach { r =>
      val q = r.getAs[Long]("qid")
      val expHits = truth(q).map(_._1).count(sqTop(q).map(_._1).contains)
      assert(r.getAs[Long]("n_hit") == expHits.toLong, s"probe $q recall hits")
    }
  }

  test("sim32 churn matrix conserves mass and its marginals are the two assignments") {
    import org.apache.spark.sql.functions._
    val corpus = SimilarityOps.withNorm(spark, sfDir)
    val n = corpus.count()
    val churn = Catalog.byName("sim32_assignment_churn").build(spark, sfDir).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    assert(churn.values.sum == n, "churn matrix must conserve the corpus")
    def hist(iters: Int): Map[Int, Long] =
      SimilarityOps.assignCells(corpus,
          SimilarityOps.trainedCentroids(spark, sfDir, iters))
        .groupBy("cell").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val before = churn.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val after = churn.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    assert(before == hist(1), "row marginal != iteration-1 assignment histogram")
    assert(after == hist(2), "column marginal != iteration-2 assignment histogram")
    // the report is informative at fixture scale: some mass moved, most held
    val stable = churn.collect { case ((a, b), c) if a == b => c }.sum
    assert(stable > 0, "no stable mass at all — degenerate training")
  }

  test("sim33 balance report: conserves mass, shares floor to ppm, hot law exact") {
    val corpus = SimilarityOps.withNorm(spark, sfDir)
    val n = corpus.count()
    val hist = SimilarityOps.assignCells(corpus,
        SimilarityOps.trainedCentroids(spark, sfDir, 2))
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rows = Catalog.byName("sim33_cell_balance").build(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == n)
    val cells = rows.length.toLong
    rows.foreach { r =>
      val nv = r.getAs[Long]("n_vecs")
      assert(nv == hist(r.getAs[Int]("cell")))
      assert(r.getAs[Long]("share_ppm") == nv * 1000000L / n)
      assert(r.getAs[Boolean]("is_hot") == (nv * cells > n * 2))
    }
  }

  test("sim34 fusion: RRF recomputed from both gate rankings; both modalities contribute") {
    // rebuild the two component rankings via their own catalog machinery
    val kw = Catalog.byName("t22_keyword_search").build(spark, sfDir).collect()
      .map(_.getLong(0)) // t22's top-10 is a prefix of the kw top-20 ranking
    val vec = StockOps.perKeyTopK(SimilarityOps.probePairs(spark, sfDir, 1),
        Seq("qid"), Seq(desc("cos_sim"), col("vec_id")), SimilarityOps.HybridK, "vec_rank")
      .select("vec_id", "vec_rank").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Catalog.byName("sim34_hybrid_rrf").build(spark, sfDir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getInt(i))
      val exp = opt(1).map(k => 1000000000L / (60 + k)).getOrElse(0L) +
        opt(2).map(v => 1000000000L / (60 + v)).getOrElse(0L)
      assert(r.getLong(3) == exp, s"rrf of doc ${r.getLong(0)}")
      // the claimed vector rank is the true one
      opt(2).foreach(v => assert(vec(r.getLong(0)) == v))
    }
    // fusion genuinely uses both modalities
    assert(rows.exists(r => !r.isNullAt(1)), "no lexical contribution in the fused top-10")
    assert(rows.exists(r => !r.isNullAt(2)), "no dense contribution in the fused top-10")
    // t22's lexical top-10 winner must hold a kw_rank in the fused table when present
    val fusedKw = rows.filter(r => !r.isNullAt(1)).map(_.getLong(0)).toSet
    assert(kw.headOption.forall(top => !fusedKw.contains(top) ||
      rows.find(_.getLong(0) == top).exists(_.getInt(1) == 1)))
  }

  test("sim35 split conserves the hot cell's mass and genuinely divides it") {
    val balance = Catalog.byName("sim33_cell_balance").build(spark, sfDir).collect()
      .map(r => r.getAs[Int]("cell") -> r.getAs[Long]("n_vecs"))
    val (hotCell, hotN) = balance.maxBy { case (c, n) => (n, -c) }
    val rows = Catalog.byName("sim35_hot_cell_split").build(spark, sfDir).collect()
    assert(rows.length == 2 && rows.map(_.getAs[Int]("subcell")).toSet == Set(0, 1))
    rows.foreach { r =>
      assert(r.getAs[Int]("parent_cell") == hotCell, "split a non-hottest cell")
      assert(r.getAs[Long]("parent_n") == hotN)
    }
    val subs = rows.map(_.getAs[Long]("n_vecs"))
    assert(subs.sum == hotN, "split must conserve the hot cell's members")
    assert(subs.max < hotN, "split failed to divide the hot cell at all")
  }

  test("sim44 kept set replays the sequential select-neighbors heuristic; sim45 reconciles") {
    val rows = Catalog.byName("sim44_rng_prune").build(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // driver-side exact recompute of every pairwise cosine the rule consults
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Seq[Float]]("embedding").toArray).toMap
    def sdot(a: Array[Float], b: Array[Float]): Long =
      a.indices.map(i => math.floor(a(i).toDouble * b(i).toDouble * 1e15).toLong).sum
    val norm = emb.map { case (k, v) => k -> sdot(v, v) }
    def cosOf(i: Long, j: Long): Double =
      sdot(emb(i), emb(j)).toDouble / math.sqrt(norm(i).toDouble * norm(j).toDouble)
    rows.groupBy(_.getAs[Long]("vec_id")).foreach { case (u, es) =>
      val sorted = es.sortBy(_.getAs[Int]("rank"))
      assert(sorted.head.getAs[Int]("rank") == 1 && sorted.head.getAs[Boolean]("kept"),
        s"rank-1 edge of $u must exist and be kept")
      var kept = List.empty[Long]
      sorted.foreach { e =>
        val v = e.getAs[Long]("nbr_id")
        assert(e.getAs[Double]("cos_sim") == cosOf(u, v),
          s"emitted cos_sim of ($u,$v) is not the exact kernel value")
        val expect = !kept.exists(w => cosOf(w, v) > e.getAs[Double]("cos_sim"))
        assert(e.getAs[Boolean]("kept") == expect,
          s"u=$u v=$v rank=${e.getAs[Int]("rank")}: sequential heuristic says kept=$expect")
        if (expect) kept ::= v
      }
    }
    // sim45's edge accounting is sim44's decisions; recall is a probability
    val r45 = Catalog.byName("sim45_pruned_walk_recall").build(spark, sfDir).collect()
    assert(r45.length == 1)
    val r = r45.head
    assert(r.getAs[Long]("n_edges") == rows.length)
    assert(r.getAs[Long]("n_kept") == rows.count(_.getAs[Boolean]("kept")))
    assert(r.getAs[Long]("n_kept") < r.getAs[Long]("n_edges"),
      "pruning removed nothing — the diversification rule was vacuous on this corpus")
    assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_truth"))
    val rec = r.getAs[Double]("recall")
    assert(rec >= 0.0 && rec <= 1.0)
  }

  test("sim48 layered walk emits exact cosines, 3 valid ranked results per probe") {
    val rows = Catalog.byName("sim48_layered_walk").build(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == 10, "one result set per probe")
    byQ.foreach { case (qid, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == Seq(1, 2, 3), s"probe $qid ranks")
      rs.foreach { r =>
        val v = r.getAs[Long]("vec_id")
        assert(v != qid, "a walk result must not be the probe itself")
        // the emitted cosine is the exact brute-force kernel value
        assert(brute((qid, v)) == r.getAs[Double]("cos_sim"), s"cos of ($qid,$v)")
      }
      // ranks follow the (cos desc, vec_id) total order
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
        .map(r => (-r.getAs[Double]("cos_sim"), r.getAs[Long]("vec_id")))
      assert(sorted.toSeq == sorted.toSeq.sorted, s"probe $qid rank order")
    }
    // the recall twin reconciles with the walk it prices
    val rec = Catalog.byName("sim49_layered_walk_recall").build(spark, sfDir).head()
    assert(rec.getAs[Long]("n_truth") == 30)
    assert(rec.getAs[Long]("n_hit") <= 30)
    assert(rec.getAs[Double]("recall") == rec.getAs[Long]("n_hit").toDouble / 30)
  }

  // ——— the search-and-recall kit ———

  test("topK ranks per probe by score, ties to the lower vec_id") {
    import spark.implicits._
    val scored = Seq((0L, 5L, 0.5), (0L, 3L, 0.5), (0L, 9L, 0.9), (0L, 1L, 0.1),
      (1L, 7L, 0.2), (1L, 2L, 0.2)).toDF("qid", "vec_id", "cos_sim")
    val top = SimilarityOps.topK(scored, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(top === Set((0L, 9L, 0.9, 1), (0L, 3L, 0.5, 2), (1L, 2L, 0.2, 1), (1L, 7L, 0.2, 2)))
    // a distance ranks lower-first, with the same tie-break and its own name
    val dist = scored.withColumnRenamed("cos_sim", "l2")
    val near = SimilarityOps.topK(dist, 1, "l2", ascending = true, rank = "r")
    assert(near.columns.toSeq === Seq("qid", "vec_id", "l2", "r"))
    assert(near.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((0L, 1L), (1L, 2L)))
  }

  test("recall helpers count hits by hand on tiny frames, a zero-hit probe included") {
    import spark.implicits._
    // truth: 2 per probe; probe 0 answers one truth pair, probe 1 none
    val truth = Seq((0L, 1L), (0L, 2L), (1L, 3L), (1L, 4L)).toDF("qid", "vec_id")
    val ann = Seq((0L, 1L, 0.9), (0L, 8L, 0.8), (1L, 5L, 0.7), (1L, 6L, 0.6))
      .toDF("qid", "vec_id", "cos_sim")
    val grade = SimilarityOps.recallOf(truth)
    assert(grade(ann) === ((4L, 1L, 0.25)))
    val byQid = SimilarityOps.recallByQid(truth, ann, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(byQid === Seq((0L, 1L, 0.5), (1L, 0L, 0.0)))
    val rows = SimilarityOps.recallRows(spark, "method", Seq(
      "b" -> grade(ann.where($"qid" === 1)),
      "a" -> SimilarityOps.recallOf(truth.where($"qid" === 0))(ann)))
    assert(rows.columns.toSeq === Seq("method", "n_truth", "n_hit", "recall"))
    assert(rows.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq ===
      Seq(("a", 2L, 1L, 0.5), ("b", 4L, 0L, 0.0)))
  }

  test("rank order, cosine rerank and recall count are written once: no copies in the operators") {
    import java.nio.file.{Files, Path, Paths}
    val root = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(root), s"run from the repo root: $root not found")
    val walk = Files.walk(root)
    val srcs = try walk.toArray.map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p)).toMap
    finally walk.close()
    // the kit spells its default order through `score`/`order` parameters,
    // so neither shape appears anywhere, the kit included
    val copies = for {
      (file, src) <- srcs.toSeq
      shape <- Seq("""Seq(desc("cos_sim"), col("vec_id"))""", "ORDER BY cos_sim DESC, vec_id) AS rk")
      if src.contains(shape)
    } yield s"$file: $shape"
    assert(copies.isEmpty, s"rank through SimilarityOps.topK / sqlTopK: $copies")
    // the kit's own definitions are the one place each convention is spelled
    val sim = srcs("SimilarityOps.scala")
    Seq("""cosine(scaledDot(col("qvec"), col("embedding"))""",
      """.join(truth, Seq("qid", "vec_id"), "left_semi")""",
      "ROW_NUMBER() OVER (PARTITION BY", "/ SQRT(CAST($a.norm2 AS DOUBLE) * CAST($b.norm2")
      .foreach(shape => assert(sim.split(java.util.regex.Pattern.quote(shape), -1).length === 2,
        s"SimilarityOps spells `$shape` more than once"))
  }
}
