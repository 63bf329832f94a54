package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantic tests for the near-dup machinery that has no SQL oracle:
  * MinHash/LSH candidate recall against exact Jaccard, and SimHash's
  * Hamming-distance behavior on duplicates.
  */
class DedupOpsSpec extends SparkSpec {

  import spark.implicits._

  /** Ground truth computed driver-side, independent of any engine hash:
    * exact Jaccard over every doc pair (unblocked — unlike d02's
    * lang-blocked variant, so cross-lang dups can't hide).
    */
  private lazy val exactPairs: Map[(Long, Long), Double] = {
    val rows = Catalog.t(spark, sfDir, "documents")
      .select($"doc_id", DedupOps.shingles3($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    (for {
      (a, sa) <- rows.toSeq
      (b, sb) <- rows.toSeq
      if a < b
      inter = (sa & sb).size
      if inter > 0
    } yield (a, b) -> inter.toDouble / (sa.size + sb.size - inter)).toMap
  }

  private lazy val lshPairs: Map[(Long, Long), Double] =
    Catalog.byName("d03_minhash_lsh").build(spark, sfDir)
      .select("da", "db", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("LSH recalls every high-Jaccard pair (J >= 0.8)") {
    // 16 bands × 4 rows: P(candidate | J=0.8) = 1-(1-0.8^4)^16 ≈ 0.9997.
    val high = exactPairs.filter(_._2 >= 0.8).keySet
    val missed = high -- lshPairs.keySet
    assert(missed.isEmpty, s"LSH missed high-similarity pairs: $missed")
  }

  test("LSH+verify output is exact: every pair truly has J >= 0.5") {
    // the verify stage computes exact Jaccard on candidates, so the
    // pipeline's output must be a subset of the exact J>=0.5 pair set,
    // with identical jaccard values.
    lshPairs.foreach { case (p, j) =>
      assert(exactPairs.get(p).exists(e => math.abs(e - j) < 1e-12),
        s"pair $p: lsh jaccard $j vs exact ${exactPairs.get(p)}")
      assert(j >= 0.5)
    }
  }

  test("identical texts collide in every signature") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different content with no overlap whatsoever here now")
    ).toDF("doc_id", "text")
    docs.createOrReplaceTempView("graft_dedup_probe")
    val sh = docs.select($"doc_id", DedupOps.shingles3($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L) === sh(2L))
    assert(sh(1L).intersect(sh(3L)).isEmpty)
  }

  test("d06 connected components == driver-side union-find over the same pairs") {
    val pairs = Catalog.byName("d03_minhash_lsh").build(spark, sfDir)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1)))
    // reference union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(x => x -> find(x)).toMap
    val got = Catalog.byName("d06_dedup_clusters").build(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    // canonical label is the component minimum
    got.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keys.min === label)
    }
  }

  test("d07 removes exactly the non-canonical cluster members") {
    val clusters = Catalog.byName("d06_dedup_clusters").build(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val losers = clusters.count { case (id, label) => id != label }
    val total = Catalog.t(spark, sfDir, "documents").count()
    val kept = Catalog.byName("d07_dedup_apply").build(spark, sfDir)
    assert(kept.count() === total - losers)
    // no kept doc is a non-canonical member
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    clusters.foreach { case (id, label) =>
      if (id != label) assert(!keptIds.contains(id), s"non-canonical $id survived dedup")
      else assert(keptIds.contains(id), s"canonical $id was dropped")
    }
  }

  test("exact dedup keeps lowest doc_id per text") {
    val out = Catalog.byName("d01_exact_dedup").build(spark, sfDir)
    val total = Catalog.t(spark, sfDir, "documents").count()
    assert(out.agg(sum("n_copies")).as[Long].head === total)
  }

  test("d08 banded simhash retrieval is COMPLETE at hamming <= 7 (pigeonhole) and exact on distances") {
    val sh = Catalog.t(spark, sfDir, "documents")
      .select($"doc_id", graft.functions.GraftFunctions.simhash64($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // brute-force truth: every pair within hamming 7, driver-side
    val truth = (for {
      (da, sa) <- sh; (db, sb) <- sh if da < db
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 7
    } yield (da, db) -> h).toMap
    val got = Catalog.byName("d08_simhash_neardup").build(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got === truth, s"banded retrieval disagrees with brute force (got ${got.size}, truth ${truth.size})")
  }

  test("hot-shingle df cap is a NO-OP at the pinned cap on the real corpus") {
    // HotShingleDfCap (50) exceeds the max per-lang shingle df at every
    // test SF (25 at sf0.1), so the capped join must be bit-identical to
    // the uncapped one — no qualifying pair (J >= 0.2) lost or changed.
    val capped = DedupOps.jaccardPairs(spark, sfDir, DedupOps.HotShingleDfCap)
    val uncapped = DedupOps.jaccardPairs(spark, sfDir, -1)
    assert(capped.exceptAll(uncapped).isEmpty && uncapped.exceptAll(capped).isEmpty,
      "df cap changed the exact-Jaccard pair set at test scale")
  }

  test("active hot-shingle cap is prune-only AND metric-exact on survivors") {
    val dir = Artifacts.newDir("graft_hotshingle")
    // docs 1/2: near-dups via COLD shingles; docs 10-19: share ONLY the hot
    // shingle "x y z" (df > cap 3), each padded with unique junk;
    // docs 20/21: 3-token docs whose single shingle is the hot one — the
    // documented loss mode (all evidence ubiquitous); docs 30/31: MIXED
    // evidence — share the hot "x y z" AND cold shingles, the case whose
    // reported inter/jaccard must not be undercounted by the cap.
    val docs = (Seq(
      (1L, "en", "a b c d e f"),
      (2L, "en", "a b c d e f g"),
      (20L, "en", "x y z"),
      (21L, "en", "x y z"),
      (30L, "en", "x y z p q r s t"),
      (31L, "en", "x y z p q r s u")) ++
      (10L to 19L).map(i => (i, "en", s"x y z u$i v$i w$i"))
    ).toDF("doc_id", "lang", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def rows(cap: Int) = DedupOps.jaccardPairs(spark, dir, cap)
      .select("da", "db", "inter", "uni", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val un = rows(-1)
    val cp = rows(3)
    assert(cp.keySet.subsetOf(un.keySet), "capping created a pair out of nothing")
    assert(cp.contains((1L, 2L)), "cold-evidence pair lost by the cap")
    assert(un.contains((20L, 21L)) && !cp.contains((20L, 21L)),
      "hot-only pair should be the one pruned")
    // nothing else differs: the pruned set is exactly the hot-only pairs
    assert((un.keySet -- cp.keySet).forall { case (a, b) => a >= 10L && b >= 10L },
      s"cap pruned a pair with cold evidence: ${un.keySet -- cp.keySet}")
    // metric exactness: every SURVIVING pair reports the same inter/uni/
    // jaccard as the uncapped truth — including the mixed-evidence pair,
    // whose intersection contains the hot shingle
    assert(cp.contains((30L, 31L)), "mixed-evidence pair lost by the cap")
    cp.foreach { case (k, v) =>
      assert(un(k) === v, s"cap changed the reported metric for pair $k")
    }
    val (inter3031, _, _) = cp((30L, 31L))
    assert(inter3031 === 5L, "mixed pair intersection must include the hot shingle (4 cold + 1 hot)")
  }

  test("large-star/small-star CC == min-label propagation on path, random, and corpus graphs") {
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def both(edges: org.apache.spark.sql.DataFrame): Unit = {
      // propagation needs O(diameter) rounds (63 on the path below — with
      // only 50 it demonstrably returns unconverged labels); star needs
      // O(log n) and gets a tighter budget on purpose
      val prop = labels(DedupOps.connectedComponents(edges, 100).select("id", "label"))
      val star = labels(DedupOps.connectedComponentsStar(edges, 20).select("id", "label"))
      assert(star === prop, "star CC disagrees with propagation CC")
    }
    // long path 0-1-...-63: diameter 63 — the propagation worst case and
    // the shape star methods exist for
    both((0L until 63L).map(i => (i, i + 1)).toDF("da", "db"))
    // deterministic pseudo-random graph (fixed seed)
    val rnd = new scala.util.Random(42)
    both((1 to 200).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(p => p._1 != p._2).toDF("da", "db"))
    // two disjoint cliques + an isolated pair + a self-loop-only node
    both((for { a <- 0L to 4L; b <- 0L to 4L if a < b } yield (a, b))
      .++(for { a <- 10L to 13L; b <- 10L to 13L if a < b } yield (a, b))
      .:+((100L, 101L)).:+((200L, 200L)).toDF("da", "db"))
    // the real pair graph
    both(Catalog.byName("d02_ngram_jaccard").build(spark, sfDir).select("da", "db"))
  }

  test("both CC variants return empty labels on an empty edge list (no NPE)") {
    // a corpus with zero near-dup candidate pairs must converge
    // immediately: SUM over zero rows is SQL NULL, which the sum-based
    // fixpoint tests must treat as zero rather than NPE on compareTo
    val empty = Seq.empty[(Long, Long)].toDF("da", "db")
    assert(DedupOps.connectedComponents(empty, 10).count() === 0L)
    assert(DedupOps.connectedComponentsStar(empty, 10).count() === 0L)
  }

  test("d09 keeps exactly the training docs sharing NO 8-gram with the benchmark split") {
    // driver-side ground truth with plain-Scala shingling (independent of
    // the word_shingles kernel)
    val rows = Catalog.t(spark, sfDir, "documents")
      .select($"doc_id", $"source", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def sh8(t: String): Set[String] =
      t.trim.split("\\s+").filter(_.nonEmpty).sliding(8)
        .filter(_.length == 8).map(_.mkString(" ")).toSet
    val bench = rows.filter(_._2 == "src0").flatMap(r => sh8(r._3)).toSet
    val expectKept = rows.collect {
      case (id, src, t) if src != "src0" && sh8(t).intersect(bench).isEmpty => id
    }.toSet
    val got = Catalog.byName("d09_decontaminate").build(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === expectKept)
    assert(expectKept.size < rows.count(_._2 != "src0"),
      "fixture has no contamination — the spec would not exercise the filter")
  }

  test("d14 duplicate-span coverage == plain-Scala positional-8-gram reference") {
    // independent driver-side reimplementation: positional 8-grams,
    // corpus df, dup flags, contiguous-run count
    val rows = Catalog.t(spark, sfDir, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
    val grams = rows.map { case (id, toks) =>
      id -> toks.sliding(8).filter(_.length == 8).map(_.mkString(" ")).toVector
    }
    val df8 = grams.flatMap(_._2).groupBy(identity).map { case (g, o) => g -> o.size }
    val expect = grams.collect { case (id, gs) if gs.nonEmpty =>
      val dup = gs.map(df8(_) > 1)
      val spans = dup.zip(false +: dup).count { case (cur, prev) => cur && !prev }
      id -> (gs.size.toLong, dup.count(identity).toLong, spans.toLong)
    }.toMap
    val got = Catalog.byName("d14_duplicate_spans").build(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === expect)
    assert(expect.values.exists(_._2 > 0),
      "fixture has no duplicated 8-gram positions — the spec would not exercise the signal")
  }

  test("d15 winnowing == plain-Scala reference, and shared 7-token runs share a fingerprint") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def winnow(text: String): Set[String] = {
      val toks = text.trim.split("\\s+").toSeq
      val fps = toks.sliding(4).filter(_.length == 4).map(g => md5hex(g.mkString(" "))).toVector
      fps.sliding(4).filter(_.length == 4).map(_.min).toSet
    }
    val rows = Catalog.t(spark, sfDir, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expect = rows.map { case (id, t) => id -> winnow(t) }.filter(_._2.nonEmpty).toMap
    val got = Catalog.byName("d15_winnowing").build(spark, sfDir)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getString(1)).toSet }
    assert(got === expect)
    // the winnowing guarantee (k=4, w=4): two docs sharing a run of
    // >= k+w-1 = 7 tokens select at least one common fingerprint
    // (run sets precomputed once per doc — the pair loop is quadratic)
    val run7: Map[Long, Set[String]] = rows.map { case (id, t) =>
      id -> t.trim.split("\\s+").toSeq.sliding(7).filter(_.length == 7)
        .map(_.mkString(" ")).toSet
    }.toMap
    for {
      (a, _) <- rows; (b, _) <- rows if a < b
      if run7(a).intersect(run7(b)).nonEmpty
    } assert(expect(a).intersect(expect(b)).nonEmpty,
      s"docs $a/$b share a 7-token run but no winnowing fingerprint")
  }

  test("d18 span removal == plain-Scala coverage reference; clean docs unchanged") {
    val rows = Catalog.t(spark, sfDir, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").filter(_.nonEmpty).toVector)
    // maps hoisted out of the per-doc loops (building them inside would be
    // O(docs²) allocation)
    val gramsByDoc: Map[Long, Vector[String]] = rows.map { case (id, ts) =>
      id -> ts.sliding(8).filter(_.length == 8).map(_.mkString(" ")).toVector
    }.toMap
    val textByDoc: Map[Long, Vector[String]] = rows.toMap
    val df8 = gramsByDoc.values.flatten.groupBy(identity).map { case (g, o) => g -> o.size }
    val expect = rows.map { case (id, ts) =>
      val covered = gramsByDoc(id).zipWithIndex.collect {
        case (g, i) if df8(g) > 1 => i to i + 7
      }.flatten.toSet
      val kept = ts.indices.filterNot(covered).map(ts)
      id -> (ts.length.toLong, kept.length.toLong, kept.mkString(" "))
    }.toMap
    val got = Catalog.byName("d18_dedup_spans_apply").build(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got === expect)
    // a doc with no duplicated grams survives verbatim (token-joined)
    val untouched = expect.collect { case (id, (n, k, txt)) if n == k => (id, txt) }
    assert(untouched.nonEmpty)
    untouched.foreach { case (id, txt) =>
      assert(txt === textByDoc(id).mkString(" "), s"clean doc $id was rewritten")
    }
    assert(expect.values.exists { case (n, k, _) => k < n },
      "fixture has no covered spans — the apply step would be untested")
  }

  test("d16 reports exactly the docs d09 removes, with true hit counts") {
    val removedByD09 = {
      val all = Catalog.t(spark, sfDir, "documents")
        .where($"source" =!= "src0").select("doc_id").collect().map(_.getLong(0)).toSet
      val kept = Catalog.byName("d09_decontaminate").build(spark, sfDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      all -- kept
    }
    val report = Catalog.byName("d16_contamination_report").build(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(report.keySet === removedByD09)
    assert(report.values.forall(_ >= 1), "a contaminated doc must have at least one hit")
  }

  test("simhash of identical docs is identical") {
    val out = Catalog.byName("d04_simhash").build(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val texts = Catalog.t(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byText = texts.groupBy(_._2).filter(_._2.size > 1)
    byText.foreach { case (_, ids) =>
      val sigs = ids.keys.map(out).toSet
      assert(sigs.size === 1, "duplicate texts got different simhashes")
    }
  }

  test("d19: soft-dedup mass equals the cluster-derived expectation") {
    import org.apache.spark.sql.functions._
    val out = Catalog.byName("d19_soft_dedup_weights").build(spark, sfDir).collect()
    val nDocs = Catalog.t(spark, sfDir, "documents").count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs, "sources must partition the corpus")
    // recompute the global effective mass from the cluster table directly:
    // every size-k cluster contributes k · (1e6 div k), singletons 1e6
    val sizes = Catalog.byName("d06b_dedup_clusters_exact").build(spark, sfDir)
      .groupBy("cluster").count().collect().map(_.getLong(1))
    val clustered = sizes.sum
    val expected = sizes.map(k => k * (1000000L / k)).sum + (nDocs - clustered) * 1000000L
    assert(out.map(_.getAs[Long]("effective_ppm")).sum == expected)
    // weighting must strictly shrink mass wherever a cluster exists
    assert(out.forall(r => r.getAs[Long]("effective_ppm") <= r.getAs[Long]("n_docs") * 1000000L))
  }

  test("d20: every distinct line survives exactly once; untouched docs rebuild verbatim") {
    val out = Catalog.byName("d20_line_dedup").build(spark, sfDir).collect()
    // survivors partition the distinct-line space: Σ n_kept == |distinct lines|
    val docs = Catalog.t(spark, sfDir, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def lines(t: String): Seq[String] =
      t.trim.split("\\s+", -1).grouped(10).map(_.mkString(" ")).toSeq
    val allLines = docs.flatMap { case (_, t) => lines(t) }
    assert(out.map(_.getAs[Long]("n_kept")).sum == allLines.distinct.length.toLong)
    assert(out.map(_.getAs[Long]("n_lines")).sum == allLines.length.toLong)
    // a doc whose lines are all first occurrences rebuilds to its
    // space-normalized self
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    var untouched = 0
    docs.foreach { case (id, t) =>
      val r = byId(id)
      if (r.getAs[Long]("n_kept") == r.getAs[Long]("n_lines")) {
        assert(r.getAs[String]("content") == lines(t).mkString(" "), s"doc $id rebuild diverged")
        untouched += 1
      }
    }
    assert(untouched > 0 && untouched < docs.length,
      "fixture exercises neither kept nor deduped docs")
  }

  test("d21: containment pairs == driver-side shingle-set containment (lang-blocked)") {
    // driver truth: same-lang pairs with |A∩B| >= 0.8·min(|A|,|B|), from
    // raw shingle sets — independent of the join/df-cap machinery
    val rows = Catalog.t(spark, sfDir, "documents")
      .select($"doc_id", $"lang", DedupOps.shingles3($"text").as("sh"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2).toSet))
    val expected = (for {
      (a, la, sa) <- rows.toSeq
      (b, lb, sb) <- rows.toSeq
      if a < b && la == lb && sa.nonEmpty && sb.nonEmpty
      inter = (sa & sb).size.toLong
      if inter * 5 >= math.min(sa.size, sb.size).toLong * 4
    } yield (a, b) -> (sa.size.toLong, sb.size.toLong, inter,
      if (sb.size < sa.size) b else a)).toMap
    val got = Catalog.byName("d21_containment").build(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db")) ->
        (r.getAs[Long]("sza"), r.getAs[Long]("szb"), r.getAs[Long]("inter"),
          r.getAs[Long]("contained_id"))).toMap
    assert(got == expected, s"containment mismatch: got $got expected $expected")
    assert(got.nonEmpty, "fixture has no containment pairs — signal untested")
    // refactor safety: jaccardPairs must still be exactly the thresholded
    // pair graph (d02's oracle pins values; this pins the composition)
    val jp = DedupOps.jaccardPairs(spark, sfDir, DedupOps.HotShingleDfCap)
    val pg = DedupOps.shinglePairGraph(spark, sfDir, DedupOps.HotShingleDfCap)
      .where(col("jaccard") >= 0.2)
    assert(jp.exceptAll(pg).isEmpty && pg.exceptAll(jp).isEmpty)
  }
  test("incremental LSH discovery over a sharded delivery equals the batch candidate set") {
    val docs = Catalog.t(spark, sfDir, "documents").select("doc_id", "text")
    val full = DedupOps.bandBuckets(docs)
    val batchPairs = full.select(col("doc_id").as("da"), col("band"), col("sig"))
      .join(full.select(col("doc_id").as("db"), col("band"), col("sig")), Seq("band", "sig"))
      .where(col("da") < col("db")).select("da", "db").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 3-shard delivery (x28's shape generalized): each arriving shard joins
    // the signature store so far INCLUDING itself; a pair must surface
    // exactly when its second member arrives
    val shards = (0L until 3L).map(i =>
      DedupOps.bandBuckets(docs.where(pmod(col("doc_id"), lit(3L)) === i)))
    var store: Option[org.apache.spark.sql.DataFrame] = None
    val found = scala.collection.mutable.Set.empty[(Long, Long)]
    shards.foreach { sh =>
      val all = store.map(_.union(sh)).getOrElse(sh)
      found ++= sh.select(col("doc_id").as("da"), col("band"), col("sig"))
        .join(all.select(col("doc_id").as("db"), col("band"), col("sig")), Seq("band", "sig"))
        .where(col("da") =!= col("db"))
        .select(least(col("da"), col("db")).as("pa"), greatest(col("da"), col("db")).as("pb"))
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
      store = Some(all)
    }
    assert(found.toSet == batchPairs,
      s"missing=${(batchPairs -- found).take(5)} extra=${(found.toSet -- batchPairs).take(5)}")
  }

  test("d23 histogram covers the whole corpus; singleton bucket == unpaired docs") {
    val hist = Catalog.byName("d23_cluster_size_histogram").build(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nDocs = Catalog.t(spark, sfDir, "documents").count()
    assert(hist.map { case (sz, n) => sz * n }.sum == nDocs,
      "histogram mass must equal the corpus")
    val paired = Catalog.byName("d03_minhash_lsh").build(spark, sfDir)
      .select("da", "db").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(hist.getOrElse(1L, 0L) == nDocs - paired.size,
      "singleton bucket != docs outside every near-dup pair")
    assert(hist.keys.exists(_ >= 2), "no multi-doc cluster — dedup signal degenerate")
  }
}
