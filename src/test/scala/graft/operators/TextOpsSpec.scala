package graft.operators

import graft.SparkSpec

/** Semantic pins for the text-pipeline operators: TF-IDF ranking (t10),
  * sequence packing (t20), and the deterministic train/val/test split
  * (t21) — each against an independent driver-side recomputation.
  */
class TextOpsSpec extends SparkSpec {

  import spark.implicits._

  test("t10 top-3 keywords == driver-side tf/df ranking") {
    val docs = Catalog.t(spark, sfDir, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val tf: Map[(Long, String), Long] = docs.flatMap { case (id, t) =>
      t.trim.split("\\s+").filter(_.nonEmpty).groupBy(identity)
        .map { case (tok, hits) => (id, tok) -> hits.length.toLong }
    }.toMap
    val df: Map[String, Long] =
      tf.keys.groupBy(_._2).map { case (tok, ks) => tok -> ks.size.toLong }
    val expected = tf.groupBy(_._1._1).flatMap { case (id, m) =>
      m.toSeq
        .map { case ((_, tok), f) => (tok, f, df(tok), f.toDouble / df(tok)) }
        .sortBy { case (tok, _, _, score) => (-score, tok) }
        .take(3).zipWithIndex
        .map { case ((tok, f, d, score), i) => (id, i + 1, tok, f, d, score) }
    }.toSet
    val got = Catalog.byName("t10_tfidf_keywords").build(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    assert(got === expected)
  }

  test("t20 packing is gapless and exhaustive within each source shard") {
    val rows = Catalog.byName("t20_pack_sequences").build(spark, sfDir)
      .select("doc_id", "source", "n_toks", "start_tok", "first_chunk", "last_chunk")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    rows.groupBy(_._2).foreach { case (src, docs) =>
      val ordered = docs.sortBy(_._1)
      // first doc starts at token 0; each next doc starts where the
      // previous ended — no token is skipped or double-assigned
      assert(ordered.head._4 === 0L, s"$src: first doc does not start at 0")
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._4 === a._4 + a._3, s"$src: gap between docs ${a._1} and ${b._1}")
        case _ =>
      }
      ordered.foreach { case (id, _, n, start, first, last) =>
        assert(first === start / 128 && last === (start + n - 1) / 128,
          s"$src doc $id: chunk bounds disagree with offsets")
      }
    }
    // every document is packed
    assert(rows.length.toLong === Catalog.t(spark, sfDir, "documents").count())
  }

  test("t22 keyword search == driver-side integer tf-weight scoring") {
    val qTerms = Set("spark", "join", "stream")
    val docs = Catalog.t(spark, sfDir, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
    val tf = docs.flatMap { case (id, toks) =>
      toks.filter(qTerms).groupBy(identity).map { case (q, hits) => (id, q) -> hits.size.toLong }
    }.toMap
    val df = tf.keys.groupBy(_._2).map { case (q, ks) => q -> ks.size.toLong }
    val n = docs.length.toLong
    val weight = df.map { case (q, d) => q -> n * 1000000L / d }
    val scored = tf.groupBy(_._1._1).map { case (id, m) =>
      (id, m.map { case ((_, q), f) => f * weight(q) }.sum, m.size.toLong)
    }
    val expect = scored.toSeq.sortBy { case (id, score, _) => (-score, id) }.take(10)
    val got = Catalog.byName("t22_keyword_search").build(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("d17 MinHash estimate is exact on identical pairs and bounded everywhere") {
    val rows = Catalog.byName("d17_minhash_estimate").build(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (da, db, j, m, est) =>
      assert(m >= 0L && m <= 64L)
      assert(est === m.toDouble / 64)
      // exact duplicates (J = 1) must agree on EVERY minhash position
      if (j == 1.0) assert(m === 64L, s"identical pair ($da,$db) has $m/64 matches")
    }
  }

  test("p04 data card columns agree with the operators they summarize") {
    import org.apache.spark.sql.functions._
    val card = Catalog.byName("p04_data_card").build(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val docs = Catalog.t(spark, sfDir, "documents")
    // n_docs / n_tokens
    val counts = docs.groupBy("source")
      .agg(count(lit(1)).as("n"), sum(size(split(trim(col("text")), "\\s+"))).as("t"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    counts.foreach { case (src, (n, t)) =>
      assert(card(src)._1 === n && card(src)._2 === t, s"$src doc/token counts differ")
    }
    // n_contaminated per source == d16's report joined to sources
    val srcOf = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val contBySrc = Catalog.byName("d16_contamination_report").build(spark, sfDir)
      .select("doc_id").collect().map(r => srcOf(r.getLong(0)))
      .groupBy(identity).map { case (s, xs) => s -> xs.length.toLong }
    card.foreach { case (src, (_, _, _, cont, _)) =>
      assert(cont === contBySrc.getOrElse(src, 0L), s"$src contamination count differs")
    }
    // n_dup_docs: docs whose text has >1 copy corpus-wide (d01's signal)
    val dupBySrc = {
      val byText = docs.select("doc_id", "source", "text").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val copies = byText.groupBy(_._3).view.mapValues(_.length).toMap
      byText.filter(x => copies(x._3) > 1).groupBy(_._2)
        .map { case (s, xs) => s -> xs.length.toLong }
    }
    card.foreach { case (src, (_, _, dup, _, _)) =>
      assert(dup === dupBySrc.getOrElse(src, 0L), s"$src dup count differs")
    }
  }

  test("t25 merge table == an independent plain-Scala BPE trainer") {
    // Reference implementation from first principles: word frequencies,
    // then 6 rounds of (weighted adjacent-pair count → argmax by (count
    // desc, "l r" asc) → leftmost-non-overlapping merge in every word).
    // Shares NO code with the operator (no marker brackets, no replace).
    val wc = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    Catalog.t(spark, sfDir, "documents").select($"text").collect().foreach { r =>
      r.getString(0).split("\\s+").filter(t => t.nonEmpty && !t.contains('\u0001'))
        .foreach(tok => wc(tok) += 1L)
    }
    var vocab: Seq[(List[String], Long)] =
      wc.toSeq.map { case (tok, n) => tok.map(_.toString).toList -> n }
    def mergeList(xs: List[String], l: String, r: String): List[String] = xs match {
      case a :: b :: rest if a == l && b == r => (l + r) :: mergeList(rest, l, r)
      case a :: rest => a :: mergeList(rest, l, r)
      case Nil => Nil
    }
    val expected = (1 to TextOps.BpeIters).map { i =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      vocab.foreach { case (syms, n) =>
        syms.zip(syms.tail).foreach(p => counts(p) += n)
      }
      val ((l, r), n) = counts.toSeq.minBy { case ((l, r), n) => (-n, s"$l $r") }
      vocab = vocab.map { case (syms, cnt) => mergeList(syms, l, r) -> cnt }
      (i, l, r, l + r, n)
    }
    val got = Catalog.byName("t25_bpe_train").build(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq
    assert(got === expected)
  }

  test("t26 per-doc BPE token counts == an independent plain-Scala tokenizer") {
    // Train independently (the t25 reference trainer), then tokenize each
    // doc by applying the merges in order to its words and counting
    // symbols — no marker brackets, no replace, no length arithmetic.
    def mergeList(xs: List[String], l: String, r: String): List[String] = xs match {
      case a :: b :: rest if a == l && b == r => (l + r) :: mergeList(rest, l, r)
      case a :: rest => a :: mergeList(rest, l, r)
      case Nil => Nil
    }
    val docs = Catalog.t(spark, sfDir, "documents").select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+")
        .filter(t => t.nonEmpty && !t.contains('\u0001')).toList)
    val wc = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    docs.foreach(_._2.foreach(tok => wc(tok) += 1L))
    var vocab: Seq[(List[String], Long)] =
      wc.toSeq.map { case (tok, n) => tok.map(_.toString).toList -> n }
    val merges = (1 to TextOps.BpeIters).map { _ =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      vocab.foreach { case (syms, n) => syms.zip(syms.tail).foreach(p => counts(p) += n) }
      val ((l, r), _) = counts.toSeq.minBy { case ((l, r), n) => (-n, s"$l $r") }
      vocab = vocab.map { case (syms, cnt) => mergeList(syms, l, r) -> cnt }
      (l, r)
    }
    def encode(tok: String): Int =
      merges.foldLeft(tok.map(_.toString).toList) {
        case (syms, (l, r)) => mergeList(syms, l, r)
      }.length
    val expected = docs.filter(_._2.nonEmpty).map { case (id, toks) =>
      val nBpe = toks.map(encode).sum.toLong
      val nChars = toks.map(_.length).sum.toLong
      (id, toks.length.toLong, nChars, nBpe, nChars.toDouble / nBpe)
    }.sortBy(_._1).toSeq
    val got = Catalog.byName("t26_bpe_apply").build(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSeq
    assert(got === expected)
    // merging can only shorten: every doc has n_bpe <= n_chars and >= n_tokens
    got.foreach { case (id, nt, nc, nb, _) =>
      assert(nb <= nc && nb >= nt, s"doc $id: n_bpe $nb outside [$nt, $nc]")
    }
  }

  test("t21 split is a deterministic partition with the 80/10/10 hash rule") {
    val docs = Catalog.t(spark, sfDir, "documents")
      .select($"doc_id", $"source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def split(id: Long): String = {
      val h = ((id % 2147483648L) * 2654435761L) % 1000L
      if (h < 800) "train" else if (h < 900) "val" else "test"
    }
    val expect = docs.groupBy { case (id, src) => (src, split(id)) }
      .map { case (k, v) => k -> v.length.toLong }
    val got = Catalog.byName("t21_train_val_test").build(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === expect)
    assert(got.values.sum === docs.length.toLong, "splits must partition the corpus")
  }

  test("t27: the C4 filter drops exactly the injected noise classes") {
    val out = Catalog.byName("t27_c4_filters").build(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      // the brace/lorem flags must fire on EXACTLY the docs the synthesis
      // injected them into — the filter found the noise, all of it, and
      // nothing else
      assert(r.getAs[Boolean]("has_brace") == (id % 7 == 0), s"doc $id brace flag")
      assert(r.getAs[Boolean]("has_lorem") == (id % 11 == 0), s"doc $id lorem flag")
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_lines"))
      if (r.getAs[Boolean]("keep"))
        assert(id % 7 != 0 && id % 11 != 0 && r.getAs[Long]("n_kept") >= 3)
    }
    // the filter must neither pass nor drop everything at the spec SF
    val kept = out.count(_.getAs[Boolean]("keep"))
    assert(kept > 0 && kept < out.length, s"degenerate keep rate $kept/${out.length}")
  }

  test("t28: the two-phase quartile equals the driver-sorted top quarter exactly") {
    val got = Catalog.byName("t28_quality_quartile").build(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score"))).toSet
    // independent driver-side recompute: sort all scores (desc, doc_id
    // tie-break), take NTILE bucket 1 = first ceil(n/4) rows
    val all = Catalog.byName("t02_quality_score").build(spark, sfDir)
      .collect().map { r =>
        (r.getAs[Long]("doc_id"),
          r.getAs[Number]("n_stop").longValue() * 1000L + r.getAs[Number]("n_tokens").longValue())
      }
    val n = all.length
    val q1 = n / 4 + (if (n % 4 > 0) 1 else 0)
    val expect = all.sortBy { case (id, sc) => (-sc, id) }.take(q1).toSet
    assert(got == expect, "global quartile selection diverged from the sorted truth")
  }

  test("t29: pass verdict is exactly the conjunction of its emitted signals") {
    val rows = Catalog.byName("t29_gopher_rules").build(spark, sfDir).collect()
    var (nPass, nFail) = (0, 0)
    rows.foreach { r =>
      val (n, sl, na, ns, st) = (r.getAs[Long]("n_words"), r.getAs[Long]("sum_len"),
        r.getAs[Long]("n_alpha"), r.getAs[Long]("n_sym"), r.getAs[Long]("n_stop"))
      val expect = n >= 50 && n <= 100000 &&
        sl >= n * 3 && sl <= n * 10 &&
        ns * 10 <= n && na * 5 >= n * 4 && st >= 2
      assert(r.getAs[Boolean]("pass") == expect, s"doc ${r.getAs[Long]("doc_id")}")
      if (expect) nPass += 1 else nFail += 1
    }
    assert(nPass > 0 && nFail > 0, "fixture never exercises one side of the filter")
    // signals agree with a direct driver recompute on a sample
    val docs = Catalog.t(spark, sfDir, "documents").select("doc_id", "text")
      .limit(50).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    docs.foreach { case (id, t) =>
      val toks = t.trim.split("\\s+", -1).toSeq
      val r = byId(id)
      assert(r.getAs[Long]("n_words") == toks.length.toLong)
      assert(r.getAs[Long]("sum_len") == toks.map(_.length).sum.toLong)
      assert(r.getAs[Long]("n_alpha") == toks.count(_.exists(c => c.isLetter && c < 128)).toLong)
      assert(r.getAs[Long]("n_stop") ==
        toks.distinct.count(Seq("the", "and", "of", "to", "a").contains).toLong)
    }
  }

  test("t30: fluency matches a driver-side bigram model built from the same corpus") {
    val docs = Catalog.t(spark, sfDir, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def toks(t: String): Seq[String] = t.trim.split("\\s+", -1).filter(_.nonEmpty).toSeq
    val bigrams = docs.map { case (id, t) => id -> toks(t).sliding(2).filter(_.length == 2)
      .map { case Seq(a, b) => (a, b) }.toSeq }.filter(_._2.nonEmpty)
    val c2 = bigrams.flatMap(_._2).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val c1 = bigrams.flatMap(_._2).groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val out = Catalog.byName("t30_bigram_lm").build(spark, sfDir).collect()
    assert(out.length == bigrams.length) // exactly the ≥2-token docs score
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    bigrams.foreach { case (id, bgs) =>
      val s = bgs.map(b => c2(b) * 1000000L / c1(b._1)).sum
      val r = byId(id)
      assert(r.getAs[Long]("n_bigrams") == bgs.length.toLong, s"doc $id bigram count")
      assert(r.getAs[Long]("fluency_ppm") == s / bgs.length, s"doc $id fluency")
    }
    // conditional rows sum to c1 per history (model is a proper distribution)
    c1.foreach { case (w, c) =>
      assert(c2.collect { case ((a, _), n) if a == w => n }.sum == c)
    }
    // a mean probability lives in (0, 1e6]; a constant column means the
    // model degenerated (e.g. every bigram unique → fluency == floor(1e6/c1))
    assert(out.forall(r => r.getAs[Long]("fluency_ppm") >= 0 &&
      r.getAs[Long]("fluency_ppm") <= 1000000L))
    assert(out.map(_.getAs[Long]("fluency_ppm")).distinct.length > 10)
  }

  test("t31: affinity matches a driver-side DSIR recompute from the same corpus") {
    val docs = Catalog.t(spark, sfDir, "documents")
      .select($"doc_id", $"source", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def toks(t: String) = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
    val all = docs.flatMap { case (id, src, t) => toks(t).map(tok => (id, src, tok)) }
    val fc = all.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val ft = all.filter(_._2 == "src1").groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val dc = all.length.toLong
    val dt = all.count(_._2 == "src1").toLong
    val lean = fc.keySet.map(tok =>
      tok -> (ft.getOrElse(tok, 0L) * dc > fc(tok) * dt)).toMap
    val exp = all.groupBy(_._1).view.mapValues { rs =>
      val nLean = rs.count(r => lean(r._3)).toLong
      (rs.length.toLong, nLean, 1000000L * nLean / rs.length)
    }.toMap
    val out = Catalog.byName("t31_dsir_affinity").build(spark, sfDir).collect()
    out.foreach { r =>
      val (n, nl, ppm) = exp(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_tokens") == n && r.getAs[Long]("n_lean") == nl &&
        r.getAs[Long]("lean_ppm") == ppm && r.getAs[Boolean]("keep") == (ppm >= 500000L))
    }
    // target docs must skew high, and the signal must separate the corpus
    val kept = out.filter(_.getAs[Boolean]("keep")).map(_.getAs[Long]("doc_id")).toSet
    assert(kept.nonEmpty && kept.size < out.length, "keep rule degenerate")
  }

  test("t32: quotas sum EXACTLY to the budget and are proportional within 1") {
    val out = Catalog.byName("t32_token_budget").build(spark, sfDir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_tokens"), r.getAs[Long]("quota")))
    assert(out.map(_._3).sum == 100000L, "largest-remainder quotas must sum to the budget")
    val totalW = out.map(_._2).sum
    out.foreach { case (src, w, q) =>
      val ideal = 100000.0 * w / totalW
      assert(math.abs(q - ideal) < 1.0, s"$src quota $q vs ideal $ideal drifted >= 1")
    }
    assert(out.length > 1 && out.map(_._3).distinct.length > 1, "allocation degenerate")
  }

  test("p05: funnel is monotone and reconciles with p02's final count") {
    val f = Catalog.byName("p05_funnel_report").build(spark, sfDir).collect()
      .map(r => r.getAs[Int]("stage_id") -> r.getAs[Long]("n_docs")).toMap
    assert(f.keySet == Set(1, 2, 3, 4))
    assert(f(1) >= f(2) && f(2) >= f(3) && f(3) >= f(4), s"funnel not monotone: $f")
    assert(f(4) > 0, "pipeline dropped everything")
    val p02Total = Catalog.byName("p02_full_curation").build(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum("n_docs")).head().getLong(0)
    assert(f(4) == p02Total, s"funnel stage 4 (${f(4)}) != p02 total ($p02Total)")
  }

  test("p06: expectation violation counts == driver recompute; report covers pass AND fail") {
    val li = Catalog.t(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity").collect()
    val out = Catalog.byName("p06_data_expectations").build(spark, sfDir).collect()
      .map(r => r.getAs[String]("check_name") ->
        (r.getAs[Long]("n_violations"), r.getAs[Boolean]("pass"))).toMap
    assert(out.size == 6 && out.values.forall { case (n, p) => p == (n == 0L) })
    val dupLines = li.length.toLong -
      li.map(r => (r.getLong(0), r.getInt(1))).distinct.length.toLong
    assert(out("lineitem_line_unique")._1 == dupLines)
    assert(out("lineitem_qty_in_1_50")._1 ==
      li.count(r => !(r.getDouble(2) >= 1 && r.getDouble(2) <= 50)).toLong)
    val ordKeys = Catalog.t(spark, sfDir, "orders").select("o_orderkey", "o_custkey").collect()
    assert(out("orders_pk_unique")._1 ==
      ordKeys.length.toLong - ordKeys.map(_.getLong(0)).distinct.length.toLong)
    val custKeys = Catalog.t(spark, sfDir, "customer").select("c_custkey").collect()
      .map(_.getLong(0)).toSet
    assert(out("orders_fk_customer")._1 == ordKeys.count(r => !custKeys(r.getLong(1))).toLong)
  }

  test("p07: manifest == driver recompute; split totals reconcile with t21") {
    def docHash(id: Long, m: Long): Long = ((id & 0x7fffffffL) * 2654435761L) % m
    def md5_60(text: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val fold = BigInt("2305843009213693951")
    val docs = Catalog.t(spark, sfDir, "documents")
      .select($"doc_id", $"text").collect().map(r => (r.getLong(0), r.getString(1)))
    val expect = docs.groupBy { case (id, _) =>
      val h = docHash(id, 1000L)
      (if (h < 800) "train" else if (h < 900) "val" else "test", docHash(id, 8L))
    }.map { case ((split, shard), rows) =>
      // Spark's trim strips SPACES only (not tabs/newlines) — mirror it
      val nToks = rows.map { case (_, t) =>
        t.replaceAll("^ +", "").replaceAll(" +$", "").split("\\s+", -1).length.toLong
      }.sum
      val sig = (rows.map { case (_, t) => BigInt(md5_60(t)) }.sum mod fold).toLong
      (split, shard, rows.length.toLong, nToks, sig)
    }.toSet
    val m = Catalog.byName("p07_shard_manifest").build(spark, sfDir).collect()
    val got = m.map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == expect, s"manifest mismatch: ${got.diff(expect)} vs ${expect.diff(got)}")
    // the manifest's split totals must reconcile with the t21 split report
    val bySplit = m.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    val t21 = Catalog.byName("t21_train_val_test").build(spark, sfDir).collect()
      .groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    assert(bySplit == t21, s"p07 split totals $bySplit != t21 $t21")
  }

  test("p09 sweep matches a driver-side recompute and is monotone in the cut") {
    // mirror Spark's split(trim(text), \s+) exactly: trim strips SPACES
    // only (Java String.trim would also strip tab/newline edges)
    val ntoks = Catalog.t(spark, sfDir, "documents").select("text").collect()
      .map(_.getString(0).replaceAll("^ +", "").replaceAll(" +$", "")
        .split("\\s+", -1).length.toLong)
    val totDocs = ntoks.length.toLong
    val totToks = ntoks.sum
    val expect = Seq(10L, 20L, 50L, 100L).flatMap { cut =>
      val kept = ntoks.filter(_ >= cut)
      if (kept.isEmpty) None
      else Some((cut, kept.length.toLong, kept.sum,
        kept.length * 1000000L / totDocs, kept.sum * 1000000L / totToks))
    }
    val got = Catalog.byName("p09_quality_sweep").build(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expect, s"sweep mismatch:\n$got\nvs\n$expect")
    // docs and tokens kept must be non-increasing as the cut rises
    got.sliding(2).foreach {
      case Seq(lo, hi) =>
        assert(hi._2 <= lo._2 && hi._3 <= lo._3, s"sweep not monotone: $lo -> $hi")
      case _ =>
    }
  }

  test("p10 manifest: stages shrink, checksums are the exact driver sums over kept ids") {
    val m = Catalog.byName("p10_repro_manifest").build(spark, sfDir).collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getLong(2), BigInt(r.getString(3)))).toMap
    assert(m.keySet == Set(1, 2, 3, 4))
    assert(m(1)._2 >= m(2)._2 && m(2)._2 >= m(3)._2 && m(3)._2 >= m(4)._2,
      "stage doc counts must be non-increasing")
    // driver recompute of every stage's id set and checksum
    val docs = Catalog.t(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def sig(text: String): BigInt = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      BigInt(h.take(15), 16)
    }
    val sigs = docs.map { case (id, tx) => id -> sig(tx) }.toMap
    val keep = docs.groupBy(d => java.security.MessageDigest.getInstance("MD5")
        .digest(d._2.getBytes("UTF-8")).toSeq)
      .values.map(_.map(_._1).min).toSet
    val cont = DedupOps.contaminatedIds(spark, sfDir).collect().map(_.getLong(0)).toSet
    val dc = keep -- cont
    def check(stage: Int, ids: Set[Long]): Unit = {
      assert(m(stage)._2 == ids.size.toLong, s"stage $stage count")
      assert(m(stage)._3 == ids.toSeq.map(sigs).sum, s"stage $stage checksum")
    }
    check(1, docs.map(_._1).toSet)
    check(2, keep)
    check(3, dc)
    // stage 4 = stage 3 ∩ the t06 quality envelope (its own gate entry)
    val ql = Catalog.byName("t06_quality_filter").build(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    check(4, dc intersect ql)
  }

  test("p11 quarantine: partition law, overlapping reasons, negative control") {
    val r = Catalog.byName("p11_quarantine").build(spark, sfDir).head()
    val total = Catalog.t(spark, sfDir, "events").count()
    val cap = r.getAs[Long]("n_value_above_cap")
    val k = r.getAs[Long]("n_k_out_of_range")
    val ts = r.getAs[Long]("n_ts_out_of_window")
    val quar = r.getAs[Long]("n_quarantined")
    val pass = r.getAs[Long]("n_passed")
    assert(quar + pass == total, "quarantined + passed must partition the input")
    assert(cap + k + ts >= quar, "reason counts cannot undercount the union")
    assert(ts == 0L, "ts window is the negative control — fixture must pass it")
    assert(cap > 0L && k > 0L, "cap/k checks degenerate — thresholds no longer split the fixture")
    // driver recompute of each reason
    val ev = Catalog.t(spark, sfDir, "events")
      .selectExpr("value", "get_json_object(props, '$.k') AS k").collect()
    assert(cap == ev.count(_.getDouble(0) > 150.0).toLong)
    assert(k == ev.count(row => row.getString(1).toLong > 90L).toLong)
  }

  test("t34 vocabulary-overlap matrix == a driver-side set computation") {
    val docs = Catalog.t(spark, sfDir, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val vocab = docs.groupBy(_._1).view.mapValues(_.flatMap(d =>
      d._2.replaceAll("^ +", "").replaceAll(" +$", "")
        .split("\\s+", -1).filter(_.nonEmpty)).toSet).toMap
    val srcs = vocab.keys.toSeq.sorted
    val expect = (for {
      i <- srcs.indices; j <- (i + 1) until srcs.size
      va = vocab(srcs(i)); vb = vocab(srcs(j))
      inter = (va & vb).size.toLong if inter > 0
    } yield (srcs(i), srcs(j)) ->
      (inter, va.size.toLong, vb.size.toLong,
        inter * 1000000L / (va.size + vb.size - inter))).toMap
    val got = Catalog.byName("t34_source_vocab_overlap").build(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got == expect, "overlap matrix mismatch")
    // the matrix is complete and informative at fixture scale
    assert(got.size == srcs.size * (srcs.size - 1) / 2, "missing source pairs")
    assert(got.values.map(_._4).toSet.size > 1, "all pairs identical — degenerate signal")
  }

  test("p12 re-election on a CONSTRUCTED deleted representative (fixture has none)") {
    // docHash(id, 20) == 0 ⇔ id % 20 == 0 (2654435761 ≡ 1 mod 20), so the
    // deletion set is constructible. Four cluster shapes, one per law:
    //  {20, 21} same text, rep 20 DELETED      → re-elect 21 (the trap)
    //  {3, 60}  same text, member 60 deleted   → rep 3 unchanged, no re-election
    //  {40}     singleton, deleted             → cluster disappears, no re-election
    //  {1}, {2} untouched singletons           → carried through
    val dir = Artifacts.newDir("graft_p12")
    Seq((1L, "x"), (2L, "y"), (3L, "z"), (60L, "z"), (20L, "dup text"),
      (21L, "dup text"), (40L, "solo"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq((1L, Seq(1.0f), 0), (2L, Seq(2.0f), 0), (20L, Seq(3.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // build() also runs the in-query conservation require()s — a
    // propagation drift on this input would throw here, not just mismatch
    val m = Catalog.byName("p12_deletion_propagation").build(spark, dir)
      .collect().map(r => r.getAs[String]("artifact") ->
        (r.getAs[Long]("n_before"), r.getAs[Long]("n_deleted"),
          r.getAs[Long]("n_after"), r.getAs[Long]("n_reelected"))).toMap
    assert(m("documents") == ((7L, 3L, 4L, 0L)), s"documents row: ${m("documents")}")
    assert(m("chunks") == ((7L, 3L, 4L, 0L)), "one chunk per short doc")
    assert(m("embeddings") == ((3L, 1L, 2L, 0L)), "only vec_id 20 aligned-deleted")
    // keep-list: 5 clusters before; reps 20 and 40 deleted; ONE re-election
    // (21 takes over dup-text) — dropping whole clusters would read (5,3,3,0)
    assert(m("dedup_keep") == ((5L, 2L, 4L, 1L)), s"keep row: ${m("dedup_keep")}")
  }

  test("qualitySignals / qualityOk hold the envelope's edges: 10..500 tokens, mean length 2..12, stopwords <= 0.6") {
    def words(w: String, n: Int) = Seq.fill(n)(w).mkString(" ")
    // doc_id -> (text, expected verdict); "abc" is no stopword, "the" is one
    val cases = Seq(
      1L -> (words("abc", 9), false),
      2L -> (words("abc", 10), true),
      3L -> (words("abc", 500), true),
      4L -> (words("abc", 501), false),
      5L -> (words("ab", 10), true), // mean token length exactly 2.0
      6L -> (words("ab", 9) + " a", false), // 1.9
      7L -> (words("abcdefghijkl", 10), true), // exactly 12.0
      8L -> (words("abcdefghijkl", 9) + " abcdefghijklm", false), // 12.1
      9L -> (words("the", 6) + " " + words("word", 4), true), // stopword ratio exactly 0.6
      10L -> (words("the", 7) + " " + words("word", 3), false), // 0.7
      11L -> ("   ", false)) // whitespace only: one empty token
    val docs = cases.map { case (id, (text, _)) => (id, text) }.toDF("doc_id", "text")
    val signals = TextOps.qualitySignals(docs)
    assert(signals.schema("n_tokens").dataType === org.apache.spark.sql.types.IntegerType)
    val got = signals.select($"doc_id", TextOps.qualityOk).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === cases.map { case (id, (_, ok)) => id -> ok }.toMap)
    val blank = signals.where($"doc_id" === 11L)
      .select("n_tokens", "n_stop", "avg_token_len", "stop_ratio").head()
    assert((blank.getInt(0), blank.getInt(1), blank.getDouble(2), blank.getDouble(3)) === ((1, 0, 0.0, 0.0)))
    // the data card's flags are the same envelope, with a BIGINT token count
    val flags = TextOps.dataCardDocFlags(docs)
    assert(flags.schema("n_toks").dataType === org.apache.spark.sql.types.LongType)
    assert(flags.select("doc_id", "q_ok").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap === got)
  }

  test("tokenRows drops the empty token a whitespace-led text splits to") {
    val docs = Seq((1L, "   "), (2L, "a  b"), (3L, "\tc d")).toDF("doc_id", "text")
    // SQL trim strips spaces only, so a tab-led text keeps a leading empty token
    assert(docs.select(org.apache.spark.sql.functions.size(TextOps.tokens($"text"))).as[Int]
      .collect().toSeq === Seq(1, 2, 3))
    val rows = TextOps.tokenRows(docs, "doc_id").as[(Long, String)].collect().toSeq.sorted
    assert(rows === Seq((2L, "a"), (2L, "b"), (3L, "c"), (3L, "d")))
  }

  test("dedupKeep keeps the lowest doc_id of each text") {
    val docs = Seq((5L, "x"), (2L, "x"), (7L, "y"), (9L, "z"), (3L, "z"), (4L, "z")).toDF("doc_id", "text")
    assert(TextOps.dedupKeep(docs).as[Long].collect().toSeq.sorted === Seq(2L, 3L, 7L))
  }

  test("the envelope and the keep-list are written once per engine; StreamShape does not tokenize by hand") {
    import java.nio.file.{Files, Path, Paths}
    val root = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(root), s"run from the repo root: $root not found")
    val walk = Files.walk(root)
    val srcs = try walk.toArray.map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p)).toMap
    finally walk.close()
    def count(shape: String) =
      srcs.values.map(_.split(java.util.regex.Pattern.quote(shape), -1).length - 1).sum
    Seq("between(10, 500)", "BETWEEN 10 AND 500", "GROUP BY md5(text)").foreach(shape =>
      assert(count(shape) === 1, s"`$shape` should appear once, in TextOps' curation kit"))
    assert(!srcs("StreamShape.scala").contains("split(trim("),
      "StreamShape tokenizes through TextOps.tokens / qualitySignals")
  }
}
