package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The codegen'd text kernels must be value-identical to the declarative
  * Spark formulations they replace (the declarative forms are the
  * executable spec; the kernels are the fast path).
  */
class TextExpressionsSpec extends SparkSpec {

  import spark.implicits._

  private def declarativeShingles3(text: org.apache.spark.sql.Column) = {
    val toks = split(trim(text), "\\s+")
    array_distinct(
      when(size(toks) >= 3,
        transform(sequence(lit(1), size(toks) - 2), i => concat_ws(" ", slice(toks, i, lit(3)))))
        .otherwise(array().cast(ArrayType(StringType))))
  }

  test("word_shingles == declarative transform/slice formulation on real docs") {
    val docs = graft.operators.Catalog.t(spark, sfDir, "documents")
    val both = docs.select(
      $"doc_id",
      GraftFunctions.word_shingles($"text", 3).as("fast"),
      declarativeShingles3($"text").as("slow"))
    val bad = both.where(!($"fast" <=> $"slow")).count()
    assert(bad === 0, s"$bad docs disagree between kernel and declarative shingles")
  }

  test("word_shingles edge cases") {
    val df = Seq(
      ("a b c d", 1),          // 2 shingles
      ("a b", 2),              // < 3 tokens → empty
      ("", 3),                 // empty → empty
      ("  x   y   z  ", 4),    // irregular whitespace
      ("w w w w", 5)           // duplicate shingles collapse
    ).toDF("text", "id")
      .select($"id", GraftFunctions.word_shingles($"text", 3).as("sh"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    assert(df(1) === Seq("a b c", "b c d"))
    assert(df(2) === Seq.empty)
    assert(df(3) === Seq.empty)
    assert(df(4) === Seq("x y z"))
    assert(df(5) === Seq("w w w"))
  }

  test("word_ngrams == declarative transform/slice formulation, keeps multiplicity and order") {
    def declarativeNgrams2(text: org.apache.spark.sql.Column) = {
      val toks = split(trim(text), "\\s+")
      when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1), i => concat_ws(" ", slice(toks, i, lit(2)))))
        .otherwise(array().cast(ArrayType(StringType)))
    }
    val docs = graft.operators.Catalog.t(spark, sfDir, "documents")
    val bad = docs.select(
      GraftFunctions.word_ngrams($"text", 2).as("fast"),
      declarativeNgrams2($"text").as("slow"))
      .where(!($"fast" <=> $"slow")).count()
    assert(bad === 0, s"$bad docs disagree between kernel and declarative bigrams")
    // multiplicity: repeated pairs are NOT collapsed (unlike word_shingles)
    val rep = Seq(("w w w w", 1)).toDF("text", "id")
      .select(GraftFunctions.word_ngrams($"text", 2).as("ng"),
        GraftFunctions.word_shingles($"text", 2).as("sh"))
      .head
    assert(rep.getSeq[String](0) === Seq("w w", "w w", "w w"))
    assert(rep.getSeq[String](1) === Seq("w w"))
  }

  test("minhash_signature == explode + 64×min-aggregate dataflow on real docs") {
    val P = graft.operators.DedupOps.MinhashPrime
    val N = graft.operators.DedupOps.NumHashes
    val docs = graft.operators.Catalog.t(spark, sfDir, "documents")
    val kernel = docs.select($"doc_id", GraftFunctions.minhash_signature($"text", 3, N).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val exploded = docs
      .select($"doc_id", explode(GraftFunctions.word_shingles($"text", 3)).as("shingle"))
      .withColumn("h", pmod(xxhash64($"shingle"), lit(P)))
    val aggs = (0 until N).map(k => min(pmod($"h" * (1L + 2L * k) + (1L + 3L * k), lit(P))).as(s"mh_$k"))
    val dataflow = exploded.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to N).map(r.getLong)).toMap
    // explode drops docs with zero shingles; kernel emits all-P for them
    dataflow.foreach { case (id, sig) =>
      assert(kernel(id) === sig, s"doc $id signature mismatch")
    }
    (kernel.keySet -- dataflow.keySet).foreach { id =>
      assert(kernel(id).forall(_ == P), s"empty doc $id should have all-P signature")
    }
  }

  test("word_set_counts == size(filter(...)) formulation on real docs + edge cases") {
    val sets = graft.operators.TextOps.langSignatures.map(_._2)
    def declarative(text: org.apache.spark.sql.Column, words: Seq[String]) =
      size(filter(split(trim(text), "\\s+"), w => array_contains(lit(words.toArray), w)))
    val docs = graft.operators.Catalog.t(spark, sfDir, "documents")
      .select($"text")
      .unionAll(Seq("", " ", "\tthe and", "the  the the", "el de la le et und das der")
        .toDF("text"))
    val both = docs.select(
      GraftFunctions.word_set_counts($"text", sets).as("fast"),
      array(sets.map(ws => declarative($"text", ws)): _*).as("slow"))
    val bad = both.where(!($"fast" <=> $"slow")).count()
    assert(bad === 0, s"$bad rows disagree between kernel and declarative word_set_counts")
  }

  test("token_fingerprint == transform+aggregate formulation on real docs + edge cases") {
    def declarative(text: org.apache.spark.sql.Column) = {
      val toks = split(trim(text), "\\s+")
      val weighted = transform(toks, (w, i) =>
        ((ascii(w) * lit(31) + length(w)).cast(LongType)) * (i.cast(LongType) + lit(1L)))
      pmod(aggregate(weighted, lit(0L), (acc, x) => acc + x), lit(1000000007L))
    }
    val docs = graft.operators.Catalog.t(spark, sfDir, "documents")
      .select($"text")
      .unionAll(Seq("", " ", "\ta b", "a  b   c", "zzz").toDF("text"))
    val both = docs.select(
      GraftFunctions.token_fingerprint($"text").as("fast"),
      declarative($"text").as("slow"))
    val bad = both.where(!($"fast" <=> $"slow")).count()
    assert(bad === 0, s"$bad rows disagree between kernel and declarative fingerprint")
  }

  test("word_set_counts / token_fingerprint == declarative forms on RANDOM strings (property)") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    val piece = Gen.oneOf("the", "and", "el", "de", "x", "zz9", "", " ", "  ", "\t", "\n", ".", "a-b")
    val strGen = Gen.listOf(piece).map(_.mkString(" "))
    val sets = graft.operators.TextOps.langSignatures.map(_._2)
    def declCounts(text: org.apache.spark.sql.Column) =
      array(sets.map(ws =>
        size(filter(split(trim(text), "\\s+"), w => array_contains(lit(ws.toArray), w)))): _*)
    def declFp(text: org.apache.spark.sql.Column) = {
      val toks = split(trim(text), "\\s+")
      val weighted = transform(toks, (w, i) =>
        ((ascii(w) * lit(31) + length(w)).cast(LongType)) * (i.cast(LongType) + lit(1L)))
      pmod(aggregate(weighted, lit(0L), (acc, x) => acc + x), lit(1000000007L))
    }
    val prop = Prop.forAll(Gen.listOfN(50, strGen)) { texts =>
      val df = texts.toDF("text").select(
        GraftFunctions.word_set_counts($"text", sets).as("fc"),
        declCounts($"text").as("sc"),
        GraftFunctions.token_fingerprint($"text").as("ff"),
        declFp($"text").as("sf"),
        // cross-kernel invariant: shingles are the first-occurrence dedup
        // of the multiplicity-keeping ngrams, at any n
        GraftFunctions.word_shingles($"text", 2).as("ws"),
        array_distinct(GraftFunctions.word_ngrams($"text", 2)).as("wn"))
      df.where(!($"fc" <=> $"sc") || !($"ff" <=> $"sf") || !($"ws" <=> $"wn")).count() == 0L
    }
    val res = check(Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("simhash64 == per-bit aggregate formulation on real docs") {
    val toks = split(trim($"text"), "\\s+")
    val hashes = transform(toks, w => xxhash64(w))
    val bits = (0 until 64).map { b =>
      val bitSum = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(bitSum > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    val docs = graft.operators.Catalog.t(spark, sfDir, "documents")
      .where(length(trim($"text")) > 0) // declarative form hashes the "" token on empty text
    val both = docs.select(
      GraftFunctions.simhash64($"text").as("fast"),
      bits.reduce(_ bitwiseOR _).as("slow"))
    val bad = both.where($"fast" =!= $"slow").count()
    assert(bad === 0, s"$bad docs disagree between kernel and declarative simhash")
  }

  test("CentroidScores equality is content-based (canonicalization/CSE-safe)") {
    // case-class equals on Array params is reference identity; the
    // override must make two structurally identical instances equal so
    // Catalyst canonicalization, common-subexpression elimination, and
    // plan-cache matching can merge them.
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    def child = BoundReference(0, ArrayType(FloatType), nullable = true)
    def mk() = CentroidScores(child,
      Array(Array(1.0, 2.0), Array(3.0, 4.0)), Array(5L, 25L))
    val (a, b) = (mk(), mk())
    assert(a == b, "content-identical CentroidScores instances must be equal")
    assert(a.hashCode == b.hashCode, "equal instances must hash equal")
    assert(a.semanticEquals(b), "semantic equality must hold for content-identical instances")
    val c = CentroidScores(child,
      Array(Array(1.0, 2.0), Array(3.0, 9.0)), Array(5L, 25L))
    assert(a != c, "different centroid matrices must not compare equal")
  }

  test("doc_pairs rejects a posting list that may hold a NULL element at analysis") {
    val pair = spark.sql("""SELECT doc_pairs(array(named_struct('id', 1L, 'sz', 1),
                                                  named_struct('id', 2L, 'sz', 3))) AS p""")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(pair.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))) ===
      Seq((1L, 1, 2L, 3)))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT doc_pairs(array(named_struct('id', 1L, 'sz', 1), NULL)) AS p").collect()
    }
    assert(e.getMessage.contains("doc_pairs"), e.getMessage)
  }
}
