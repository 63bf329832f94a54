package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text kernels for the dedup/text pipeline.
  *
  * The declarative formulation (`transform(sequence(...), i =>
  * concat_ws(" ", slice(tokens, i, n)))` + `array_distinct`) runs ~1 ms/doc:
  * higher-order functions are interpreted (no codegen) and every shingle
  * allocates a slice array plus a concat buffer. These expressions do one
  * pass over the raw UTF-8 bytes inside whole-stage codegen — same output,
  * ~100× less work — because dedup shingling is THE hot loop of a 100 TB
  * curation pass.
  */
object TextKernels extends Serializable {

  /** Distinct word n-gram shingles of a whitespace-tokenized string.
    * Semantics identical to the declarative form over
    * `split(trim(text), "\\s+")`: fewer than n tokens → empty array;
    * shingles joined with a single space; first-occurrence order after
    * dedup (order is irrelevant downstream — sets only).
    */
  /** The regex `\s` character class ([ \t\n\x0B\f\r]) — the separator set
    * of BOTH declarative forms (Java regex split) and the DuckDB oracles
    * (string_split_regex). Character.isWhitespace is NOT equivalent: it
    * additionally matches U+001C–U+001F and U+2028/U+2029, so a scan
    * built on it silently diverges from every regex-tokenized mirror on
    * those characters (pinned in KernelFuzzSpec).
    */
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  def wordShingles(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return null
    val s = text.toString
    // manual whitespace tokenization == split(trim, "\\s+"), empty tokens
    // skipped (regex \s separator class — see isWs)
    val toks = new java.util.ArrayList[String]()
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isWs(s.charAt(i))) i += 1
        toks.add(s.substring(start, i))
      }
    }
    val m = toks.size
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]((m - n + 1) * 2)
    val sb = new java.lang.StringBuilder(64)
    var j = 0
    while (j <= m - n) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks.get(j + k))
        k += 1
      }
      seen.add(sb.toString)
      j += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = UTF8String.fromString(it.next()); p += 1 }
    new GenericArrayData(out)
  }

  /** Word n-grams WITH multiplicity, in document order (the non-deduping
    * sibling of [[wordShingles]]) — what frequency-counting consumers (BPE
    * pair statistics) need, where [[wordShingles]]'s set semantics would
    * undercount repeated pairs. Same tokenization; fewer than n tokens →
    * empty array.
    */
  def wordNgrams(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return null
    val s = text.toString
    val toks = new java.util.ArrayList[String]()
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isWs(s.charAt(i))) i += 1
        toks.add(s.substring(start, i))
      }
    }
    val m = toks.size
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    val sb = new java.lang.StringBuilder(64)
    var j = 0
    while (j <= m - n) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks.get(j + k))
        k += 1
      }
      out(j) = UTF8String.fromString(sb.toString)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature in one pass: distinct word-`shingleN`-gram shingles,
    * base hash h = xxhash64(shingle, seed 42) mod p (p = 2^31-1), signature
    * element k = min over shingles of (h·a_k + b_k) mod p with
    * a_k = 1+2k (odd), b_k = 1+3k. Values are bit-identical to the
    * explode → 64×min-aggregate dataflow formulation, but need no explode
    * and NO SHUFFLE — signatures become a narrow projection, which is the
    * difference between a map-only stage and a corpus-wide exchange at
    * 100 TB. Docs with no shingles get an all-p signature (collides only
    * with other empty docs).
    */
  def minhashSignature(text: UTF8String, shingleN: Int, numHashes: Int): ArrayData = {
    if (text == null) return null
    val P = 2147483647L // 2^31 - 1
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, P)
    val shingles = wordShingles(text, shingleN)
    var i = 0
    val n = shingles.numElements()
    while (i < n) {
      val sh = shingles.getUTF8String(i)
      val raw = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(sh.getBaseObject, sh.getBaseOffset, sh.numBytes(), 42L)
      val h = ((raw % P) + P) % P // pmod
      var k = 0
      while (k < numHashes) {
        val v = (h * (1L + 2L * k) + (1L + 3L * k)) % P
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(x => x: Any))
  }

  // Exact `split(trim(text), "\s+")` semantics (Spark trim = ASCII spaces
  // only; Java Pattern.split(s, -1) keeps the lone empty token of an empty
  // string and any leading empty token after a non-space whitespace prefix)
  // so kernel outputs are bit-identical to the declarative formulation.
  private val WS = java.util.regex.Pattern.compile("\\s+")
  def splitTokens(text: UTF8String): Array[String] = WS.split(text.trim().toString, -1)

  /** Membership counts of whitespace tokens in each of `sets`, one
    * tokenization pass. result(k) == size(filter(split(trim(text),"\\s+"),
    * w => array_contains(sets(k), w))) — counts occurrences, not distinct
    * tokens. The declarative form runs an interpreted lambda per token per
    * set and re-splits `text` per set; this is one fused loop inside
    * whole-stage codegen.
    */
  def wordSetCounts(text: UTF8String, sets: Array[java.util.HashSet[String]]): ArrayData = {
    if (text == null) return null
    val toks = splitTokens(text)
    val counts = new Array[Int](sets.length)
    var i = 0
    while (i < toks.length) {
      var k = 0
      while (k < sets.length) {
        if (sets(k).contains(toks(i))) counts(k) += 1
        k += 1
      }
      i += 1
    }
    new GenericArrayData(counts.map(x => x: Any))
  }

  /** Position-weighted rolling token fingerprint:
    * pmod(Σ_i (ascii(tok_i)·31 + length(tok_i)) · (i+1), 1e9+7) with i
    * 0-based — bit-identical to the transform+aggregate dataflow form
    * (which runs interpreted per element), in one codegen'd pass.
    */
  def tokenFingerprint(text: UTF8String): Long = {
    if (text == null) return 0L
    val toks = splitTokens(text)
    var acc = 0L
    var i = 0
    while (i < toks.length) {
      val w = toks(i)
      val a = if (w.isEmpty) 0 else w.codePointAt(0)
      acc += (a * 31 + w.length).toLong * (i + 1L)
      i += 1
    }
    val m = 1000000007L
    ((acc % m) + m) % m
  }

  /** 64-bit SimHash over whitespace tokens: per-token xxhash64(seed=42),
    * per-bit vote (+1 if set, -1 if clear), bit set in the result when the
    * vote is positive. One pass, no per-bit array traffic. Zero tokens →
    * simhash 0.
    */
  def simHash64(text: UTF8String, seed: Long): Long = {
    if (text == null) return 0L
    val votes = new Array[Int](64)
    val s = text.toString
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isWs(s.charAt(i))) i += 1
        val tok = UTF8String.fromString(s.substring(start, i))
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(tok.getBaseObject, tok.getBaseOffset, tok.numBytes(), seed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** Exact scaled dot product of two float vectors:
  * Σ floor(a[i]·b[i]·1e15) as Long — identical to the
  * zip_with/aggregate dataflow formulation (each per-element product is
  * exactly representable: |x·y|·1e15 ≈ 1e13 < 2^53; the long sum is
  * associative, so order-independent). The declarative form evaluates
  * interpreted lambdas per element; this runs one fused loop inside
  * whole-stage codegen — the inner loop of brute-force similarity search.
  */
object VectorKernels extends Serializable {
  val SCALE = 1e15

  def scaledDot(a: ArrayData, b: ArrayData): Long = {
    if (a == null || b == null) return 0L
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += math.floor(a.getFloat(i).toDouble * b.getFloat(i).toDouble * SCALE).toLong
      i += 1
    }
    acc
  }

  /** Σ_i floor((a_i − b_i)²·1e15) — exact integer-scaled squared L2.
    * Element reads honor each side's DECLARED array type (float elements
    * widen exactly to double), so one kernel serves float embeddings,
    * double trained codebooks, and double reconstructions. Same
    * null-element precondition as [[scaledDot]] (fixture arrays carry no
    * null elements; the zip_with formulation is the executable spec).
    */
  def scaledL2(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Long = {
    if (a == null || b == null) return 0L
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      acc += math.floor(d * d * SCALE).toLong
      i += 1
    }
    acc
  }

  // splitmix64 — deterministic Rademacher source for hyperplane components
  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** All centroid scores of one vector in one pass:
    * result(k) = (Σ_i floor(v[i]·c_k[i]·1e15)).toDouble / sqrt(norms(k)) —
    * bit-identical to `scaled_dot(v, c_k).cast(double) / sqrt(norm2_k)` per
    * centroid, but the centroid matrix rides along as a JVM object (codegen
    * reference), NOT as plan literals: at production dims (768–4096),
    * 16×dim float literals would bloat plan compile/codegen.
    */
  def centroidScores(v: ArrayData, cents: Array[Array[Double]], norms: Array[Long]): ArrayData = {
    if (v == null) return null
    val out = new Array[Any](cents.length)
    var k = 0
    while (k < cents.length) {
      val c = cents(k)
      val n = math.min(v.numElements(), c.length)
      var acc = 0L
      var i = 0
      while (i < n) {
        acc += math.floor(v.getFloat(i).toDouble * c(i) * SCALE).toLong
        i += 1
      }
      out(k) = acc.toDouble / math.sqrt(norms(k).toDouble)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Random-hyperplane LSH bucket: bit k of the result is the sign of the
    * projection of `v` onto hyperplane k, whose components are ±1 from
    * splitmix64(k, i). Map-only, codegen'd — bucket assignment of a 100 TB
    * corpus is a pure scan.
    */
  def hyperplaneBucket(v: ArrayData, numPlanes: Int): Long = {
    if (v == null) return 0L
    val n = v.numElements()
    var bucket = 0L
    var k = 0
    while (k < numPlanes) {
      var proj = 0.0
      var i = 0
      while (i < n) {
        val sign = if ((mix64(mix64(k.toLong) ^ i.toLong) & 1L) == 0L) 1.0 else -1.0
        proj += v.getFloat(i).toDouble * sign
        i += 1
      }
      if (proj >= 0) bucket |= (1L << k)
      k += 1
    }
    bucket
  }
}

/** `scaled_dot(a, b)` — exact integer-scaled float-vector dot product. */
case class ScaledDot(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  private def ok(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"scaled_dot expects ARRAY<FLOAT>, got ${left.dataType.sql}, ${right.dataType.sql}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "scaled_dot"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.scaledDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.scaledDot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ScaledDot =
    copy(left = newLeft, right = newRight)
}

/** `scaled_l2(a, b)` — exact integer-scaled squared L2 distance. Accepts
  * ARRAY<FLOAT> or ARRAY<DOUBLE> on either side (the element-type flags
  * bake into codegen), so the probe-vs-reconstruction asymmetric shapes
  * (sim26) and the float-vs-trained-codebook encodes (sim18) stay inside
  * whole-stage codegen instead of interpreted zip_with/aggregate lambdas.
  */
case class ScaledL2(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  private def ok(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  private def isFloat(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"scaled_l2 expects ARRAY<FLOAT|DOUBLE>, got ${left.dataType.sql}, ${right.dataType.sql}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "scaled_l2"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.scaledL2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left.dataType), isFloat(right.dataType))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.scaledL2($a, $b, ${isFloat(left.dataType)}, ${isFloat(right.dataType)})")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ScaledL2 =
    copy(left = newLeft, right = newRight)
}

/** `hyperplane_bucket(vec, numPlanes)` — sign-bit LSH bucket, codegen'd. */
case class HyperplaneBucket(child: Expression, numPlanes: Int) extends UnaryExpression {
  require(numPlanes >= 1 && numPlanes <= 63)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_bucket expects ARRAY<FLOAT>, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "hyperplane_bucket"

  protected override def nullSafeEval(input: Any): Any =
    VectorKernels.hyperplaneBucket(input.asInstanceOf[ArrayData], numPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.hyperplaneBucket($c, $numPlanes)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucket =
    copy(child = newChild)
}

/** `centroid_scores(vec)` — per-centroid normalized scaled-dot scores; the
  * centroid matrix and norms are expression PARAMETERS (shipped to codegen
  * via `addReferenceObj`), so plan size is independent of dim × cells.
  * Centroids are doubles so both seed centroids (exact float widening) and
  * trained centroids (per-cell means, inherently double) share one kernel.
  *
  * equals/hashCode are overridden content-wise: case-class equality on
  * Array parameters is reference identity, which would silently defeat
  * Catalyst canonicalization / common-subexpression elimination for two
  * structurally identical centroid_scores calls.
  */
case class CentroidScores(child: Expression, centroids: Array[Array[Double]], norms: Array[Long])
    extends UnaryExpression {
  require(centroids.nonEmpty && centroids.length == norms.length,
    "centroid_scores needs a non-empty centroid set with matching norms")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"centroid_scores expects ARRAY<FLOAT>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "centroid_scores"

  override def equals(other: Any): Boolean = other match {
    case that: CentroidScores =>
      child == that.child &&
        java.util.Arrays.deepEquals(
          centroids.asInstanceOf[Array[AnyRef]], that.centroids.asInstanceOf[Array[AnyRef]]) &&
        java.util.Arrays.equals(norms, that.norms)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child,
      Int.box(java.util.Arrays.deepHashCode(centroids.asInstanceOf[Array[AnyRef]])),
      Int.box(java.util.Arrays.hashCode(norms)))

  protected override def nullSafeEval(input: Any): Any =
    VectorKernels.centroidScores(input.asInstanceOf[ArrayData], centroids, norms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    val nRef = ctx.addReferenceObj("centroidNorms", norms, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.centroidScores($c, $cRef, $nRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidScores =
    copy(child = newChild)
}

/** `word_shingles(text, n)` — distinct word n-grams, codegen'd. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"word_shingles expects STRING, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "word_shingles"

  protected override def nullSafeEval(input: Any): Any =
    TextKernels.wordShingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.wordShingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** `word_ngrams(text, n)` — word n-grams with multiplicity in document
  * order (non-deduping sibling of `word_shingles`), codegen'd.
  */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"ngram size must be >= 1, got $n")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"word_ngrams expects STRING, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "word_ngrams"

  protected override def nullSafeEval(input: Any): Any =
    TextKernels.wordNgrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.wordNgrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

/** `minhash_signature(text, shingleN, numHashes)` — MinHash signature as
  * array<bigint>, codegen'd, shuffle-free.
  */
case class MinHashSignature(child: Expression, shingleN: Int, numHashes: Int)
    extends UnaryExpression {
  require(shingleN >= 1 && numHashes >= 1)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"minhash_signature expects STRING, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "minhash_signature"

  protected override def nullSafeEval(input: Any): Any =
    TextKernels.minhashSignature(input.asInstanceOf[UTF8String], shingleN, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.minhashSignature($c, $shingleN, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** `word_set_counts(text, sets)` — per-set token membership counts,
  * codegen'd, single tokenization pass (replaces N interpreted
  * `size(filter(...))` lambdas in the text-curation hot path).
  */
case class WordSetCounts(child: Expression, sets: Seq[Seq[String]]) extends UnaryExpression {
  require(sets.nonEmpty, "word_set_counts needs at least one word set")

  @transient private lazy val table: Array[java.util.HashSet[String]] =
    sets.map { ws =>
      val h = new java.util.HashSet[String](math.max(4, ws.size * 2))
      ws.foreach(h.add)
      h
    }.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"word_set_counts expects STRING, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "word_set_counts"

  protected override def nullSafeEval(input: Any): Any =
    TextKernels.wordSetCounts(input.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordSets", table, "java.util.HashSet[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.wordSetCounts($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): WordSetCounts =
    copy(child = newChild)
}

/** `token_fingerprint(text)` — position-weighted rolling token hash mod
  * 1e9+7, codegen'd.
  */
case class TokenFingerprint(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"token_fingerprint expects STRING, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "token_fingerprint"

  protected override def nullSafeEval(input: Any): Any =
    TextKernels.tokenFingerprint(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.tokenFingerprint($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenFingerprint =
    copy(child = newChild)
}

/** `simhash64(text)` — 64-bit token SimHash, codegen'd. */
case class SimHash64(child: Expression, seed: Long = 42L) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"simhash64 expects STRING, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "simhash64"

  protected override def nullSafeEval(input: Any): Any =
    TextKernels.simHash64(input.asInstanceOf[UTF8String], seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.simHash64($c, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Pair-expansion kernel behind `doc_pairs` (d02's candidate generation). */
object PairKernels extends Serializable {
  /** All unordered pairs of a posting list array<struct<id:long, sz:int>>,
    * each emitted id-ordered as struct<da, sza, db, szb> with da < db
    * (same-id entries are skipped — the self-join's da < db predicate).
    * One JVM call per (lang, shingle) group; O(k²) in the group size,
    * which the hot-shingle df cap bounds by construction.
    */
  def docPairs(arr: org.apache.spark.sql.catalyst.util.ArrayData): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    val ids = new Array[Long](n)
    val szs = new Array[Int](n)
    var i = 0
    while (i < n) {
      val r = arr.getStruct(i, 2)
      ids(i) = r.getLong(0)
      szs(i) = r.getInt(1)
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any](if (n > 1) n * (n - 1) / 2 else 0)
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        if (ids(i) != ids(j)) {
          val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(4)
          if (ids(i) < ids(j)) {
            row.update(0, ids(i)); row.update(1, szs(i))
            row.update(2, ids(j)); row.update(3, szs(j))
          } else {
            row.update(0, ids(j)); row.update(1, szs(j))
            row.update(2, ids(i)); row.update(3, szs(i))
          }
          out += row
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `doc_pairs(ds)` — unordered id-ordered pairs of a posting list; the
  * codegen'd kernel that lets d02 generate candidates with ONE exchange
  * (groupBy shingle + in-place expansion) instead of the two-sided
  * self-join. The r08 A/B showed the nested-lambda (transform/flatten)
  * expansion was interpreted and cost more than the exchange it saved;
  * a whole-stage-codegen kernel call does not.
  */
case class DocPairs(child: Expression) extends UnaryExpression {
  // the kernel reads every element as a struct: an array that may hold a
  // NULL element is rejected here, not met as an NPE at run time
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, false)
        if s.length == 2 && s(0).dataType == LongType && s(1).dataType == IntegerType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"doc_pairs expects ARRAY<STRUCT<BIGINT, INT>> with no NULL elements, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("da", LongType, nullable = false),
    StructField("sza", IntegerType, nullable = false),
    StructField("db", LongType, nullable = false),
    StructField("szb", IntegerType, nullable = false))), containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "doc_pairs"

  protected override def nullSafeEval(input: Any): Any =
    PairKernels.docPairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PairKernels.docPairs($c)")

  override protected def withNewChildInternal(newChild: Expression): DocPairs =
    copy(child = newChild)
}
