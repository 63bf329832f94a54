package graft.functions

import org.apache.spark.sql.{AnalysisException, Column, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{call_function, lit, typedlit}
import org.apache.spark.sql.types._

/** Registration point for graft's custom scalar / aggregate functions.
  *
  * Everything registered here is a native Catalyst `Expression` (codegen'd,
  * whole-stage-compatible) or a typed `Aggregator` — never a boxed Scala UDF —
  * so the hot path stays inside Tungsten.
  */
object GraftFunctions {

  private def analysisError(msg: String): Nothing =
    throw new AnalysisException(
      errorClass = "INTERNAL_ERROR", messageParameters = Map("message" -> msg))

  /** Strict integral-literal argument decode: a non-foldable or non-integral
    * argument gets a clean analysis error instead of an NPE/CCE at plan time.
    */
  private[graft] def intArg(fn: String, pos: Int, e: Expression): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case Literal(l: Long, LongType) if l.isValidInt => l.toInt
    case Literal(s: Short, ShortType) => s.toInt
    case Literal(b: Byte, ByteType) => b.toInt
    case other => analysisError(
      s"$fn: argument $pos must be an integer literal, got ${other.sql}")
  }

  /** Decode a foldable ARRAY<ARRAY<STRING>> literal (for word_set_counts). */
  private def stringSetsArg(fn: String, pos: Int, e: Expression): Seq[Seq[String]] = {
    val ok = e.foldable && (e.dataType match {
      case ArrayType(ArrayType(StringType, _), _) => true
      case _ => false
    })
    if (!ok) analysisError(
      s"$fn: argument $pos must be a foldable ARRAY<ARRAY<STRING>> literal, got ${e.sql}")
    val outer = e.eval(null).asInstanceOf[ArrayData]
    (0 until outer.numElements()).map { i =>
      val inner = outer.getArray(i)
      (0 until inner.numElements()).map(j => inner.getUTF8String(j).toString)
    }
  }

  /** One SQL kernel: its name, expression class and builder. */
  final case class Kernel(name: String, cls: Class[_ <: Expression],
      build: Seq[Expression] => Expression) {
    def id: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo = new ExpressionInfo(cls.getName, name)
  }

  /** Every native kernel graft exposes to SQL. The one list behind both
    * [[register]] and `GraftExtensions`.
    */
  val kernels: Seq[Kernel] = Seq(
    Kernel("hex_to_long", classOf[HexToLong], e => HexToLong(e.head)),
    Kernel("hex_to_decimal", classOf[HexToDecimal], e => HexToDecimal(e.head)),
    Kernel("word_shingles", classOf[WordShingles],
      e => WordShingles(e.head, intArg("word_shingles", 2, e(1)))),
    Kernel("word_ngrams", classOf[WordNgrams],
      e => WordNgrams(e.head, intArg("word_ngrams", 2, e(1)))),
    Kernel("simhash64", classOf[SimHash64], e => SimHash64(e.head)),
    Kernel("minhash_signature", classOf[MinHashSignature],
      e => MinHashSignature(e.head,
        intArg("minhash_signature", 2, e(1)), intArg("minhash_signature", 3, e(2)))),
    Kernel("scaled_dot", classOf[ScaledDot], e => ScaledDot(e.head, e(1))),
    Kernel("scaled_l2", classOf[ScaledL2], e => ScaledL2(e.head, e(1))),
    Kernel("hyperplane_bucket", classOf[HyperplaneBucket],
      e => HyperplaneBucket(e.head, intArg("hyperplane_bucket", 2, e(1)))),
    Kernel("word_set_counts", classOf[WordSetCounts],
      e => WordSetCounts(e.head, stringSetsArg("word_set_counts", 2, e(1)))),
    Kernel("token_fingerprint", classOf[TokenFingerprint], e => TokenFingerprint(e.head)),
    Kernel("doc_pairs", classOf[DocPairs], e => DocPairs(e.head)))

  /** Register every graft function the session lacks. A no-op on a session
    * that already has them (registered earlier, or injected by
    * `GraftExtensions`). graft calls it from `graft.SparkEntry.install` only.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.synchronized {
      kernels.foreach(k => if (!reg.functionExists(k.id)) reg.registerFunction(k.id, k.info, k.build))
      if (!reg.functionExists(FunctionIdentifier("sum_of_squares")))
        spark.udf.register("sum_of_squares", SumOfSquaresLong.udaf)
    }
  }

  // Column-API wrappers (require register() to have been called on the session).
  def hex_to_long(c: Column): Column = call_function("hex_to_long", c)
  def hex_to_decimal(c: Column): Column = call_function("hex_to_decimal", c)
  def word_shingles(c: Column, n: Int): Column = call_function("word_shingles", c, lit(n))
  def word_ngrams(c: Column, n: Int): Column = call_function("word_ngrams", c, lit(n))
  def simhash64(c: Column): Column = call_function("simhash64", c)
  def minhash_signature(c: Column, shingleN: Int, numHashes: Int): Column =
    call_function("minhash_signature", c, lit(shingleN), lit(numHashes))
  def scaled_dot(a: Column, b: Column): Column = call_function("scaled_dot", a, b)
  def scaled_l2(a: Column, b: Column): Column = call_function("scaled_l2", a, b)
  def hyperplane_bucket(v: Column, numPlanes: Int): Column =
    call_function("hyperplane_bucket", v, lit(numPlanes))
  def word_set_counts(c: Column, sets: Seq[Seq[String]]): Column =
    call_function("word_set_counts", c, typedlit(sets))
  /** Centroids ride as expression parameters (codegen reference objects),
    * not literals — no function-registry path, the Column is built directly.
    */
  def centroid_scores(v: Column, cents: Array[Array[Double]], norms: Array[Long]): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      CentroidScores(org.apache.spark.sql.GraftSqlBridge.expression(v), cents, norms))
  def token_fingerprint(c: Column): Column = call_function("token_fingerprint", c)
  def doc_pairs(c: Column): Column = call_function("doc_pairs", c)
}

/** Exemplar typed UDAF (SURVEY §2c: `Aggregator[IN,BUF,OUT]` extension
  * surface). Exact integer arithmetic → order-independent, safe to verify
  * against a SQL oracle.
  */
object SumOfSquaresLong extends Aggregator[Long, Long, Long] {
  override def zero: Long = 0L
  override def reduce(b: Long, a: Long): Long = b + a * a
  override def merge(b1: Long, b2: Long): Long = b1 + b2
  override def finish(r: Long): Long = r
  override def bufferEncoder: Encoder[Long] = Encoders.scalaLong
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  def udaf = org.apache.spark.sql.functions.udaf(this)
}
