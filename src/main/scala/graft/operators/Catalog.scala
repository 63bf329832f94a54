package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One verifiable operator exercise: a Spark build plus (when the semantics
  * are ANSI-SQL-expressible) an equivalent DuckDB oracle query. `bench=true`
  * marks queries included in the headline benchmark set.
  */
final case class Q(
    name: String,
    body: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = true) {

  /** The query on `s` over the fixture dir `d`, with `s` made ready by
    * [[graft.SparkEntry.install]] first: a body never sets up its session.
    */
  def build(s: SparkSession, d: String): DataFrame = {
    graft.SparkEntry.install(s)
    body(s, d)
  }
}

object Catalog {
  /** Load one fixture parquet table through [[parquet]]: a
    * DataSource scan, so Catalyst pushes filters and pruning into parquet,
    * with the table's schema inferred on its first read only. `events`
    * comes back with [[normalizeEventTs]] applied. A NANOS `events.ts`
    * needs the `nanosAsLong` conf that [[graft.SparkEntry.install]] sets.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = parquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Read an immutable parquet input (a fixture table or an
    * [[Artifacts.build]] dir), inferring its schema once per JVM. A plain
    * `read.parquet` infers the schema on every call, and Spark 4 does that
    * with a one-task job; here only the first read of a path runs it, and
    * later reads hand the memoized `StructType` to the reader, which plans
    * the same scan with no job. Files are still listed on every read. The
    * memo holds schemas only, keyed by the path, its modification time
    * and every conf that changes parquet schema inference, so a rewritten
    * path or a flipped conf (`nanosAsLong`) re-infers.
    * Dirs written and read back within one query run (stream sinks,
    * [[Drain.stage]] feeds, [[Drain.Store]] entries) keep a plain `read.parquet`.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    schemaKey(spark, path) match {
      case None => spark.read.parquet(path) // missing path: Spark's own error
      case Some(key) => schemas.get(key) match {
        case null =>
          val df = spark.read.parquet(path)
          schemas.putIfAbsent(key, df.schema)
          df
        case schema => spark.read.schema(schema).parquet(path)
      }
    }

  private val schemas = new java.util.concurrent.ConcurrentHashMap[ParquetKey, StructType]()

  private final case class ParquetKey(path: String, mtime: Long, confs: Seq[Option[String]])

  // every conf Spark 4.1's ParquetToSparkSchemaConverter and
  // ParquetUtils.inferSchema read
  private val SchemaConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive", "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded", "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles", "spark.sql.files.ignoreCorruptFiles")

  private def schemaKey(spark: SparkSession, path: String): Option[ParquetKey] = {
    val p = new org.apache.hadoop.fs.Path(path)
    try {
      val mtime = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p).getModificationTime
      Some(ParquetKey(path, mtime, SchemaConfs.map(spark.conf.getOption)))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Normalize `events.ts` to a session-UTC TimestampType column carrying
    * the exact micros the DuckDB oracles see via `epoch_ns(ts) // 1000`.
    * The driver has written the column two ways across rounds:
    *
    *  - parquet TIMESTAMP(NANOS) (rounds ≤ 5) — Spark's vectorized reader
    *    rejects it, so it arrives as a nanos-since-epoch long under
    *    `nanosAsLong`; restored by exact integer division (µs = ns DIV
    *    1000 — matches DuckDB's ns→µs view of the same file);
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) (round 6 data) —
    *    Spark 4 infers TIMESTAMP_NTZ; the cast to TimestampType under the
    *    project-wide UTC session timezone is micros-preserving.
    *
    * Every events read (batch via [[t]], the streaming file sources in
    * StreamShape) funnels through here, so a future fixture change fails
    * in ONE place.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"unexpected events.ts type $other — extend Catalog.normalizeEventTs")
    }

  /** Exact decimal view of a double column: makes SUM/AVG order-independent
    * (decimal addition is exact and associative) so Spark and the DuckDB
    * oracle agree bit-for-bit after the final cast back to double.
    */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Order-independent exact sum of a double column, returned as double. */
  def dsum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** Order-independent mean of a double column, returned as double. */
  def davg(c: Column): Column = sum(dec(c)).cast(DoubleType) / count(lit(1))

  /** SQL-side equivalents of dsum/davg (DuckDB). */
  def sqlDsum(x: String): String = s"CAST(SUM(CAST($x AS DECIMAL(18,4))) AS DOUBLE)"
  def sqlDavg(x: String): String = s"CAST(SUM(CAST($x AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)"

  /** Deterministic multiplicative id-mix hash into [0, m) — the engine's
    * substitute for rand() (retry-idempotent, pushdown-friendly, identical
    * across engines). The 31-bit pre-mask keeps the product provably
    * inside i64 on BOTH engines (Spark wraps silently on overflow, the
    * DuckDB oracle's BIGINT * raises — they diverge once ids exceed
    * ~3.47e9 without it). [[sqlDocHash]] is the DuckDB mirror: `%` there
    * follows the dividend's sign, so the inner mod is written in the
    * ((x%m)+m)%m pmod form — the masked value is then non-negative and
    * < 2^31, the product < 2^31·2654435761 < 2^63, and the outer `%` of a
    * non-negative value equals pmod. Sign parity (negative ids included)
    * is spec-pinned in CatalogSpec; the overflow-safety argument lives
    * HERE, once.
    */
  def docHash(c: Column, m: Long): Column =
    pmod(pmod(c, lit(2147483648L)) * lit(2654435761L), lit(m))

  def sqlDocHash(x: String, m: Long): String =
    s"(((($x % 2147483648) + 2147483648) % 2147483648) * 2654435761) % $m"

  /** DuckDB regexes are RE2, whose `\s` is [ \t\n\f\r] — it EXCLUDES \x0B
    * (vertical tab), which the Java `\s` used by the engine (kernels' isWs,
    * `split`, PureSig) includes: a \x0B-bearing document would tokenize
    * differently across engines. Oracle SQL is authored with `\s` for
    * readability; this rewrite (applied once, in SparkEntry.oracleSql) pins
    * every oracle regex to the explicit Java-aligned class. The only two
    * shapes in the catalog are standalone `\s` and the `[^a-z0-9\s]` punct
    * class; any NEW in-class use must be added here (the require trips on
    * the tell-tale `[[` a missed one would produce).
    */
  def alignWs(sql: String): String = {
    val cls = " \\t\\n\\x0B\\f\\r" // the Java \s member set, RE2-escaped
    val out = sql
      .replace("[^a-z0-9\\s]", s"[^a-z0-9$cls]")
      .replace("\\s", s"[$cls]")
    require(!out.contains(s"[[$cls]"),
      "unhandled in-class \\s in oracle SQL — extend Catalog.alignWs")
    out
  }

  /** Collision-resistant tag for per-path derived artifacts (bucketed /
    * IVF warehouse database names): SHA-256 of the path, 16 hex chars.
    * The 32-bit `String.hashCode` used previously can collide across two
    * distinct sfDirs in one JVM, silently repointing the first dir's
    * memoized warehouse at the second dir's data.
    */
  def pathTag(d: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  lazy val all: Seq[Q] =
    RelationalQueries.all ++ StockOps.all ++ StreamShape.all ++
      TextOps.all ++ DedupOps.all ++ SimilarityOps.all ++ EngineOps.all ++
      MultimodalOps.all ++ TemporalOps.all ++ SkewOps.all ++ GraphOps.all

  lazy val byName: Map[String, Q] = {
    val m = all.map(q => q.name -> q).toMap
    require(m.size == all.size, "duplicate query names in Catalog")
    m
  }
}
