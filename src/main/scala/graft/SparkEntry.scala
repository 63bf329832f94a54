package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.GraftFunctions
import graft.operators.Catalog
import graft.streaming.LocalCheckpointFileManager

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY §2 is exposed as a named query in
  * `queries`; each SQL-expressible one has a DuckDB oracle in `oracleSql`
  * (same column names, deterministic ordering, order-independent numerics).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * SURVEY §7.2 minimal slice shape: scan → derive → group → sort.
    */
  def entry(spark: SparkSession): DataFrame =
    Catalog.byName("a07_group_count").build(spark, "/root/testdata/sf0.001")

  /** Make `spark` ready for graft, once per query build ([[Q.build]]),
    * local session ([[localSession]]) and subscription
    * ([[graft.api.RequestRouter.route]]); no other code sets these up:
    *  - the kernels ([[GraftFunctions.register]]), before a query body
    *    runs, since a stream's session clone copies the function registry
    *    when the stream starts;
    *  - `nanosAsLong`, so an older fixture's TIMESTAMP(NANOS) `events.ts`
    *    reads as a long ([[Catalog.normalizeEventTs]]);
    *  - the fork-free [[LocalCheckpointFileManager]] for streaming
    *    checkpoints, unless the session already names a manager.
    * Each step is a no-op when done, so a second call changes nothing.
    */
  def install(spark: SparkSession): Unit = {
    GraftFunctions.register(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (spark.conf.getOption(LocalCheckpointFileManager.Key).isEmpty)
      spark.conf.set(LocalCheckpointFileManager.Key, classOf[LocalCheckpointFileManager].getName)
  }

  /** The local session Bench, Verify and DumpPlans run on: `local[cpus]`
    * with `cpus` shuffle partitions, UTC, no UI, WARN logging, made ready
    * by [[install]]. `SPARK_GRAFT_CPUS` overrides each main's `defaultCpus`.
    */
  def localSession(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    install(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.all.map(q => q.name -> (q.build _)).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for ops whose semantics are not
    * SQL-expressible (engine-hash-based LSH/SimHash) → rows-only check.
    */
  def oracleSql: Map[String, String] =
    Catalog.all.collect {
      case q if q.oracle.isDefined => q.name -> Catalog.alignWs(q.oracle.get)
    }.toMap
}
