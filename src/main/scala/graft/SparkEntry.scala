package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Catalog

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

  /** The local session Bench, Verify and DumpPlans run on: `local[cpus]`
    * with `cpus` shuffle partitions, UTC, no UI, WARN logging and the
    * fork-free [[graft.streaming.LocalCheckpointFileManager]].
    * `SPARK_GRAFT_CPUS` overrides each main's `defaultCpus`.
    */
  def localSession(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.streaming.LocalCheckpointFileManager.install(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.all.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for ops whose semantics are not
    * SQL-expressible (engine-hash-based LSH/SimHash) → rows-only check.
    */
  def oracleSql: Map[String, String] =
    Catalog.all.collect {
      case q if q.oracle.isDefined => q.name -> Catalog.alignWs(q.oracle.get)
    }.toMap
}
