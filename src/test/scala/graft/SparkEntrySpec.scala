package graft

import org.apache.spark.sql.internal.SQLConf

/** [[SparkEntry.localSession]] sets no `spark.sql.adaptive.enabled`: a
  * session that leaves it unset runs adaptive query execution.
  */
class SparkEntrySpec extends SparkSpec {

  test("adaptive query execution is on in a session that does not set it") {
    assert(SQLConf.ADAPTIVE_EXECUTION_ENABLED.defaultValue.contains(true))
    // a new session starts from the context conf, which neither SparkSpec
    // nor localSession gives an adaptive setting
    assert(!spark.sparkContext.getConf.contains(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key))
    assert(spark.newSession().conf.get(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key) === "true")
  }
}
