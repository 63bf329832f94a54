package graft

import org.apache.spark.sql.SparkSessionExtensions

/** `SparkSessionExtensions` entry point: makes graft's native expressions
  * available to ANY session — including pure-SQL users — via
  * `spark.sql.extensions=graft.GraftExtensions`, with no code-side
  * `register()` call needed:
  * {{{ SELECT hex_to_long(difficulty) FROM blocks }}}
  * This is the library's extension surface (SURVEY §7.3): injected
  * expressions are full Catalyst citizens (codegen, constant-folding,
  * null propagation) unlike Scala UDFs.
  */
object GraftExtensions {
  /** Serializes in-JVM sibling-session builds: creating an extensions
    * session mid-process requires swapping the JVM-GLOBAL default/active
    * sessions around `getOrCreate` (extensions only apply at session
    * build). Anyone doing that swap must hold this lock, or two concurrent
    * builders can restore each other's cleared state.
    */
  val sessionSwapLock = new Object
}

final class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.GraftFunctions.kernels.foreach(k => ext.injectFunction((k.id, k.info, k.build)))
    // topic0 predicates → connector option (SURVEY §4 optional rule):
    // operator-optimization rules run while the relation is still a
    // DataSourceV2Relation, before the V2 scan-pushdown batch.
    ext.injectOptimizerRule(_ => graft.plans.TopicPushdownRule)
  }
}
