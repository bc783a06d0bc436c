package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.plans.{GraftFunctions, NanosPredicatePushdown}

/** Standard Spark library entry point: wire every graft native function
  * and optimizer rule into a session at build time via
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions
  *
  * (or `SparkSession.builder.withExtensions(new GraftExtensions)`). This is
  * the deployment path for clusters where user code never touches the
  * builder — e.g. a shared Thrift/Connect server — and makes every kernel
  * callable from PLAIN SQL (`SELECT graft_simhash_long(text) FROM docs`),
  * not just the Column API.
  *
  * The functions come from ONE table, [[GraftFunctions.all]]: a row per
  * `graft_*` name with its arguments and guarded builder. This class
  * injects every row; the Column-API helpers (`GraftFunctions.dotLong`,
  * `WordWindowsLong.wordWindows`, ...) register the same rows lazily into
  * the active session, so the two routes cannot drift. A new kernel is a
  * compute function named after its SQL function plus one table row, and
  * is reachable from both routes with no change here.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => NanosPredicatePushdown)
    GraftFunctions.all.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.builder)))
  }
}
