package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.plans.{GraftFunctions, NanosPredicatePushdown}

/** The one route by which the graft native functions and optimizer rule
  * reach a session, applied while the session is built.
  * `core.Sessions.configure` applies it to every engine session (the apps,
  * Bench, Verify, the tools and the test session); a session built outside
  * `Sessions`, e.g. a shared Thrift/Connect server where user code never
  * touches the builder, gets the same wiring from
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions
  *
  * Either way every kernel is callable from PLAIN SQL
  * (`SELECT graft_simhash_long(text) FROM docs`) as well as from the
  * Column-API helpers (`GraftFunctions.dotLong`,
  * `WordWindowsLong.wordWindows`, ...), which are plain calls of the same
  * SQL names.
  *
  * The functions come from ONE table, [[GraftFunctions.all]]: a row per
  * `graft_*` name with its arguments and guarded builder, all injected
  * here. A new kernel is a compute function named after its SQL function
  * plus one table row, with no change here.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => NanosPredicatePushdown)
    GraftFunctions.all.foreach(f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.builder)))
  }
}
