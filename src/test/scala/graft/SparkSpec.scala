package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark startup
  * dominates test time otherwise).
  */
object TestSpark {
  lazy val spark: SparkSession = graft.core.Sessions
    .configure(SparkSession.builder().appName("graft-test").master("local[4]"),
      shufflePartitions = 4)
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf: String = "/root/testdata/sf0.001"

  /** A `writeStream.foreachBatch` writer that runs `body` on each
    * micro-batch of `stream` with its batch id: the way a live query drives
    * the engine's exactly-once `*Batch` functions. Start it with `.start()`,
    * after `.option("checkpointLocation", …)` to make it restartable.
    */
  def microBatches(stream: DataFrame)(body: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] =
    stream.writeStream.foreachBatch(body)
}
