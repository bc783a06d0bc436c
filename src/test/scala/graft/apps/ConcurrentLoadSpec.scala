package graft.apps

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._

/** `PipelineApps.load` writes a pipeline's tables side by side: a failed
  * write surfaces only after every sibling write has ended, a retried load
  * lands each table once, and every write job carries the caller's job tag.
  */
class ConcurrentLoadSpec extends SparkSpec {

  private val runDate = java.time.LocalDate.parse("2026-08-14")

  /** The jobs and SQL executions that write under `outDir`, told apart from
    * any other job by the output path in their execution's plan, not by a
    * property the writer threads could inherit.
    */
  private final class WritesUnder(outDir: String) extends SparkListener {
    val executions = ConcurrentHashMap.newKeySet[Long]()
    val ended = ConcurrentHashMap.newKeySet[Long]()
    /** job id -> (job tags, execution id) of every job seen. */
    val jobs = new ConcurrentHashMap[Int, (Set[String], Long)]()
    /** job id -> end time (ms), from the scheduler's own clock. */
    val jobEnds = new ConcurrentHashMap[Int, Long]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.physicalPlanDescription.contains(outDir) =>
        executions.add(s.executionId)
      case x: SparkListenerSQLExecutionEnd if executions.contains(x.executionId) =>
        ended.add(x.executionId)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobs.put(e.jobId, (prop("spark.job.tags").toSeq.flatMap(_.split(",")).toSet,
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)

    /** Waits until `n` write executions have ended and been reported. */
    def awaitEnded(n: Int): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (ended.size < n && System.nanoTime() < deadline) Thread.sleep(20)
      assert(ended.size == n, s"${ended.size} of $n write executions reported ended")
    }
    /** (tags, end time) of each job that wrote under `outDir`. */
    def writeJobs: Seq[(Set[String], Option[Long])] =
      jobs.asScala.toSeq.collect { case (id, (tags, ex)) if executions.contains(ex) =>
        (tags, Option(jobEnds.get(id)).map(_.longValue))
      }
  }

  private val slow = udf { (id: Long) => Thread.sleep(150); id }

  /** Three slow tables and one whose write fails early, or succeeds when
    * `fixed`.
    */
  private def outputs(fixed: Boolean): Map[String, DataFrame] = {
    val ids = spark.range(0, 8, 1, 4)
    Map(
      "t_fail" -> ids.withColumn("v",
        if (fixed) col("id") else when(col("id") === 3, raise_error(lit("injected: write failed")))
          .otherwise(col("id"))),
      "t_slow1" -> ids.withColumn("v", slow(col("id"))),
      "t_slow2" -> ids.withColumn("v", slow(col("id") + 1)),
      "t_slow3" -> ids.withColumn("v", slow(col("id") + 2)))
  }

  test("a failed write surfaces after its siblings end; a retried load lands each table once") {
    val out = java.nio.file.Files.createTempDirectory("graft_load").toString
    val writes = new WritesUnder(out)
    val sc = spark.sparkContext
    val tag = "concurrent-load-spec"
    sc.addSparkListener(writes)
    try {
      sc.addJobTag(tag)
      val (error, failedAt) = try {
        val e = intercept[Throwable](PipelineApps.load(outputs(fixed = false), out, runDate))
        (e, System.currentTimeMillis())
      } finally sc.removeJobTag(tag)
      assert(Iterator.iterate(error)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("injected: write failed")), error)

      writes.awaitEnded(4)
      val jobs = writes.writeJobs
      assert(jobs.size >= 4, jobs)
      assert(jobs.forall(_._2.exists(_ <= failedAt)),
        s"a write job was still running when load threw at $failedAt: $jobs")
      assert(jobs.forall(_._1.contains(tag)), s"a write job lost the caller's tag: $jobs")
    } finally sc.removeSparkListener(writes)

    PipelineApps.load(outputs(fixed = true), out, runDate)
    val clean = java.nio.file.Files.createTempDirectory("graft_load_clean").toString
    PipelineApps.load(outputs(fixed = true), clean, runDate)
    Seq("t_fail", "t_slow1", "t_slow2", "t_slow3").foreach { table =>
      def partition(root: String) = spark.read.parquet(s"$root/$table/run_date=$runDate")
      val (got, want) = (partition(out), partition(clean))
      assert(got.count() == 8 && want.count() == 8, s"$table: not landed exactly once")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$table: rows differ from a clean load")
    }
  }
}
