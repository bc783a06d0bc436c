package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** EIA v2 API envelope source (SURVEY.md S1-S4).
  *
  * The fetch loop is driver-side by design: pagination has sequential stop
  * conditions (stop on empty page / on a period cutoff,
  * EIA930PipelineHourlyData.py:71-93), so pages arrive as a Seq of JSON
  * bodies. Parsing them is not distributed either: the pages become a
  * `LocalRelation`, and Spark's `ConvertToLocalRelation` rule evaluates the
  * `from_json` projection on the driver while it optimizes each action
  * (PLANS.md shows `LocalTableScan [_extract_data#1]`); only the `explode`
  * and what follows run as tasks. A run date's pages are dozens at 5,000
  * rows/page, all of them already held by the driver, so [[parsePages]]
  * returns ONE partition: its size is bounded by what the driver fetched,
  * so splitting it would only add tasks. This object is the one decoder of
  * the envelope (`response.data` with its hyphenated row fields). The
  * PageSource abstraction keeps HTTP out of the engine: prod wires an HTTP
  * client, tests wire fixture files.
  */
object EnvelopeJson {

  /** One page of raw JSON by offset; None = no more pages. */
  trait PageSource {
    def fetch(offset: Int): Option[String]
  }

  /** Local-fixture page source: dir/page0.json, dir/page1.json, ... */
  final class FixturePages(dir: String, pageSize: Int = 5000) extends PageSource {
    override def fetch(offset: Int): Option[String] = {
      val p = java.nio.file.Paths.get(dir, s"page${offset / pageSize}.json")
      if (java.nio.file.Files.exists(p)) Some(java.nio.file.Files.readString(p)) else None
    }
  }

  private val mapper = new ObjectMapper()

  /** Driver-side peek used by the stop conditions (row count + last period). */
  private def pageStats(body: String): (Int, Option[String]) = {
    val data = mapper.readTree(body).path("response").path("data")
    val n = data.size()
    val last = if (n > 0) Option(data.get(n - 1).path("period").asText(null)) else None
    (n, last)
  }

  /** S2: ascending pagination, stop once the page is empty or the last row's
    * period reaches `stopAtPeriod` (EIA930PipelineHourlyData.py:82-88).
    */
  def fetchUntilPeriod(src: PageSource, pageSize: Int, stopAtPeriod: String): Seq[String] =
    cycle(src, pageSize) { body =>
      val (n, last) = pageStats(body)
      n == 0 || last.exists(_ >= stopAtPeriod)
    }

  /** S3: descending pagination, stop once the last period leaves the target
    * window (EIA7APipelineQuarterlyData.py:60-64).
    */
  def fetchWhilePeriodEquals(src: PageSource, pageSize: Int, period: String): Seq[String] =
    cycle(src, pageSize) { body =>
      val (n, last) = pageStats(body)
      n == 0 || last.exists(_ != period)
    }

  /** S4: stop only on an empty page (EIA814PipelineMonthlyData.py:52-54). */
  def fetchUntilEmpty(src: PageSource, pageSize: Int): Seq[String] =
    cycle(src, pageSize) { body => pageStats(body)._1 == 0 }

  private def cycle(src: PageSource, pageSize: Int)(stopAfter: String => Boolean): Seq[String] = {
    val pages = Seq.newBuilder[String]
    var offset = 0
    var done = false
    while (!done) {
      src.fetch(offset) match {
        case None => done = true
        case Some(body) =>
          pages += body
          done = stopAfter(body)
          offset += pageSize
      }
    }
    pages.result()
  }

  /** Envelope parse: pages -> one DataFrame of string-typed rows, in one
    * partition. Declared schema (no inference scan); backticked field
    * access because the API uses hyphenated names.
    *
    * One partition because the rows are bounded by what the driver fetched
    * and `createDataset` would otherwise split them into min(#pages, cores)
    * slices. Spark's `SinglePartition` satisfies every clustered
    * distribution, so the aggregates, sorts and writes downstream plan no
    * exchange. `coalesce`, not `repartition`: a narrow `Coalesce`, not a
    * round-robin shuffle.
    */
  def parsePages(spark: SparkSession, pages: Seq[String], row: StructType): DataFrame = {
    import spark.implicits._
    val ds = spark.createDataset(pages)
    ds.toDF("body")
      .select(from_json(col("body"), Schemas.envelope(row)).as("env"))
      .select(explode(col("env.response.data")).as("r"))
      .select(row.fieldNames.map(f => col(s"r.`$f`").as(f)).toIndexedSeq: _*)
      .coalesce(1)
  }
}
