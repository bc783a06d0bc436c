package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** EIA v2 API envelope source (SURVEY.md S1-S4), and the one decoder of the
  * envelope (`response.data` with its hyphenated row fields). The fetch loop
  * is driver-side by design: pagination has sequential stop conditions (stop
  * on empty page / on a period cutoff, EIA930PipelineHourlyData.py:71-93).
  * [[parsePages]] decodes the pages there too, with Jackson, into a
  * `LocalTableScan` of typed rows, so no plan decodes JSON. The PageSource
  * abstraction keeps HTTP out of the engine: prod wires an HTTP client,
  * tests wire fixture files.
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

  /** The sources' JSON reader: like Spark's, it takes single quotes and
    * NaN / Infinity. A malformed body throws; an empty one reads as missing. */
  private[sources] val mapper: JsonMapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES, JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .build()

  /** Driver-decoded rows as a frame in ONE partition. The rows are bounded
    * by what the driver fetched, and `createDataFrame` would otherwise split
    * them into min(#rows, cores) slices. Spark's `SinglePartition` satisfies
    * every clustered distribution, so the aggregates, sorts and writes
    * downstream plan no exchange. `coalesce`, not `repartition`: a narrow
    * `Coalesce`, not a round-robin shuffle.
    */
  private[sources] def driverFrame(spark: SparkSession, rows: Seq[Row],
                                   schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)

  /** `n`'s elements through `read`; None (a NULL array, as Spark's JSON
    * reader gives) if `n` is not an array or `read` rejects an element. */
  private[sources] def elements[T](n: JsonNode)(read: JsonNode => Option[T]): Option[Seq[T]] =
    Option.when(n.isArray)(n.elements.asScala.map(read).toVector)
      .filter(_.forall(_.isDefined)).map(_.flatten)

  /** A page's `response.data` node. */
  private def data(body: String): JsonNode =
    mapper.readTree(body).path("response").path("data")

  /** Driver-side peek used by the stop conditions (row count + last period). */
  private def pageStats(body: String): (Int, Option[String]) = {
    val rows = data(body)
    val n = rows.size()
    val last = if (n > 0) Option(rows.get(n - 1).path("period").asText(null)) else None
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
    @scala.annotation.tailrec
    def from(offset: Int, pages: Vector[String]): Vector[String] = src.fetch(offset) match {
      case Some(body) if !stopAfter(body) => from(offset + pageSize, pages :+ body)
      case Some(body) => pages :+ body
      case None => pages
    }
    from(0, Vector.empty)
  }

  /** Envelope parse: pages -> one frame of `row`-shaped rows, in page and
    * row order, in one partition ([[driverFrame]]). Each field is read as
    * Spark's JSON reader reads a STRING: a JSON string is its text, a
    * missing field or `null` is NULL, any other value is its JSON text; a
    * `null` element of `data` is a row of NULLs. A malformed page (a
    * truncated one, say) throws; so does a page whose `response.data` is
    * missing, is not an array or holds an element that is neither an object
    * nor `null`, with an error naming the page's index.
    */
  def parsePages(spark: SparkSession, pages: Seq[String], row: StructType): DataFrame = {
    def text(n: JsonNode) =
      if (n.isMissingNode || n.isNull) null else if (n.isTextual) n.textValue else n.toString
    val rows = pages.zipWithIndex.flatMap { case (body, p) =>
      elements(data(body))(r => Option.when(r.isObject || r.isNull)(r)).getOrElse(
        throw new IllegalArgumentException(
          s"EIA page $p: `response.data` is not an array of objects"))
        .map(r => Row.fromSeq(row.fieldNames.toSeq.map(f => text(r.path(f)))))
    }
    driverFrame(spark, rows, row)
  }
}
