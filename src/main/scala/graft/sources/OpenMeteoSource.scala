package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Open-Meteo hourly archive source (SURVEY.md S7/S8), and the one decoder
  * of its response. The reference consumes flatbuffer responses via the
  * vendor SDK (OpenMeteoWeatherPipelineHourlyData.py:14-44); the same API
  * serves JSON, which is what this source models: one response document per
  * coordinate, epoch-second `time` array + 30 parallel float arrays. The
  * bodies are on the driver, so [[parseResponses]] decodes them there, like
  * `EnvelopeJson.parsePages`.
  */
object OpenMeteoSource {

  private val nonNumeric = Map("NaN" -> Double.NaN, "Infinity" -> Double.PositiveInfinity,
    "+Infinity" -> Double.PositiveInfinity, "+INF" -> Double.PositiveInfinity,
    "-Infinity" -> Double.NegativeInfinity, "-INF" -> Double.NegativeInfinity)

  /** `n` as Spark's JSON reader reads a DOUBLE (a number or a `nonNumeric`
    * string) and, in [[long]], a BIGINT (an integer that fits): null or
    * absent is Some(null), any other value None. */
  private def double(n: JsonNode): Option[java.lang.Double] =
    if (n.isMissingNode || n.isNull) Some(null) else if (n.isNumber) Some(n.doubleValue)
    else Option.when(n.isTextual)(nonNumeric.get(n.textValue)).flatten.map(Double.box)

  private def long(n: JsonNode): Option[java.lang.Long] =
    if (n.isMissingNode || n.isNull) Some(null)
    else Option.when(n.isIntegralNumber && n.canConvertToLong)(n.longValue)

  /** Response bodies (one per location) -> hourly rows (date, latitude,
    * longitude, 30 weather-variable doubles) in one partition
    * (`EnvelopeJson.driverFrame`): one row per position of a response's
    * `time` array, whose hour starts are the reference's end-exclusive
    * date_range (OpenMeteoWeatherPipelineHourlyData.py:67-70); a `null`
    * time is a NULL date. As in Spark's JSON reader, a variable value that
    * does not read makes its whole array NULL. A malformed body throws; so
    * do a `time` that is missing, is not an array or holds a non-integer,
    * and a variable array shorter than `time`, with an error naming the
    * response's index.
    */
  def parseResponses(spark: SparkSession, bodies: Seq[String]): DataFrame = {
    val rows = bodies.zipWithIndex.flatMap { case (body, b) =>
      val r = EnvelopeJson.mapper.readTree(body)
      val time = EnvelopeJson.elements(r.path("hourly").path("time"))(long).getOrElse(
        throw new IllegalArgumentException(
          s"Open-Meteo response $b: `hourly.time` is not an array of integers"))
      val columns = Schemas.weatherVariables.map { v =>
        val xs = EnvelopeJson.elements(r.path("hourly").path(v))(double)
        require(xs.forall(_.size >= time.size),
          s"Open-Meteo response $b: `$v` has ${xs.get.size} values for ${time.size} times")
        xs
      }
      val (lat, lon) = (double(r.path("latitude")).orNull, double(r.path("longitude")).orNull)
      time.indices.map { i =>
        val at = Option(time(i)).map(s => java.time.Instant.ofEpochSecond(s)).orNull
        Row.fromSeq(Seq(at, lat, lon) ++ columns.map(_.map(_(i)).orNull))
      }
    }
    // the cleaned-weather sink's shape: the cleaner only sorts these rows
    EnvelopeJson.driverFrame(spark, rows, Schemas.sinks("openmeteo_cleaned_weather"))
  }
}
