package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Row

/** What the source decoders turn each JSON value into. EIA rows are all
  * strings: a JSON string is its text, a missing field or `null` is NULL,
  * and any other value is its JSON text. Open-Meteo values are doubles: a
  * `null` element is NULL and an integer widens; any other value makes its
  * whole array NULL, as Spark's `from_json` reads it. A malformed (truncated)
  * body, a page whose `response.data` is not an array of objects, a
  * response whose `hourly.time` is not an array of integers, and a variable
  * array shorter than `time` fail the parse, naming the page or response.
  */
class DecodeContractSpec extends SparkSpec {

  private def page(rows: String*): String =
    s"""{"response": {"total": "${rows.size}", "data": [${rows.mkString(", ")}]},
       | "request": {"params": {"offset": "0"}}}""".stripMargin

  private def fuel(pages: String*): Seq[Row] =
    EnvelopeJson.parsePages(spark, pages, Schemas.fuelTypeDataRow).collect().toSeq

  test("eia: string text, numbers as JSON text, missing or null fields NULL") {
    val rows = fuel(page(
      """{"period": "2026-08-10T00", "respondent": "CISO", "respondent-name": "CISO name",
        | "fueltype": "SUN", "type-name": "Solar", "value": 12.5,
        | "value-units": "megawatthours"}""".stripMargin,
      """{"period": "2026-08-10T01", "respondent": "ERCO", "fueltype": "WND",
        | "type-name": null, "value": 100, "value-units": "megawatthours"}""".stripMargin))
    assert(rows == Seq(
      Row("2026-08-10T00", "CISO", "CISO name", "SUN", "Solar", "12.5", "megawatthours"),
      Row("2026-08-10T01", "ERCO", null, "WND", null, "100", "megawatthours")))
  }

  test("eia: other JSON values keep their JSON text") {
    val rows = fuel(page(
      """{"period": "p", "value": true, "respondent": {"a": [1, "x"]},
        | "fueltype": 1.10, "type-name": "", "value-units": -0}""".stripMargin))
    assert(rows == Seq(Row("p", """{"a":[1,"x"]}""", null, "1.1", "", "true", "0")))
  }

  test("eia: pages keep their order and their rows' order; an empty page adds none") {
    val rows = fuel(
      page("""{"period": "a"}""", """{"period": "b"}"""),
      page(),
      page("""{"period": "c"}"""))
    assert(rows.map(_.getString(0)) == Seq("a", "b", "c"))
    assert(rows.forall(r => (1 until r.length).forall(r.isNullAt)))
  }

  test("eia: a truncated page fails the parse") {
    val whole = page("""{"period": "a"}""")
    intercept[Exception](fuel(whole, whole.dropRight(5)))
  }

  Seq(
    "a missing `response.data`" -> """{"response": {"total": "0"}}""",
    "a `response.data` that is not an array" ->
      """{"response": {"data": {"period": "a"}}}""",
    "a `response.data` element that is not an object" ->
      page("\"x\"", """{"period": "a"}""")
  ).foreach { case (what, bad) =>
    test(s"eia: $what fails the parse, naming the page") {
      val e = intercept[IllegalArgumentException](fuel(page(), bad))
      assert(e.getMessage.contains("EIA page 1"), e.getMessage)
    }
  }

  private val vars = Schemas.weatherVariables

  /** A response with `time`, and each variable's array from `values`
    * (absent variables are left out of the document).
    */
  private def response(lat: String, time: Seq[Long],
                       values: Map[String, String]): String = {
    val arrays = values.map { case (v, a) => s""""$v": $a""" }
    s"""{"latitude": $lat, "longitude": -86.6, "utc_offset_seconds": 0,
       | "hourly": {"time": [${time.mkString(", ")}]${arrays.map(", " + _).mkString}}}""".stripMargin
  }

  private def weather(bodies: String*): Seq[Row] =
    OpenMeteoSource.parseResponses(spark, bodies).collect().toSeq

  test("openmeteo: one row per time position; null is NULL, integers widen") {
    val full = vars.map(_ -> "[1.5, 2]").toMap
    val rows = weather(
      response("34", Seq(1754524800L, 1754528400L),
        full + ("temperature_2m" -> "[null, 3]")),
      response("35.5", Seq(1754532000L), full.map { case (v, _) => v -> "[7]" }))
    assert(rows.map(_.length).distinct == Seq(3 + vars.size))
    assert(rows.map(r => (r.getTimestamp(0).toInstant.getEpochSecond, r.get(1), r.get(2))) ==
      Seq((1754524800L, 34.0, -86.6), (1754528400L, 34.0, -86.6), (1754532000L, 35.5, -86.6)))
    assert(rows.map(_.get(3)) == Seq(null, 3.0, 7.0))
    assert(rows.map(_.get(4)) == Seq(1.5, 2.0, 7.0))
    assert(rows.map(_.get(3 + vars.size - 1)) == Seq(1.5, 2.0, 7.0))
  }

  test("openmeteo: an absent variable is NULL on every row") {
    val rows = weather(response("34", Seq(1754524800L),
      vars.map(_ -> "[1]").toMap - "rain"))
    val rain = 3 + vars.indexOf("rain")
    assert(rows.size == 1 && rows.head.isNullAt(rain))
    assert((3 until rows.head.length).filter(_ != rain).forall(i => rows.head.get(i) == 1.0))
  }

  test("openmeteo: NaN and Infinity strings read; any other value NULLs its whole array") {
    val rows = weather(response("34", Seq(1754524800L, 1754528400L),
      vars.map(_ -> "[1, 2]").toMap + ("rain" -> """["abc", 2]""") +
        ("snowfall" -> """["NaN", "-Infinity"]""")))
    val (rain, snowfall) = (3 + vars.indexOf("rain"), 3 + vars.indexOf("snowfall"))
    assert(rows.map(_.get(rain)) == Seq(null, null))
    assert(rows.head.getDouble(snowfall).isNaN &&
      rows(1).getDouble(snowfall) == Double.NegativeInfinity)
  }

  test("openmeteo: a variable array shorter than time fails the parse") {
    val body = response("34", Seq(1754524800L, 1754528400L),
      vars.map(_ -> "[1, 2]").toMap + ("snow_depth" -> "[1]"))
    val e = intercept[IllegalArgumentException](weather(body))
    assert(e.getMessage.contains("`snow_depth` has 1 values for 2 times"), e.getMessage)
  }

  Seq(
    "a missing `hourly.time`" -> """{"latitude": 34, "hourly": {"rain": [1]}}""",
    "an `hourly.time` that is not an array" ->
      """{"latitude": 34, "hourly": {"time": 1754524800}}""",
    "an `hourly.time` holding a non-integer" ->
      """{"latitude": 34, "hourly": {"time": [1754524800, 1.5]}}"""
  ).foreach { case (what, bad) =>
    test(s"openmeteo: $what fails the parse, naming the response") {
      val good = response("34", Seq(1754524800L), vars.map(_ -> "[1]").toMap)
      val e = intercept[IllegalArgumentException](weather(good, bad))
      assert(e.getMessage.contains("Open-Meteo response 1"), e.getMessage)
    }
  }

  test("openmeteo: a truncated response fails the parse") {
    val body = response("34", Seq(1754524800L), vars.map(_ -> "[1]").toMap)
    intercept[Exception](weather(body, body.dropRight(3)))
  }
}
