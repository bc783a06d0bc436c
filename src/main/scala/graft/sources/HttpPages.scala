package graft.sources

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

/** Production page source: HTTP GET with offset/length pagination params,
  * retry and exponential backoff — the live counterpart of `FixturePages`
  * behind the same `EnvelopeJson.PageSource` seam (everything downstream —
  * pagination cyclers, envelope parse, pipelines — is identical).
  *
  * Semantics follow the reference clients:
  * - query-param pagination: fixed params plus `offset`/`length`, exactly the
  *   EIA shape (EIA930PipelineHourlyData.py:50-59);
  * - bounded retries with exponential backoff on 429/5xx and I/O errors,
  *   the Open-Meteo client's retry(retries=5, backoff_factor=0.2)
  *   (OpenMeteoWeatherPipelineHourlyData.py:27-28); `retries = 0` reproduces
  *   the EIA client's raise-on-first-error;
  * - any other non-200 (or retry exhaustion) throws with the offset in the
  *   message (the reference's paginationCycler error contract, :80-89).
  *
  * End-of-data is signaled by the API through an EMPTY page, never by an
  * HTTP status, so `fetch` returns Some for every 200 — the stop conditions
  * in `EnvelopeJson.cycle` decide when to stop asking.
  *
  * Driver-side by design: pagination is sequential, so the pages are on the
  * driver before any parse, and `EnvelopeJson.parsePages` decodes them
  * there. The `sleeper` hook exists so tests assert backoff timing without
  * sleeping.
  */
final class HttpPages(
    baseUrl: String,
    params: Map[String, String],
    pageSize: Int = 5000,
    retries: Int = 5,
    backoffMillis: Long = 200L,
    requestTimeout: Duration = Duration.ofSeconds(30),
    client: HttpClient = HttpPages.defaultClient,
    sleeper: Long => Unit = Thread.sleep
) extends EnvelopeJson.PageSource {

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  private[sources] def pageUri(offset: Int): URI = {
    val all = params ++ Map("offset" -> offset.toString, "length" -> pageSize.toString)
    val qs = all.toSeq.sortBy(_._1).map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")
    URI.create(s"$baseUrl?$qs")
  }

  override def fetch(offset: Int): Option[String] = {
    val req = HttpRequest.newBuilder(pageUri(offset)).timeout(requestTimeout).GET().build()
    var attempt = 0
    while (true) {
      val outcome: Either[String, String] =
        try {
          val resp = client.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))
          resp.statusCode() match {
            case 200 => return Some(resp.body())
            case s if s == 429 || s >= 500 => Left(s"HTTP $s")
            case s =>
              throw new RuntimeException(
                s"HttpPages: HTTP $s for offset $offset at $baseUrl (not retryable)")
          }
        } catch {
          case e: java.io.IOException => Left(e.toString)
        }
      val reason = outcome.swap.getOrElse("")
      if (attempt >= retries)
        throw new RuntimeException(
          s"HttpPages: giving up after ${attempt + 1} attempt(s) for offset $offset at $baseUrl: $reason")
      sleeper(backoffMillis << attempt) // 200ms, 400ms, 800ms, ...
      attempt += 1
    }
    None // unreachable
  }
}

object HttpPages {
  lazy val defaultClient: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10))
    .followRedirects(HttpClient.Redirect.NORMAL)
    .build()
}
