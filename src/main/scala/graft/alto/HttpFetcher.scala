package graft.alto

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** Production fetcher for [[Alto.fetchXml]]'s per-URL path — the
  * runnable counterpart of the reference's per-document HTTP fetch
  * (`flows/main_flow.py:54-58` forks a Node subprocess whose script
  * GETs the URL, `script/extract-text-lines-from-alto.js:24061-24063`).
  * Until this class existed the fetch was only an injection point
  * (`fetcher: String => String`); this is the default production
  * implementation: `java.net.http.HttpClient` with connect + request
  * timeouts, bounded retries with exponential backoff on transient
  * failures (IO errors, 5xx, 429), and fail-fast on permanent ones
  * (other 4xx — retrying a 404 burns the archive's rate budget for
  * nothing).
  *
  * Executor posture: the function is a small serializable closure;
  * the HttpClient itself is NOT serializable and is built lazily once
  * per JVM (executor), shared by every task thread — HttpClient is
  * thread-safe and pools connections, so N tasks fetching from one
  * archive host reuse sockets instead of opening one per row. Failure
  * semantics compose with [[Alto.FetchPolicy]] unchanged: a fetch that
  * exhausts its attempts throws (FailFast ≅ the reference's raise) or
  * nulls the row (NullOnError, counted by the `fetch_xml` observe
  * metric).
  */
object HttpFetcher {

  /** Retry/timeout knobs. `maxAttempts` counts the first try; backoff
    * before attempt i (1-based retries) is
    * `initialBackoffMs * backoffFactor^(i-1)`, deterministic (no
    * jitter — executor-side determinism is worth more here than
    * thundering-herd smoothing at the default 3 attempts). */
  final case class Config(
      connectTimeoutMs: Long = 5000,
      requestTimeoutMs: Long = 30000,
      maxAttempts: Int = 3,
      initialBackoffMs: Long = 200,
      backoffFactor: Double = 2.0,
      userAgent: String = "graft-alto-fetch/1.0") extends Serializable {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
  }

  /** Raised when every attempt failed, carrying the last cause; a
    * status-carrying failure keeps the code in the message so a
    * NullOnError run's logs say WHY rows nulled. */
  final class FetchFailed(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

  private final class StatusException(status: Int, url: String)
    extends RuntimeException(s"HTTP $status for $url")

  /** One HttpClient per (JVM, connect-timeout) — executors build it on
    * first use; the driver never serializes it. */
  @transient private lazy val clients =
    new java.util.concurrent.ConcurrentHashMap[Long, HttpClient]()

  private def clientFor(connectTimeoutMs: Long): HttpClient =
    clients.computeIfAbsent(connectTimeoutMs, ms =>
      HttpClient.newBuilder()
        .connectTimeout(Duration.ofMillis(ms))
        .followRedirects(HttpClient.Redirect.NORMAL)
        .build())

  private def transient_(status: Int): Boolean =
    status >= 500 || status == 429

  /** The default production fetcher: GET `url`, return the body as a
    * UTF-8 string. Retries transient failures up to
    * `cfg.maxAttempts` with exponential backoff; throws
    * [[FetchFailed]] when attempts are exhausted or the failure is
    * permanent (non-retryable 4xx). Pass the result to
    * [[Alto.fetchXml]] as its `fetcher`. */
  def fetcher(cfg: Config = Config()): String => String = {
    // capture only the serializable config in the closure
    val c = cfg
    (url: String) => fetchOnce(c, url)
  }

  private def fetchOnce(cfg: Config, url: String): String = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofMillis(cfg.requestTimeoutMs))
      .header("User-Agent", cfg.userAgent)
      .GET()
      .build()
    var attempt = 0
    var last: Throwable = null
    while (attempt < cfg.maxAttempts) {
      if (attempt > 0) {
        val backoff = (cfg.initialBackoffMs *
          math.pow(cfg.backoffFactor, (attempt - 1).toDouble)).toLong
        Thread.sleep(backoff)
      }
      attempt += 1
      try {
        val resp = clientFor(cfg.connectTimeoutMs)
          .send(req, HttpResponse.BodyHandlers.ofString())
        val status = resp.statusCode()
        if (status >= 200 && status < 300) return resp.body()
        val e = new StatusException(status, url)
        if (!transient_(status))
          throw new FetchFailed(s"permanent failure fetching $url: HTTP $status", e)
        last = e
      } catch {
        case e: FetchFailed => throw e
        case e: InterruptedException => throw e
        case scala.util.control.NonFatal(e) => last = e // IO/timeout → retry
      }
    }
    throw new FetchFailed(
      s"fetch of $url failed after ${cfg.maxAttempts} attempts: ${last.getMessage}",
      last)
  }
}
