package graft.etl

import graft.core.Utils

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.time.Duration

/** Thin, isolated driver-side HTTP fetch — the Spark-native stand-in for the
  * reference's `download_file_with_retry` (/root/reference/pipeline.py:87-100).
  * Spark has no built-in HTTP data source, so remote files are staged to a
  * local (or distributed-FS) path once and then read by `spark.read`, which
  * also fixes the reference's double-download bug (SURVEY.md §0.2-1: it
  * downloads with retry, discards the body, and re-downloads via pandas).
  *
  * At cluster scale this staging step targets a shared filesystem path; the
  * Spark read that follows is then fully parallel.
  */
object Fetch {
  val DefaultRetries = 3
  val DefaultDelayMs = 2000L

  private lazy val client: HttpClient = HttpClient.newBuilder()
    .followRedirects(HttpClient.Redirect.NORMAL)
    .connectTimeout(Duration.ofSeconds(30))
    .build()

  /** The name `url` is staged under: its last path segment, or `download`. */
  private[etl] def fileName(url: String): String =
    Option(Paths.get(new URI(url).getPath).getFileName).map(_.toString)
      .filter(_.nonEmpty).getOrElse("download")

  /** Download `url` to `destDir/<url-hash>/<last-path-segment>` with
    * fixed-delay retry. Only http/https accepted (reference URL predicate,
    * pipeline.py:27-33). The per-URL subdirectory (16-hex of the URL's
    * SHA-256) keeps concurrent downloads of same-named files from different
    * hosts — `host-a/data.csv` and `host-b/data.csv` — from racing on one
    * dest path; a 64-bit prefix makes a collision across one run's URL list
    * astronomically unlikely, where 32-bit String.hashCode would not
    * (birthday bound ~77k URLs).
    */
  def downloadWithRetry(url: String, destDir: Path,
                        retries: Int = DefaultRetries,
                        delayMs: Long = DefaultDelayMs): Path = {
    require(Utils.isValidUrl(url), s"Invalid URL: $url")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(url.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val urlDir = destDir.resolve(digest.take(8).map(b => f"$b%02x").mkString)
    Files.createDirectories(urlDir)
    val dest = urlDir.resolve(fileName(url))
    Utils.retry(retries, delayMs) {
      val req = HttpRequest.newBuilder(URI.create(url))
        .timeout(Duration.ofMinutes(5)) // bound the whole request, not just connect
        .GET().build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofFile(dest))
      if (resp.statusCode() / 100 != 2)
        throw new java.io.IOException(s"HTTP ${resp.statusCode()} for $url")
      resp.body()
    }
  }
}
