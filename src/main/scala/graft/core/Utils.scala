package graft.core

import java.net.URI


/** Pure utilities — capability parity with the reference pipeline's helper
  * functions (see /root/reference/pipeline.py:27-114), re-expressed as pure
  * Scala with no side effects at object-initialization time.
  */
object Utils {

  /** Sanitize a file name into a SQL-safe table identifier.
    * Semantics parity with reference `sanitize_table_name`
    * (/root/reference/pipeline.py:103-107): strip the last `.ext` (ext must be
    * non-empty), collapse runs of non-alphanumerics to `_`, strip leading `_`.
    */
  def sanitizeTableName(fileName: String): String = {
    val withoutExtension = fileName.replaceAll("\\.[^.]+$", "")
    withoutExtension
      .replaceAll("[^A-Za-z0-9]+", "_")
      .replaceAll("^_+", "")
  }

  /** True iff `url` parses with scheme http/https and a non-empty authority.
    * Parity with reference `is_valid_url` (/root/reference/pipeline.py:27-33),
    * which checks `scheme in [http, https] and netloc`.
    */
  def isValidUrl(url: String): Boolean =
    try {
      val u = new URI(url)
      val scheme = Option(u.getScheme).map(_.toLowerCase).getOrElse("")
      val authority = Option(u.getRawAuthority).getOrElse("")
      (scheme == "http" || scheme == "https") && authority.nonEmpty
    } catch { case _: Exception => false }

  /** Split a comma-separated list of URLs and local paths, trim entries,
    * drop empties. Validation is all-or-nothing (one bad entry rejects the
    * batch), as in the reference's stdin handling: anything
    * scheme-qualified (`://`) must be a valid http(s) URL, so an `ftp://`
    * input is rejected rather than handed to the filesystem; a bare local
    * path passes.
    */
  def parseUrlList(input: String): Either[String, List[String]] = {
    val urls = input.split(",", -1).iterator.map(_.trim).filter(_.nonEmpty).toList
    urls.filter(u => u.contains("://") && !isValidUrl(u)) match {
      case Nil => Right(urls)
      case bad => Left(s"One or more provided URLs are invalid: ${bad.mkString(", ")}")
    }
  }

  /** Rewrite a github.com blob/page URL to its raw-content equivalent —
    * the conversion the reference README claims (README.md:70-71) but whose
    * code does not exist anywhere in pipeline.py (SURVEY.md §0.1): here it
    * is real. Non-GitHub URLs and already-raw URLs pass through unchanged.
    *
    *   https://github.com/o/r/blob/main/d/f.csv
    *     → https://raw.githubusercontent.com/o/r/main/d/f.csv
    */
  def githubRawUrl(url: String): String = {
    val Blob = "^(https?)://(?:www\\.)?github\\.com/([^/]+)/([^/]+)/(?:blob|raw)/(.+)$".r
    url match {
      case Blob(scheme, owner, repo, rest) =>
        s"$scheme://raw.githubusercontent.com/$owner/$repo/$rest"
      case _ => url
    }
  }

  /** SQL statement prefixes the warehouse surface accepts — parity with
    * reference `filter_sql_commands` (/root/reference/pipeline.py:110-114).
    */
  val SupportedSqlPrefixes: List[String] = List(
    "CREATE", "INSERT", "DELETE", "UPDATE", "DROP", "ALTER", "TRUNCATE",
    "SELECT", "VALUES")

  /** Keep only statements starting (case-insensitively, after trim) with a
    * supported keyword.
    */
  def filterSqlStatements(commands: Seq[String]): Seq[String] =
    commands.filter { c =>
      val t = c.trim.toUpperCase
      SupportedSqlPrefixes.exists(t.startsWith)
    }

  /** Fixed-delay retry — parity with reference `download_file_with_retry`
    * (/root/reference/pipeline.py:87-100) minus the `sys.exit(1)`: the final
    * failure propagates as the exception so callers decide policy.
    */
  def retry[T](attempts: Int, delayMs: Long)(f: => T): T = {
    require(attempts >= 1, "attempts must be >= 1")
    var remaining = attempts
    while (true) {
      try return f
      catch {
        case e: Exception =>
          remaining -= 1
          if (remaining < 1) throw e
          Thread.sleep(delayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Fail-fast required-config lookup — parity with `get_env_variable`
    * (/root/reference/pipeline.py:19-24) but throwing instead of exiting so it
    * is testable and composes with `Either`/`Try` callers.
    */
  def requiredEnv(name: String, env: Map[String, String] = sys.env): String =
    env.get(name).filter(_.nonEmpty).getOrElse(
      throw new IllegalStateException(s"Environment variable $name is not set."))

  /** Minimal `.env`-file loader — parity with the reference's
    * `load_dotenv('pipeline.env')` (/root/reference/pipeline.py:36):
    * KEY=VALUE lines; blank lines and `#` comments skipped; an optional
    * `export ` prefix and surrounding single/double quotes stripped. Like
    * python-dotenv's default mode, an EXISTING process-env binding wins
    * over the file on conflict, and a missing file is a no-op. Returns the
    * merged view (file values overlaid underneath `env`) so callers keep
    * using [[requiredEnv]] unchanged.
    */
  def loadDotenv(path: String, env: Map[String, String] = sys.env): Map[String, String] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isRegularFile(p)) env
    else {
      import scala.jdk.CollectionConverters._
      val fileVars = java.nio.file.Files.readAllLines(p).asScala.iterator
        .map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(l => if (l.startsWith("export ")) l.stripPrefix("export ").trim else l)
        .flatMap { l =>
          val i = l.indexOf('=')
          if (i <= 0) None
          else {
            val k = l.substring(0, i).trim
            val raw = l.substring(i + 1).trim
            val v =
              if (raw.length >= 2 &&
                  ((raw.head == '"' && raw.last == '"') ||
                   (raw.head == '\'' && raw.last == '\'')))
                raw.substring(1, raw.length - 1)
              else raw
            Some(k -> v)
          }
        }.toMap
      fileVars ++ env
    }
  }

  /** Collision-resistant 12-hex-char digest of a path, for embedding a
    * source-dir identity in catalog object names (cached bucketed layouts,
    * artifact tables). md5 rather than 32-bit `String.hashCode` so two
    * distinct dirs cannot silently share a cached layout.
    */
  def pathDigest(path: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
}
