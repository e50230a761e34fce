package graft.etl

import graft.core.Utils

import org.apache.spark.sql.SparkSession

import scala.util.{Failure, Success}

/** Executable pipeline entry — the engine's equivalent of running the
  * reference's `python pipeline.py` (/root/reference/pipeline.py:252-266):
  *
  *   runMain graft.etl.PipelineMain <urls-or-paths-comma-separated>
  *       [--source NAME] [--encrypt col1,col2] [--append] [--interactive]
  *
  * Flags are the default (testable, SURVEY.md §2.1-15); `--interactive`
  * restores the reference's per-file stdin prompts (anonymize? which
  * columns? — pipeline.py:186-193) for terminal parity. GitHub page URLs
  * are rewritten to raw-content form (Utils.githubRawUrl — the README-
  * claimed conversion the reference never implemented).
  *
  * Environment (parity with the reference's required config,
  * pipeline.py:49-52): GRAFT_SOURCE may replace --source. Remote http(s)
  * URLs are validated all-or-nothing and staged with retry; local paths are
  * ingested directly. Per-file failures are reported, not fatal.
  */
object PipelineMain {

  /** Per-file stdin prompts, reference pipeline.py:186-193 shape: a yes/no
    * anonymize question, then a comma-separated sensitive-column list.
    */
  private[graft] def promptOptions(url: String,
                                 in: java.io.BufferedReader): IngestOptions = {
    print(s"Do you want to anonymize data for $url? (yes/no): ")
    val anonymize = Option(in.readLine()).exists(_.trim.equalsIgnoreCase("yes"))
    val cols =
      if (anonymize) {
        print("Enter sensitive columns (comma-separated): ")
        Option(in.readLine()).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Nil)
      } else Nil
    IngestOptions(anonymize = anonymize && cols.nonEmpty, sensitiveColumns = cols)
  }
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: PipelineMain <urls> [--source NAME] [--encrypt cols] [--append]")
      sys.exit(2)
    }
    val urlArg = args(0)
    def flag(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    // reference parity (pipeline.py:36): config may come from a dotenv
    // file; process env wins on conflict, missing file is a no-op
    val env = Utils.loadDotenv(sys.env.getOrElse("GRAFT_ENV_FILE", "pipeline.env"))
    val source = flag("--source")
      .orElse(env.get("GRAFT_SOURCE").filter(_.nonEmpty))
      .getOrElse(Utils.requiredEnv("GRAFT_SOURCE", env))
    val sensitive = flag("--encrypt").map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
    val mode =
      if (args.contains("--append")) org.apache.spark.sql.SaveMode.Append
      else org.apache.spark.sql.SaveMode.Overwrite

    val inputs = Utils.parseUrlList(urlArg) match {
      case Right(urls) => urls
      case Left(error) =>
        System.err.println(error)
        sys.exit(1)
    }
    // README-parity conversion: GitHub page links → raw content links
    val converted = inputs.map(Utils.githubRawUrl)

    val spark = graft.core.SparkConfigs.applyScaleDefaults(
      SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
        .appName("graft-pipeline"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val chosen: Map[String, IngestOptions] =
      if (args.contains("--interactive")) {
        if (sensitive.nonEmpty)
          System.err.println("--interactive overrides --encrypt: using per-file prompt answers")
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
        // prompt up-front, once per input, in order (the reference prompts on
        // the main thread before dispatching to workers, pipeline.py:258-259)
        converted.map(u => u -> promptOptions(u, in)).toMap
      } else {
        val opts = IngestOptions(anonymize = sensitive.nonEmpty, sensitiveColumns = sensitive)
        converted.map(u => u -> opts).toMap
      }
    val optionsFor: String => IngestOptions = u => chosen.getOrElse(u, IngestOptions())
    // generate (and disclose) a key only if something will actually be
    // encrypted — printing "retain to decrypt" for a no-op run would imply
    // protection that never happened
    val key =
      if (chosen.values.exists(_.anonymize)) Some(graft.crypto.Fernet.generateKey()) else None
    key.foreach(k => println(s"encryption key (retain to decrypt): $k"))

    val results = Ingest.run(spark, converted, source, optionsFor, key, mode = mode)
    results.foreach {
      case Success(r) => println(s"OK   ${r.url} -> ${r.table} (${r.rows} rows)")
      case Failure(e) => println(s"FAIL ${e.getMessage}")
    }
    spark.stop()
    if (results.exists(_.isFailure)) sys.exit(1)
  }
}
