package graft.etl

import graft.core.Utils
import graft.crypto.CryptoFunctions

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import java.nio.file.{Files, Paths}
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

/** Per-file ingest options — the non-interactive equivalent of the
  * reference's per-file stdin prompts (/root/reference/pipeline.py:186-193).
  */
final case class IngestOptions(
    anonymize: Boolean = false,
    sensitiveColumns: Seq[String] = Nil,
    header: Boolean = true,
    tableName: Option[String] = None)

final case class IngestResult(url: String, table: String, rows: Long)

/** CSV → warehouse-table ingest, the reference pipeline's end-to-end job
  * (/root/reference/pipeline.py:196-249) re-expressed Spark-first:
  *
  *  - whole-input schema inference (one extra read of the input before the
  *    load; fixes the reference's per-chunk drift, SURVEY.md §0.2-7) instead
  *    of pandas' per-1000-row inference;
  *  - chunking/batching (1000-row chunks, 50 MB request packing,
  *    pipeline.py:205,165-183) is subsumed by partitioned scan + columnar
  *    parquet write — no row-at-a-time SQL text is ever materialized;
  *  - the per-chunk CREATE-replay bug (SURVEY.md §0.2-2) becomes a single
  *    `overwrite` (or `append`) managed-table write;
  *  - the SQLite staging + type string-replace (pipeline.py:117-140,212-216)
  *    is gone: types flow schema-level (graft.core.TypeMapping).
  */
object Ingest extends Logging {

  /** Read one file, optionally Fernet-encrypt its sensitive columns, and
    * save it as `source`.`table`. Only the reader depends on the extension:
    *
    *  - CSV (anything not .xlsx/.xls) is the reference's actual format,
    *    read with `inferSchema=true`: Spark reads the whole input once to
    *    infer the schema, then again to load it;
    *  - .xlsx is claimed in the reference README (README.md:69) but its code
    *    feeds any URL to the CSV parser (pd.read_csv, pipeline.py:205) —
    *    SURVEY.md §0.1. It routes to [[Xlsx.read]] (java.util.zip + the
    *    Spark 4 XML source over the public OOXML layout — no spreadsheet
    *    library), which does the parse and whole-table typing;
    *  - legacy binary .xls (BIFF) stays unsupported — a different, non-XML
    *    format the reference never names.
    */
  def ingestFile(spark: SparkSession, path: String, source: String,
                 options: IngestOptions = IngestOptions(),
                 encryptionKey: Option[String] = None,
                 mode: SaveMode = SaveMode.Overwrite): IngestResult = {
    val lower = path.toLowerCase
    if (lower.endsWith(".xls"))
      throw new UnsupportedOperationException(
        s"legacy binary .xls (BIFF) is not supported — convert to .xlsx: $path")
    val fileName = Paths.get(path).getFileName.toString
    val table = options.tableName.getOrElse(Utils.sanitizeTableName(fileName))
    require(table.nonEmpty, s"Cannot derive a table name from $fileName")
    val raw =
      if (lower.endsWith(".xlsx")) Xlsx.read(spark, path)
      else spark.read
        .option("header", options.header.toString)
        .option("inferSchema", "true") // an extra read of the input, before the load
        .csv(path)
    val df =
      if (options.anonymize && options.sensitiveColumns.nonEmpty) {
        val key = encryptionKey.getOrElse(graft.crypto.Fernet.generateKey())
        CryptoFunctions.encryptColumns(raw, options.sensitiveColumns, key)
      } else raw
    val qualified = saveToWarehouse(spark, df, source, table, mode)
    IngestResult(path, qualified, spark.table(qualified).count())
  }

  /** `CREATE DATABASE IF NOT EXISTS source` + `saveAsTable(source.table)` —
    * the namespace-qualification step the reference does by rewriting SQL
    * text (/root/reference/pipeline.py:235-243), done through the catalog.
    */
  def saveToWarehouse(spark: SparkSession, df: DataFrame, source: String,
                      table: String, mode: SaveMode): String = {
    val db = Utils.sanitizeTableName(source + ".x") // sanitize, keep name rules uniform
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    val qualified = s"`$db`.`$table`"
    df.write.mode(mode).saveAsTable(qualified)
    s"$db.$table"
  }

  /** Multi-file pipeline run: stage remote files (retrying fetch), then ingest
    * each. File-level parallelism mirrors the reference's 4-thread pool
    * (/root/reference/pipeline.py:252-266) but failures are collected per-file
    * instead of aborting the whole run from inside a worker (SURVEY.md
    * §0.2-8). At cluster scale each ingest is itself a parallel Spark job, so
    * file-level fan-out stays modest by design.
    */
  def run(spark: SparkSession, urls: Seq[String], source: String,
          optionsFor: String => IngestOptions = _ => IngestOptions(),
          encryptionKey: Option[String] = None,
          maxParallelFiles: Int = 4,
          mode: SaveMode = SaveMode.Overwrite): Seq[Try[IngestResult]] = {
    val stage = Files.createTempDirectory("graft-ingest")
    // pool is shut down before returning — non-daemon worker threads would
    // otherwise keep the JVM alive after main() completes
    val pool = java.util.concurrent.Executors.newFixedThreadPool(maxParallelFiles)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val results =
      try {
        val futures = urls.map { url =>
          Future {
            val local =
              if (url.startsWith("http://") || url.startsWith("https://"))
                Fetch.downloadWithRetry(url, stage).toString
              else url // local/FS path: no staging needed
            // report the ORIGINAL input (url), not the staged temp path
            ingestFile(spark, local, source, optionsFor(url), encryptionKey, mode)
              .copy(url = url)
          }
        }
        futures.map(f => Try(Await.result(f, Duration.Inf)))
      } finally {
        pool.shutdown()
        // staged downloads are only scratch input — the data now lives in the
        // warehouse table — so reclaim the disk before returning
        deleteRecursively(stage)
      }
    results.foreach {
      case Success(r) => logInfo(s"Ingested ${r.url} -> ${r.table} (${r.rows} rows)")
      case Failure(e) => logError(s"Ingest failed: ${e.getMessage}")
    }
    results
  }

  private def deleteRecursively(root: java.nio.file.Path): Unit =
    if (Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(root) // must be closed: holds directory handles
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => Try(Files.deleteIfExists(p)))
      finally walk.close()
    }
}
