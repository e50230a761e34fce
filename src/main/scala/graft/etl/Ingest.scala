package graft.etl

import graft.core.Utils
import graft.crypto.CryptoFunctions

import org.apache.spark.internal.Logging
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}

import java.nio.file.{Files, Paths}
import java.util.Locale
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

/** Per-file ingest options — the non-interactive equivalent of the
  * reference's per-file stdin prompts (/root/reference/pipeline.py:186-193).
  */
final case class IngestOptions(
    anonymize: Boolean = false,
    sensitiveColumns: Seq[String] = Nil,
    tableName: Option[String] = None)

/** `rows` is what this input wrote, also under append (not the table's total). */
final case class IngestResult(url: String, table: String, rows: Long)

/** CSV → warehouse-table ingest, the reference pipeline's end-to-end job
  * (/root/reference/pipeline.py:196-249) re-expressed Spark-first:
  *
  *  - whole-input schema inference (one extra read of the input before the
  *    load; fixes the reference's per-chunk drift, SURVEY.md §0.2-7) instead
  *    of pandas' per-1000-row inference;
  *  - chunking/batching (1000-row chunks, 50 MB request packing,
  *    pipeline.py:205,165-183) is subsumed by a streaming scan + columnar
  *    parquet write — no row-at-a-time SQL text is ever materialized;
  *  - the per-chunk CREATE-replay bug (SURVEY.md §0.2-2) becomes a single
  *    `overwrite` (or `append`) managed-table write;
  *  - the SQLite staging + type string-replace (pipeline.py:117-140,212-216)
  *    is gone: types flow schema-level (graft.core.TypeMapping).
  *
  * CSV is read with Spark's streaming tokeniser (`multiLine`): inference and
  * load each make one streaming parse of the file instead of one parser
  * call per line, and a quoted field may hold line breaks, as
  * `pandas.read_csv` allows. The price is parallelism: a streamed file is
  * one task, so a single file loads on one core and a run's parallelism is
  * [[run]]'s file pool. One 68 MB, 650k-row CSV ingested alone at
  * `local[4]` (4 vCPUs, 4th run in one JVM) took 5.7 s wall and 6.6 s of
  * process CPU; Spark's line-split reader took 3.1 s wall and 10.3 s CPU.
  * Four files loaded at once gain on both.
  */
object Ingest extends Logging {

  /** Read one file, optionally Fernet-encrypt its sensitive columns, and
    * save it as `source`.`table`. Only the reader depends on the extension:
    *
    *  - CSV (anything not .xlsx/.xls) is the reference's actual format,
    *    read (first line as header) by the streaming tokeniser with
    *    `inferSchema=true`: one parse of the whole file infers the schema,
    *    a second one loads it;
    *  - .xlsx is claimed in the reference README (README.md:69) but its code
    *    feeds any URL to the CSV parser (pd.read_csv, pipeline.py:205) —
    *    SURVEY.md §0.1. It routes to [[Xlsx.read]] (java.util.zip + the
    *    Spark 4 XML source over the public OOXML layout — no spreadsheet
    *    library), which does the parse and whole-table typing;
    *  - legacy binary .xls (BIFF) stays unsupported — a different, non-XML
    *    format the reference never names.
    *
    * The row count is observed during the write, so it is this file's rows
    * even under append, and it costs no read-back of the table.
    */
  def ingestFile(spark: SparkSession, path: String, source: String,
                 options: IngestOptions = IngestOptions(),
                 encryptionKey: Option[String] = None,
                 mode: SaveMode = SaveMode.Overwrite): IngestResult = {
    val lower = path.toLowerCase
    if (lower.endsWith(".xls"))
      throw new UnsupportedOperationException(
        s"legacy binary .xls (BIFF) is not supported — convert to .xlsx: $path")
    val table = tableFor(path, options)
    require(table.nonEmpty, s"Cannot derive a table name from $path")
    val raw =
      if (lower.endsWith(".xlsx")) Xlsx.read(spark, path)
      else spark.read
        .option("header", "true")
        .option("inferSchema", "true") // an extra read of the input, before the load
        .option("multiLine", "true") // the streaming tokeniser: records may span lines
        .csv(path)
    val df =
      if (options.anonymize && options.sensitiveColumns.nonEmpty) {
        val key = encryptionKey.getOrElse(graft.crypto.Fernet.generateKey())
        CryptoFunctions.encryptColumns(raw, options.sensitiveColumns, key)
      } else raw
    val written = Observation()
    val qualified = saveToWarehouse(spark, df.observe(written, count(lit(1)).as("rows")),
      source, table, mode)
    IngestResult(path, qualified, written.get("rows").asInstanceOf[Long])
  }

  /** The table an input lands in: the `tableName` option, else its file
    * name sanitised. A URL's file name is its last path segment, the name
    * [[Fetch]] stages it under.
    */
  private def tableFor(input: String, options: IngestOptions): String =
    options.tableName.getOrElse(Utils.sanitizeTableName(
      if (isRemote(input)) Fetch.fileName(input)
      else Paths.get(input).getFileName.toString))

  private def isRemote(input: String): Boolean =
    input.startsWith("http://") || input.startsWith("https://")

  /** `CREATE DATABASE IF NOT EXISTS source`, then the table write —
    * the namespace-qualification step the reference does by rewriting SQL
    * text (/root/reference/pipeline.py:235-243), done through the catalog.
    * The write is [[Warehouse.write]]: an overwrite of an existing table is
    * its versioned commit, and no write builds parquet dictionaries.
    */
  def saveToWarehouse(spark: SparkSession, df: DataFrame, source: String,
                      table: String, mode: SaveMode): String = {
    val db = Utils.sanitizeTableName(source + ".x") // sanitize, keep name rules uniform
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    val qualified = s"`$db`.`$table`"
    Warehouse.write(spark, df, qualified, mode)
    s"$db.$table"
  }

  /** Files one [[run]] ingests at once. */
  private val MaxParallelFiles = 4

  /** Multi-file pipeline run: stage remote files (retrying fetch), then ingest
    * each. File-level parallelism mirrors the reference's 4-thread pool
    * (/root/reference/pipeline.py:252-266) but failures are collected per-file
    * instead of aborting the whole run from inside a worker (SURVEY.md
    * §0.2-8). A CSV ingest is one streamed task per file, so this pool is
    * where a run's parallelism comes from; a single large file loads on one
    * core whatever the cluster size.
    *
    * Inputs bound for the same table (the `tableName` option, else the
    * sanitised file name: `http://a/data.csv` and `http://b/data.csv` are
    * both `data`) run in input order on one worker, so no two writes to one
    * table overlap. Under append each adds its rows; under overwrite only
    * the first is loaded, and each later one fails with an error naming the
    * table and that first input rather than silently replacing its rows.
    * Results come back in input order.
    */
  def run(spark: SparkSession, urls: Seq[String], source: String,
          optionsFor: String => IngestOptions = _ => IngestOptions(),
          encryptionKey: Option[String] = None,
          mode: SaveMode = SaveMode.Overwrite): Seq[Try[IngestResult]] = {
    val stage = Files.createTempDirectory("graft-ingest")
    def ingestOne(url: String): IngestResult = {
      val local =
        if (isRemote(url)) Fetch.downloadWithRetry(url, stage).toString
        else url // local/FS path: no staging needed
      // report the ORIGINAL input (url), not the staged temp path
      ingestFile(spark, local, source, optionsFor(url), encryptionKey, mode)
        .copy(url = url)
    }
    // one group per target table (the catalog ignores case), dispatched in
    // input order; an input whose table cannot be derived is a group of its
    // own and fails inside ingestOne, as a per-file failure
    val groups = urls.zipWithIndex.groupBy { case (url, i) =>
      Try(tableFor(url, optionsFor(url)).toLowerCase(Locale.ROOT)).toOption.toRight(i)
    }.values.toSeq.sortBy(_.head._2)
    // pool is shut down before returning — non-daemon worker threads would
    // otherwise keep the JVM alive after main() completes
    val pool = java.util.concurrent.Executors.newFixedThreadPool(MaxParallelFiles)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val results =
      try {
        val futures = groups.map { group =>
          val (first, firstIndex) = group.head
          Future(group.map { case (url, i) =>
            i -> Try {
              if (i != firstIndex && mode == SaveMode.Overwrite)
                throw new IllegalArgumentException(
                  s"$url: table ${tableFor(url, optionsFor(url))} is already loaded from " +
                    s"$first in this run; overwriting it would drop those rows")
              ingestOne(url)
            }
          })
        }
        futures.flatMap(Await.result(_, Duration.Inf)).sortBy(_._1).map(_._2)
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
