package graft.etl

import graft.core.Utils

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count_if, expr, lit, not, when}

/** The SQL-statement surface. The reference whitelists statement prefixes and
  * ships the text to an external warehouse (/root/reference/pipeline.py:
  * 110-114,143-152); here the engine *is* the warehouse, so whitelisted
  * statements execute in-process through Catalyst (`spark.sql`).
  *
  * DELETE/UPDATE are in the reference's whitelist but plain parquet tables
  * have no row-level ops (same as Dremio pre-Iceberg); they are implemented
  * as the documented filter-and-rewrite: materialize the surviving/updated
  * rows and overwrite the table. At 100 TB this rewrite should target a
  * table format with row-level deletes; the API boundary here keeps that
  * swap localized.
  */
object Warehouse extends Logging {

  private val DeleteStmt =
    """(?is)\s*DELETE\s+FROM\s+([\w.`]+)\s+WHERE\s+(.+?)\s*;?\s*""".r
  private val UpdateStmt =
    """(?is)\s*UPDATE\s+([\w.`]+)\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*""".r
  private val AlterRenameColStmt =
    """(?is)\s*ALTER\s+TABLE\s+([\w.`]+)\s+RENAME\s+COLUMN\s+([\w`]+)\s+TO\s+([\w`]+)\s*;?\s*""".r

  /** Execute whitelisted statements in order; non-whitelisted statements are
    * dropped (logged), matching `filter_sql_commands` semantics. DELETE and
    * UPDATE — whitelisted by the reference but unsupported on plain parquet
    * tables (as on pre-Iceberg Dremio) — are routed to the
    * filter-and-rewrite implementations below instead of failing in the
    * parser. Returns the result of each executed statement.
    */
  def runStatements(spark: SparkSession, statements: Seq[String]): Seq[DataFrame] = {
    val kept = Utils.filterSqlStatements(statements)
    val dropped = statements.diff(kept)
    dropped.foreach(s => logWarning(s"Dropping unsupported statement: ${s.take(80)}"))
    kept.map {
      case DeleteStmt(table, cond) =>
        deleteWhere(spark, table, cond)
        spark.emptyDataFrame
      case UpdateStmt(table, assignments, cond) =>
        // simple `col = expr` assignment list; a SET expression containing a
        // top-level comma (e.g. a function call) needs the updateWhere API
        val parsed = assignments.split(",").map { a =>
          val Array(c, e) = a.split("=", 2)
          c.trim -> e.trim
        }.toMap
        updateWhere(spark, table, parsed, cond)
        spark.emptyDataFrame
      case AlterRenameColStmt(table, from, to) =>
        renameColumn(spark, table, from, to)
        spark.emptyDataFrame
      case sql => spark.sql(sql)
    }
  }

  /** DELETE FROM table WHERE cond — rewrite-on-write for parquet tables,
    * with SQL DELETE's three-valued semantics: only rows where the
    * condition is TRUE are removed — NULL-condition rows survive (a bare
    * `filter(not(cond))` would silently drop them while the count missed
    * them). The removed-count comes from one count_if aggregate, not two
    * full counts.
    */
  def deleteWhere(spark: SparkSession, table: String, condition: String): Long = {
    val current = spark.table(table)
    val condTrue = coalesce(expr(condition), lit(false))
    val removed = current.agg(count_if(condTrue)).first().getLong(0)
    overwriteSelf(spark, current.filter(not(condTrue)), table)
    removed
  }

  /** UPDATE table SET col = expr, ... WHERE cond — rewrite-on-write. The
    * condition and every right-hand side read the ORIGINAL row, all in one
    * projection (`withColumns`), as in SQL: `SET status = 'closed', amount
    * = 0 WHERE status = 'open'` zeroes `amount` too, and `SET a = b, b = a`
    * swaps. An unknown target column fails loudly instead of being appended.
    */
  def updateWhere(spark: SparkSession, table: String, assignments: Map[String, String],
                  condition: String): Unit = {
    val current = spark.table(table)
    val resolve = spark.sessionState.conf.resolver
    val unknown = assignments.keys.filterNot(a => current.columns.exists(resolve(_, a)))
    require(unknown.isEmpty,
      s"UPDATE $table: no such column(s) ${unknown.mkString(", ")} " +
        s"(columns: ${current.columns.mkString(", ")})")
    val updated = current.withColumns(assignments.map { case (c, e) =>
      c -> when(expr(condition), expr(e)).otherwise(col(c))
    })
    overwriteSelf(spark, updated, table)
  }

  /** ALTER TABLE ... RENAME COLUMN — whitelisted by the reference
    * (pipeline.py:112 admits ALTER) but a v2-only command in Spark SQL
    * (v1 session-catalog parquet tables refuse it), so it routes through
    * the same documented rewrite-on-write path as DELETE/UPDATE. On a
    * row-level table format (Iceberg/Delta) this is metadata-only; the
    * API boundary keeps that swap localized. ALTER TABLE ADD COLUMNS
    * needs no shim — Catalyst's v1 command supports parquet tables
    * natively (pre-evolution files read NULL for the new column) and
    * flows straight through `spark.sql`.
    *
    * A missing source column fails LOUDLY (real ALTER TABLE errors on an
    * unknown column; `withColumnRenamed` alone silently no-ops and would
    * still rewrite the whole table). Backticks in the statement's
    * identifiers are stripped before the lookup — the regex admits them
    * but `withColumnRenamed` treats a backtick literally, so a backticked
    * rename would otherwise "succeed" without renaming anything.
    */
  def renameColumn(spark: SparkSession, table: String, from: String, to: String): Unit = {
    val (f, t) = (from.replace("`", ""), to.replace("`", ""))
    val df = spark.table(table)
    require(df.columns.contains(f),
      s"ALTER TABLE $table RENAME COLUMN: no such column '$f' " +
        s"(columns: ${df.columns.mkString(", ")})")
    overwriteSelf(spark, df.withColumnRenamed(f, t), table)
  }

  /** DROP a managed table AND clear any stale on-disk location a previous
    * JVM left in the warehouse dir (the fresh in-memory catalog doesn't
    * know the table, so bare DROP is a no-op and a later saveAsTable/CREATE
    * refuses with LOCATION_ALREADY_EXISTS).
    */
  def dropManagedTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val loc = java.nio.file.Paths.get(wh, table.toLowerCase(java.util.Locale.ROOT))
    if (java.nio.file.Files.exists(loc)) graft.core.Scratch.deleteRecursively(loc)
  }

  /** TRUNCATE for managed tables. */
  def truncate(spark: SparkSession, table: String): Unit =
    spark.sql(s"TRUNCATE TABLE $table")

  /** MERGE-shaped upsert (whole-row semantics): source rows replace target
    * rows sharing `keyCols`; unmatched source rows are appended. Expressed
    * as anti-join + union — one shuffle per side, no full-outer coalesce
    * column plumbing. At 100 TB the same plan runs per-partition with
    * dynamic partition overwrite so only touched partitions rewrite; on a
    * row-level-delete table format (Iceberg/Delta) this API maps 1:1 onto
    * native MERGE INTO.
    *
    * PRECONDITION: `source` must be key-unique on `keyCols`. Duplicate
    * source keys are all retained (the anti-join removes the target row
    * once, then every duplicate unions in) — where native MERGE INTO would
    * error with "multiple source rows matched". Checking would cost a full
    * aggregation pass per merge, so the contract is the caller's; dedup
    * with `source.dropDuplicates(keyCols)` first when uniqueness is not
    * structural.
    */
  def mergeUpsert(target: DataFrame, source: DataFrame, keyCols: Seq[String]): DataFrame =
    target.join(source, keyCols, "left_anti").unionByName(source)

  /** Table-backed variant: merge `source` into managed `table` in place. */
  def mergeIntoTable(spark: SparkSession, table: String, source: DataFrame,
                     keyCols: Seq[String]): Unit =
    overwriteSelf(spark, mergeUpsert(spark.table(table), source, keyCols), table)

  // Overwriting a table from a plan that reads the same table needs a
  // materialization barrier; localCheckpoint keeps it executor-side (no
  // driver collect) so the pattern survives at scale.
  private def overwriteSelf(spark: SparkSession, df: DataFrame, table: String): Unit =
    df.localCheckpoint(eager = true).write.mode(SaveMode.Overwrite).saveAsTable(table) // rewritten-table-sized barrier (note above)
}
