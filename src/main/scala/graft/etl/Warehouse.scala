package graft.etl

import graft.core.Utils

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.{JobExecutionStatus, SparkContext}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFieldName, UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, CollectMetrics, DeleteFromTable, RenameColumn, UpdateTable}
import org.apache.spark.sql.catalyst.util.QuotingUtils.quoteNameParts
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count_if, expr, lit, not, when}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import scala.util.control.NonFatal

/** The SQL-statement surface. The reference whitelists statement prefixes and
  * ships the text to an external warehouse (/root/reference/pipeline.py:
  * 110-114,143-152); here the engine *is* the warehouse, so whitelisted
  * statements execute in-process through Catalyst (`spark.sql`).
  *
  * DELETE/UPDATE are in the reference's whitelist but plain parquet tables
  * have no row-level ops (same as Dremio pre-Iceberg); they are implemented
  * as the documented filter-and-rewrite, and so are ALTER … RENAME COLUMN
  * and MERGE. Catalyst's own parser finds the table, assignments and
  * condition of each statement, and [[runStatements]] routes it by the
  * class of the parsed plan; a DELETE without WHERE removes every row.
  * Every table write, theirs and [[Ingest]]'s, goes through [[write]]:
  *
  *  - '''Versioned commit.''' Overwriting an existing table writes its new
  *    version into a fresh directory beside the current one (`t` → `t-v1`
  *    → `t-v2` …). The plan still reads the old files, so it needs no
  *    materialisation barrier. The commit is one catalog update: the table
  *    definition with the new location (and the new schema, for RENAME).
  *    Then the relation cache is refreshed and the old directory of a
  *    managed table is deleted. A statement that fails before the commit
  *    leaves the catalog, and the rows, on the old version; its new
  *    directory is deleted once the write's tasks have stopped. A crash
  *    between the commit and the delete leaves the old directory behind as
  *    an orphan: nothing reads it, and [[dropManagedTable]] or `DROP DATABASE
  *    … CASCADE` removes it. Appends stay plain appends into the current
  *    directory. Views, partitioned and bucketed tables are refused: a
  *    view has no files, and a layout is not carried into the new version.
  *  - '''No parquet dictionary.''' Every write sets
  *    `parquet.enable.dictionary=false`. Most warehouse columns are unique
  *    (ids, emails, amounts, Fernet tokens), so the writer built a
  *    dictionary per column only to throw it away; in a CPU profile of the
  *    `etl_load` benchmark those dictionary writers were 26.5% of samples.
  *    The codec is zstd (`SparkConfigs.ScaleDefaults`), which keeps most of
  *    the repetition a dictionary would have caught: the benchmark's four
  *    tables grew 3.3% on disk, its un-anonymised table 17% (from the
  *    low-cardinality `status`, `customer` and `note` columns).
  *
  * At 100 TB the next step is file-granular rewrites: find the files that
  * hold a matching row (`_metadata.file_path` and the parquet min/max
  * statistics), rewrite only those, and carry the other files into the new
  * version unchanged, so a selective DELETE or MERGE costs the touched files,
  * not the table. A version is then a file list rather than a directory,
  * which is what a row-level table format (Iceberg/Delta) provides.
  */
object Warehouse extends Logging {

  /** Writer options of every warehouse write (see the object's scaladoc). */
  private val WriteOptions = Map("parquet.enable.dictionary" -> "false")

  /** Execute whitelisted statements in order; non-whitelisted statements are
    * dropped (logged), matching `filter_sql_commands` semantics. Catalyst's
    * parser finds the parts of each statement. DELETE, UPDATE and ALTER …
    * RENAME COLUMN on a plain table name — whitelisted by the reference but
    * unsupported on plain parquet tables (as on pre-Iceberg Dremio) — go to
    * the filter-and-rewrite implementations below, each expression handed
    * over as its SQL text; every other statement runs through `spark.sql`.
    * A DELETE without WHERE removes every row, an UPDATE without WHERE
    * updates every row. Returns the result of each executed statement.
    */
  def runStatements(spark: SparkSession, statements: Seq[String]): Seq[DataFrame] = {
    val kept = Utils.filterSqlStatements(statements)
    val dropped = statements.diff(kept)
    dropped.foreach(s => logWarning(s"Dropping unsupported statement: ${s.take(80)}"))
    kept.map { sql =>
      spark.sessionState.sqlParser.parsePlan(sql) match {
        case DeleteFromTable(t: UnresolvedRelation, cond) =>
          deleteWhere(spark, t.tableName, cond.sql)
          spark.emptyDataFrame
        case UpdateTable(t: UnresolvedRelation, set, cond) if set.forall(columnOf(_).nonEmpty) =>
          updateWhere(spark, t.tableName, set.map(a => columnOf(a).get -> a.value.sql).toMap,
            cond.fold("true")(_.sql))
          spark.emptyDataFrame
        case RenameColumn(t: UnresolvedTable, UnresolvedFieldName(Seq(from)), to) =>
          renameColumn(spark, quoteNameParts(t.multipartIdentifier), from, to)
          spark.emptyDataFrame
        case _ => spark.sql(sql)
      }
    }
  }

  /** The column an UPDATE assignment sets, when it is a one-part name. */
  private def columnOf(a: Assignment): Option[String] = a.key match {
    case UnresolvedAttribute(Seq(c)) => Some(c)
    case _ => None
  }

  /** DELETE FROM table WHERE cond — rewrite-on-write for parquet tables,
    * with SQL DELETE's three-valued semantics: only rows where the
    * condition is TRUE are removed — NULL-condition rows survive (a bare
    * `filter(not(cond))` would silently drop them while the count missed
    * them). The removed count is observed during the rewrite, so it costs
    * no scan of its own, except when the optimizer proves the condition
    * TRUE for every row: it then drops the scan, and the observation with
    * it, and the rows are counted up front.
    */
  def deleteWhere(spark: SparkSession, table: String, condition: String): Long = {
    val current = spark.table(table)
    val condTrue = coalesce(expr(condition), lit(false))
    val removed = Observation()
    val kept = current.observe(removed, count_if(condTrue).as("removed")).filter(not(condTrue))
    val observed = kept.queryExecution.optimizedPlan.exists(_.isInstanceOf[CollectMetrics])
    val all = if (observed) 0L else current.count()
    write(spark, kept, table, SaveMode.Overwrite)
    if (observed) removed.get("removed").asInstanceOf[Long] else all
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
    write(spark, updated, table, SaveMode.Overwrite)
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
    * still rewrite the whole table).
    */
  def renameColumn(spark: SparkSession, table: String, from: String, to: String): Unit = {
    val df = spark.table(table)
    require(df.columns.contains(from),
      s"ALTER TABLE $table RENAME COLUMN: no such column '$from' " +
        s"(columns: ${df.columns.mkString(", ")})")
    write(spark, df.withColumnRenamed(from, to), table, SaveMode.Overwrite)
  }

  /** DROP a managed table AND clear any stale on-disk location a previous
    * JVM left in the warehouse dir (the fresh in-memory catalog doesn't
    * know the table, so bare DROP is a no-op and a later saveAsTable/CREATE
    * refuses with LOCATION_ALREADY_EXISTS). The location comes from the
    * catalog: the default path of the table in its database, and every
    * `-v<n>` version beside it, where the table (or a previous JVM's copy of
    * it) may have lived since its last rewrite. An external table's files
    * are left alone, as DROP leaves them; a database that does not exist
    * holds no location to clear.
    */
  def dropManagedTable(spark: SparkSession, table: String): Unit = {
    val catalog = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val external = catalog.tableExists(ident) &&
      catalog.getTableMetadata(ident).tableType == CatalogTableType.EXTERNAL
    val default =
      if (external || !catalog.databaseExists(ident.database.getOrElse(catalog.getCurrentDatabase))) None
      else Some(new Path(catalog.defaultTablePath(ident)))
    spark.sql(s"DROP TABLE IF EXISTS $table")
    default.foreach { path =>
      val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
      val versions =
        if (!fs.exists(path.getParent)) Array.empty[Path]
        else fs.listStatus(path.getParent).map(_.getPath)
          .filter(_.getName.matches(java.util.regex.Pattern.quote(path.getName) + VersionSuffix))
      (path +: versions).foreach(fs.delete(_, true))
    }
  }

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
    write(spark, mergeUpsert(spark.table(table), source, keyCols), table, SaveMode.Overwrite)

  /** The warehouse's one table write. An overwrite of an existing table is a
    * versioned commit, and `df` may read that table; anything else is a
    * plain `saveAsTable`. Every write goes without parquet dictionaries.
    */
  private[etl] def write(spark: SparkSession, df: DataFrame, table: String, mode: SaveMode): Unit = {
    val catalog = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    if (mode == SaveMode.Overwrite && catalog.tableExists(ident))
      commitVersion(spark, df, catalog.getTableMetadata(ident))
    else df.write.options(WriteOptions).mode(mode).saveAsTable(table)
  }

  /** Write `df` as the next version of `meta`'s table and switch the catalog
    * to it (see the object's scaladoc).
    */
  private def commitVersion(spark: SparkSession, df: DataFrame, meta: CatalogTable): Unit = {
    require(meta.tableType != CatalogTableType.VIEW && meta.partitionColumnNames.isEmpty &&
      meta.bucketSpec.isEmpty,
      s"${meta.identifier.unquotedString}: rewriting a view, a partitioned or a bucketed table is not supported")
    val current = new Path(meta.location)
    val fs = current.getFileSystem(spark.sessionState.newHadoopConf())
    val next = nextVersion(fs, current)
    val sc = spark.sparkContext
    val tag = s"graft-commit-${java.util.UUID.randomUUID()}"
    sc.addJobTag(tag)
    try {
      df.write.format(meta.provider.getOrElse(spark.sessionState.conf.defaultDataSourceName))
        .options(meta.storage.properties ++ WriteOptions)
        .save(next.toString)
      spark.sessionState.catalog.alterTable(meta.copy(
        storage = meta.storage.copy(locationUri = Some(next.toUri)),
        schema = nullable(df.schema).asInstanceOf[StructType],
        stats = None))
    } catch {
      case NonFatal(e) =>
        awaitTasksStopped(sc, tag)
        fs.delete(next, true)
        throw e
    } finally sc.removeJobTag(tag)
    spark.catalog.refreshTable(meta.identifier.quotedString)
    if (meta.tableType == CatalogTableType.MANAGED) fs.delete(current, true)
  }

  /** Waits, at most 30 s, until the jobs tagged `tag` have ended and none of
    * their stages has a running task. A failed job's other tasks are killed
    * asynchronously and may still write into the version directory. The
    * status tracker records a job's end only after every task start before
    * it; a write that failed before it started a job waits 2 s for one.
    */
  private def awaitTasksStopped(sc: SparkContext, tag: String): Unit = {
    val st = sc.statusTracker
    val t0 = System.nanoTime()
    def waitedMs = (System.nanoTime() - t0) / 1000000
    def stopped = {
      val jobs = st.getJobIdsForTag(tag).toSeq.flatMap(st.getJobInfo(_))
      if (jobs.isEmpty) waitedMs >= 2000
      else jobs.forall(_.status != JobExecutionStatus.RUNNING) &&
        jobs.flatMap(_.stageIds).flatMap(st.getStageInfo(_)).forall(_.numActiveTasks == 0)
    }
    while (!stopped && waitedMs < 30000) Thread.sleep(20)
  }

  private val VersionSuffix = """-v(\d+)"""
  private val Versioned = s"(.+)$VersionSuffix".r

  /** The first free `<name>-v<n>` beside `current`, counting on from its own. */
  private def nextVersion(fs: FileSystem, current: Path): Path = {
    val (base, v) = current.getName match {
      case Versioned(b, n) => (b, n.toLong)
      case n => (n, 0L)
    }
    Iterator.from(1).map(k => new Path(current.getParent, s"$base-v${v + k}")).find(!fs.exists(_)).get
  }

  /** `t` with every field and element nullable: the schema a file-source
    * table reads back, whatever nullability its writer's plan declared.
    */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
