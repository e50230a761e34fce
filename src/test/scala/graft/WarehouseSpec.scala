package graft

import graft.etl.{Ingest, IngestOptions, Warehouse}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The warehouse operator family: the statement surface, the rewrite DML
  * (UPDATE, DELETE, ALTER … RENAME COLUMN, MERGE), their versioned commit,
  * the parquet writer policy and `dropManagedTable`.
  */
class WarehouseSpec extends SparkSuite {

  private def location(table: String): String =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).location.getPath

  /** The directories beside `table`'s location that belong to it: its
    * default path and any `-v<n>` version of it.
    */
  private def dataDirs(table: String): Seq[String] = {
    val loc = Paths.get(location(table))
    val base = loc.getFileName.toString.replaceAll("-v\\d+$", "")
    Files.list(loc.getParent).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n == base || n.matches(s"\\Q$base\\E-v\\d+")).toSeq.sorted
  }

  private def rows(df: DataFrame): Seq[Row] = df.orderBy("id").collect().toSeq

  private def freshDb(db: String): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db")
  }

  private def orders(db: String): String = {
    freshDb(db)
    spark.sql(s"CREATE TABLE $db.t (id INT, status STRING, amount DOUBLE, note STRING) USING parquet")
    spark.sql(s"""INSERT INTO $db.t VALUES (1, 'open', 10.125, 'a'), (2, 'open', 20.5, 'b'),
      (3, 'paid', 30.0, NULL), (4, 'paid', NULL, 'd')""")
    s"$db.t"
  }

  test("warehouse DDL surface: create/insert/select/delete rewrite") {
    val db = "graft_test_db"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    graft.etl.Warehouse.runStatements(spark, Seq(
      s"CREATE DATABASE $db",
      s"CREATE TABLE $db.t (id INT, v STRING) USING parquet",
      s"INSERT INTO $db.t VALUES (1, 'a'), (2, 'b'), (3, 'c')",
      "GRANT ALL ON x TO y" // dropped by whitelist
    ))
    assert(spark.table(s"$db.t").count() == 3)
    val removed = graft.etl.Warehouse.deleteWhere(spark, s"$db.t", "id = 2")
    assert(removed == 1 && spark.table(s"$db.t").count() == 2)
    graft.etl.Warehouse.updateWhere(spark, s"$db.t", Map("v" -> "'z'"), "id = 3")
    assert(spark.table(s"$db.t").filter(col("v") === "z").count() == 1)
    spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("renameColumn: missing source column fails loudly; backticks rename the real column") {
    val t = "graft_r14_rename"
    graft.etl.Warehouse.dropManagedTable(spark, t)
    spark.range(3).selectExpr("id", "id * 2 AS v")
      .write.mode("overwrite").saveAsTable(t)
    val e = intercept[IllegalArgumentException] {
      graft.etl.Warehouse.runStatements(spark,
        Seq(s"ALTER TABLE $t RENAME COLUMN nope TO v2"))
    }
    assert(e.getMessage.contains("no such column"))
    assert(spark.table(t).columns.toSeq === Seq("id", "v"), "failed rename must not rewrite")
    // backticked identifiers used to be captured VERBATIM — withColumnRenamed
    // then looked for a column literally named `v` and silently no-opd
    graft.etl.Warehouse.runStatements(spark,
      Seq(s"ALTER TABLE $t RENAME COLUMN `v` TO `v2`"))
    assert(spark.table(t).columns.toSeq === Seq("id", "v2"))
    graft.etl.Warehouse.dropManagedTable(spark, t)
  }

  test("an UPDATE that fails mid-write leaves the old rows and the old location") {
    val t = orders("wh_fail")
    val before = rows(spark.table(t))
    val loc = location(t)
    val e = intercept[Exception] {
      Warehouse.runStatements(spark, Seq(s"UPDATE $t SET note = raise_error('boom') WHERE id = 3"))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("boom")), e.toString)
    assert(location(t) == loc)
    assert(rows(spark.table(t)) == before)
    assert(dataDirs(t) == Seq("t"), "the failed version's directory is removed")
    spark.sql("DROP DATABASE wh_fail CASCADE")
  }

  test("UPDATE, DELETE, RENAME and MERGE leave one data directory holding the expected rows") {
    val t = orders("wh_versions")
    Warehouse.runStatements(spark, Seq(
      s"UPDATE $t SET status = 'archived' WHERE amount < 25",
      s"DELETE FROM $t WHERE amount > 25"))
    assert(dataDirs(t) == Seq("t-v2") && location(t).endsWith("/t-v2"))
    Warehouse.runStatements(spark, Seq(s"ALTER TABLE $t RENAME COLUMN note TO remark"))
    val source = spark.createDataFrame(Seq((2, "merged", 1.0, "m2"), (9, "merged", 9.0, "m9")))
      .toDF("id", "status", "amount", "remark")
    Warehouse.mergeIntoTable(spark, t, source, Seq("id"))
    assert(dataDirs(t) == Seq("t-v4"), dataDirs(t))
    val table = spark.table(t)
    assert(table.columns.toSeq == Seq("id", "status", "amount", "remark"))
    assert(table.schema.forall(_.nullable))
    assert(rows(table) == Seq(
      Row(1, "archived", 10.125, "a"), Row(2, "merged", 1.0, "m2"),
      Row(4, "paid", null, "d"), Row(9, "merged", 9.0, "m9")))
    val last = Paths.get(location(t))
    Warehouse.dropManagedTable(spark, t)
    assert(!Files.exists(last))
    spark.sql("DROP DATABASE wh_versions CASCADE")
  }

  test("DELETE returns the removed count: NULL conditions survive, an always-true condition removes all") {
    val t = orders("wh_delete")
    assert(Warehouse.deleteWhere(spark, t, "amount > 15") == 2) // the NULL amount stays
    assert(rows(spark.table(t)).map(_.getInt(0)) == Seq(1, 4))
    assert(Warehouse.deleteWhere(spark, t, "false") == 0)
    assert(Warehouse.deleteWhere(spark, t, "1 = 1") == 2)
    assert(spark.table(t).count() == 0)
    assert(Warehouse.deleteWhere(spark, t, "id > 0") == 0)
    spark.sql("DROP DATABASE wh_delete CASCADE")
  }

  test("a rewrite statement on a view fails and leaves the view and its table alone") {
    val t = orders("wh_view")
    spark.sql(s"CREATE VIEW wh_view.v AS SELECT * FROM $t")
    val e = intercept[IllegalArgumentException] {
      Warehouse.runStatements(spark, Seq("UPDATE wh_view.v SET note = 'x' WHERE id = 1"))
    }
    assert(e.getMessage.contains("view"))
    assert(rows(spark.table("wh_view.v")) == rows(spark.table(t)))
    assert(rows(spark.table(t)).head.getString(3) == "a")
    spark.sql("DROP DATABASE wh_view CASCADE")
  }

  test("UPDATE splits SET only at top-level commas: a quoted comma") {
    val t = orders("wh_set_quoted")
    Warehouse.runStatements(spark, Seq(s"UPDATE $t SET note = 'a, b', status = 'x' WHERE id = 1"))
    assert(rows(spark.table(t)).head == Row(1, "x", 10.125, "a, b"))
    spark.sql("DROP DATABASE wh_set_quoted CASCADE")
  }

  test("UPDATE splits SET only at top-level commas: a function call") {
    val t = orders("wh_set_call")
    Warehouse.runStatements(spark, Seq(s"UPDATE $t SET amount = round(amount, 2) WHERE id = 1"))
    assert(rows(spark.table(t)).map(r => Option(r.get(2))) ==
      Seq(Some(10.13), Some(20.5), Some(30.0), None))
    spark.sql("DROP DATABASE wh_set_call CASCADE")
  }

  test("UPDATE without WHERE updates every row; a quoted WHERE is not the clause") {
    val t = orders("wh_set_all")
    Warehouse.runStatements(spark, Seq(s"UPDATE $t SET note = 'x WHERE y'"))
    assert(rows(spark.table(t)).map(_.getString(3)) == Seq.fill(4)("x WHERE y"))
    spark.sql("DROP DATABASE wh_set_all CASCADE")
  }

  test("warehouse writes carry no parquet dictionary pages") {
    val db = "wh_dict"
    freshDb(db)
    // low-cardinality columns: the default writer dictionary-encodes them
    val df = spark.range(2000).selectExpr("CAST(id AS INT) AS id", "CAST(id % 3 AS STRING) AS status")
    def dictionaryChunks(table: String): Int = {
      val conf = spark.sessionState.newHadoopConf()
      Files.list(Paths.get(location(table))).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).map { f =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toUri), conf))
          try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).count(c =>
            c.hasDictionaryPage || c.getEncodings.asScala.exists(_.usesDictionary))
          finally reader.close()
        }.sum
    }
    df.write.saveAsTable(s"$db.control")
    assert(dictionaryChunks(s"$db.control") > 0, "the footer check must see a default write's dictionary")
    Ingest.saveToWarehouse(spark, df, db, "t", org.apache.spark.sql.SaveMode.Overwrite)
    assert(dictionaryChunks(s"$db.t") == 0)
    Warehouse.runStatements(spark, Seq(s"UPDATE $db.t SET status = 'z' WHERE id < 10"))
    assert(location(s"$db.t").endsWith("/t-v1") && dictionaryChunks(s"$db.t") == 0)
    spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("rewrite DML runs at most 1 Spark job per statement, 2 for MERGE") {
    val t = orders("wh_jobs")
    val counts = Seq(
      "update" -> jobsOf("update")(Warehouse.runStatements(spark,
        Seq(s"UPDATE $t SET status = 'archived' WHERE amount < 25"))),
      "delete" -> jobsOf("delete")(Warehouse.runStatements(spark, Seq(s"DELETE FROM $t WHERE id = 2"))),
      "rename" -> jobsOf("rename")(Warehouse.runStatements(spark,
        Seq(s"ALTER TABLE $t RENAME COLUMN note TO remark"))),
      "merge" -> jobsOf("merge")(Warehouse.mergeIntoTable(spark, t,
        spark.createDataFrame(Seq((3, "merged", 1.0, "m"))).toDF("id", "status", "amount", "remark"),
        Seq("id")))).toMap
    assert(counts.values.forall(_ >= 1), s"the listener missed a statement's jobs: $counts")
    assert(counts("update") <= 1 && counts("delete") <= 1 && counts("rename") <= 1, counts)
    assert(counts("merge") <= 2, counts)
    spark.sql("DROP DATABASE wh_jobs CASCADE")
  }

  test("an Ingest overwrite of an existing table replaces its rows through the versioned commit") {
    val dir = Files.createTempDirectory("graft-wh-ingest")
    def csv(name: String, text: String) = Files.write(dir.resolve(name), text.getBytes("UTF-8")).toString
    val first = csv("first.csv", "id,name\n1,alice\n2,bob\n")
    val second = csv("second.csv", "id,score,flag\n7,1.5,true\n")
    val opts = IngestOptions(tableName = Some("people"))
    Ingest.ingestFile(spark, first, "wh_ingest", opts)
    assert(location("wh_ingest.people").endsWith("/people"))
    val res = Ingest.ingestFile(spark, second, "wh_ingest", opts)
    assert(res.rows == 1)
    assert(location("wh_ingest.people").endsWith("/people-v1") && dataDirs("wh_ingest.people") == Seq("people-v1"))
    val table = spark.table("wh_ingest.people")
    assert(table.schema.map(f => s"${f.name}:${f.dataType.simpleString}") ==
      Seq("id:int", "score:double", "flag:boolean"))
    assert(rows(table) == Seq(Row(7, 1.5, true)))
    spark.sql("DROP DATABASE wh_ingest CASCADE")
  }

  test("dropManagedTable clears a stale location of a qualified name") {
    val db = "wh_stale"
    freshDb(db)
    val catalog = spark.sessionState.catalog
    // a previous JVM's table, at its default path and at a version beside
    // it: on disk, unknown to this session's catalog
    val stale = Paths.get(catalog.defaultTablePath(TableIdentifier("t", Some(db))))
    val staleVersion = stale.resolveSibling("t-v3")
    Seq(stale, staleVersion).foreach { d =>
      Files.createDirectories(d)
      Files.write(d.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    }
    val e = intercept[Exception](spark.range(2).write.saveAsTable(s"$db.t"))
    assert(e.getMessage.contains("LOCATION_ALREADY_EXISTS"), e.getMessage)
    Warehouse.dropManagedTable(spark, s"$db.t")
    assert(!Files.exists(stale) && !Files.exists(staleVersion))
    spark.range(2).write.saveAsTable(s"$db.t")
    assert(spark.table(s"$db.t").count() == 2)
    // a known table at a versioned location: that directory goes
    Warehouse.runStatements(spark, Seq(s"DELETE FROM $db.t WHERE id = 0"))
    val versioned = Paths.get(location(s"$db.t"))
    assert(versioned.getFileName.toString == "t-v1")
    Warehouse.dropManagedTable(spark, s"$db.t")
    assert(!Files.exists(versioned) && !Files.exists(stale))
    spark.sql(s"DROP DATABASE $db CASCADE")
  }
}
