package graft

import graft.etl.{Ingest, IngestOptions}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** End-to-end ingest slice: CSV on disk → inferred schema → (encrypted) →
  * managed warehouse table, the reference pipeline's whole job
  * (/root/reference/pipeline.py:196-249) minus the network.
  */
class IngestSpec extends SparkSuite {

  private def writeCsv(name: String, rows: Seq[String]): String =
    writeText(name, rows.mkString("\n"))

  private def writeText(name: String, text: String): String = {
    val dir = Files.createTempDirectory("graft-ingest-test")
    val f = dir.resolve(name)
    Files.write(f, text.getBytes("UTF-8"))
    f.toString
  }

  private def schemaOf(table: String): String =
    spark.table(table).schema.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")

  test("csv ingest: whole-file inference, sanitize-derived table name") {
    val path = writeCsv("My Data File.csv", Seq(
      "id,name,score", "1,alice,9.5", "2,bob,8.25", "3,eve,7.0"))
    val res = Ingest.ingestFile(spark, path, "testsrc")
    assert(res.table == "testsrc.My_Data_File")
    assert(res.rows == 3)
    val df = spark.table("testsrc.My_Data_File")
    assert(df.schema("id").dataType.typeName == "integer")
    assert(df.schema("score").dataType.typeName == "double")
    spark.sql("DROP DATABASE testsrc CASCADE")
  }

  test("csv ingest with encryption: sensitive column becomes tokens, decryptable") {
    val key = graft.crypto.Fernet.generateKey()
    val path = writeCsv("people.csv", Seq("name,city", "John,Oslo", "Jane,Lima"))
    val res = Ingest.ingestFile(spark, path, "testsrc2",
      IngestOptions(anonymize = true, sensitiveColumns = Seq("name")),
      encryptionKey = Some(key))
    val df = spark.table(res.table)
    val names = df.select("name").collect().map(_.getString(0))
    assert(names.forall(n => n != "John" && n != "Jane"))
    val f = new graft.crypto.Fernet(key)
    assert(names.map(f.decryptString).sorted.sameElements(Array("Jane", "John")))
    // untouched column intact
    assert(df.select("city").collect().map(_.getString(0)).sorted
      .sameElements(Array("Lima", "Oslo")))
    spark.sql("DROP DATABASE testsrc2 CASCADE")
  }

  test("append mode accumulates (overwrite-then-append, not per-chunk replace)") {
    val p1 = writeCsv("t1.csv", Seq("a,b", "1,x"))
    val p2 = writeCsv("t1.csv", Seq("a,b", "2,y"))
    Ingest.ingestFile(spark, p1, "testsrc3", IngestOptions(tableName = Some("acc")))
    Ingest.ingestFile(spark, p2, "testsrc3", IngestOptions(tableName = Some("acc")),
      mode = org.apache.spark.sql.SaveMode.Append)
    assert(spark.table("testsrc3.acc").count() == 2)
    spark.sql("DROP DATABASE testsrc3 CASCADE")
  }

  test("the reported row count is the rows this file wrote, also under append") {
    val path = writeCsv("own.csv", Seq("a,b", "1,x", "2,y"))
    val counts = Seq(SaveMode.Overwrite, SaveMode.Append, SaveMode.Append)
      .map(m => Ingest.ingestFile(spark, path, "testsrc6", mode = m).rows)
    assert(counts == Seq(2L, 2L, 2L))
    assert(spark.table("testsrc6.own").count() == 6)
    spark.sql("DROP DATABASE testsrc6 CASCADE")
  }

  test("run(): same-table inputs are loaded in input order, never concurrently") {
    val first = writeCsv("same.csv", Seq("a,b", "1,x"))
    val second = writeCsv("same.csv", Seq("a,b", "2,y", "3,z"))
    val other = writeCsv("other.csv", Seq("a,b", "4,w"))

    val appended = Ingest.run(spark, Seq(first, other, second), "testsrc7",
      mode = SaveMode.Append)
    assert(appended.map(_.get.rows) == Seq(1L, 1L, 2L))
    assert(appended.map(_.get.url) == Seq(first, other, second))
    assert(spark.table("testsrc7.same").count() == 3)

    // overwrite: the second input would silently replace the first
    val overwritten = Ingest.run(spark, Seq(first, other, second), "testsrc8")
    assert(overwritten(0).get.rows == 1 && overwritten(1).get.rows == 1)
    val e = overwritten(2).failed.get
    assert(e.getMessage.contains("table same") && e.getMessage.contains(first))
    assert(spark.table("testsrc8.same").select("a").collect().map(_.getInt(0)).toSeq == Seq(1))
    spark.sql("DROP DATABASE testsrc7 CASCADE")
    spark.sql("DROP DATABASE testsrc8 CASCADE")
  }

  test("csv reader: a quoted field may span lines, as in pandas.read_csv") {
    val path = writeText("multi.csv", "id,note,amount\n1,\"two\nlines\",9.5\n2,plain,8.25\n")
    val res = Ingest.ingestFile(spark, path, "readersrc")
    assert(res.rows == 2)
    assert(schemaOf(res.table) == "id:int,note:string,amount:double")
    val rows = spark.table(res.table).orderBy("id").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("two\nlines", "plain"))
    assert(rows.map(_.getDouble(2)).toSeq == Seq(9.5, 8.25))
    spark.sql("DROP DATABASE readersrc CASCADE")
  }

  test("csv reader: CRLF line endings and a trailing blank line") {
    val path = writeText("crlf.csv", "id,name\r\n1,alice\r\n2,bob\r\n\r\n")
    val res = Ingest.ingestFile(spark, path, "readersrc2")
    assert(res.rows == 2)
    assert(schemaOf(res.table) == "id:int,name:string")
    assert(spark.table(res.table).orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("alice", "bob"))
    spark.sql("DROP DATABASE readersrc2 CASCADE")
  }

  test("csv reader: a UTF-8 byte-order mark is not part of the first column name") {
    val path = writeText("bom.csv", "\uFEFFid,name\n1,alice\n")
    val res = Ingest.ingestFile(spark, path, "readersrc3")
    assert(res.rows == 1)
    assert(schemaOf(res.table) == "id:int,name:string")
    spark.sql("DROP DATABASE readersrc3 CASCADE")
  }

  test("csv reader: a header-only file loads 0 rows with an all-string schema") {
    val path = writeText("empty.csv", "id,name,amount\n")
    val res = Ingest.ingestFile(spark, path, "readersrc4")
    assert(res.rows == 0)
    assert(spark.table(res.table).count() == 0)
    assert(schemaOf(res.table) == "id:string,name:string,amount:string")
    spark.sql("DROP DATABASE readersrc4 CASCADE")
  }

  test("csv ingest runs at most 3 Spark jobs: header probe, inference, write") {
    val path = writeCsv("jobs.csv", Seq("id,name", "1,alice", "2,bob"))
    val sc = spark.sparkContext
    val group = "ingest-job-count"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "one ingestFile call")
      try Ingest.ingestFile(spark, path, "jobsrc")
      finally sc.clearJobGroup()
      org.apache.spark.ListenerBusTestAccess.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get() >= 1, "the listener saw none of the ingest's jobs")
    assert(jobs.get() <= 3, s"${jobs.get()} jobs")
    spark.sql("DROP DATABASE jobsrc CASCADE")
  }

  test("run() honors append mode (the CLI --append path)") {
    val p1 = writeCsv("acc2.csv", Seq("a,b", "1,x"))
    val p2 = writeCsv("acc2.csv", Seq("a,b", "2,y"))
    Ingest.run(spark, Seq(p1), "testsrc5")
    Ingest.run(spark, Seq(p2), "testsrc5",
      mode = org.apache.spark.sql.SaveMode.Append)
    assert(spark.table("testsrc5.acc2").count() == 2)
    spark.sql("DROP DATABASE testsrc5 CASCADE")
  }

  test("multi-file run: failures collected per-file, not fatal") {
    val good = writeCsv("ok.csv", Seq("x,y", "1,2"))
    val results = Ingest.run(spark, Seq(good, "/nonexistent/file.csv"), "testsrc4")
    assert(results.count(_.isSuccess) == 1)
    assert(results.count(_.isFailure) == 1)
    spark.sql("DROP DATABASE IF EXISTS testsrc4 CASCADE")
  }

  test("xlsx ingest: dispatch + round-trip + typing (round 7, README-claim closure)") {
    val dir = Files.createTempDirectory("graft-xlsx-test")
    val path = dir.resolve("Sales Data-2024.xlsx").toString
    graft.etl.Xlsx.write(
      Seq("id", "amount", "city"),
      Seq(Seq[Any](1L, 9.5, "Oslo"),
        Seq[Any](2L, 8.25, "Lima"),
        Seq[Any](3L, 7.0, null)), // omitted cell → NULL
      path)
    // the extension dispatch must route .xlsx through the OOXML reader
    val res = Ingest.ingestFile(spark, path, "xlsxsrc")
    assert(res.table == "xlsxsrc.Sales_Data_2024")
    assert(res.rows == 3)
    val df = spark.table(res.table)
    assert(df.schema("id").dataType.typeName == "long")
    assert(df.schema("amount").dataType.typeName == "double")
    assert(df.schema("city").dataType.typeName == "string")
    val rows = df.orderBy(col("id")).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_.getDouble(1)).toSeq == Seq(9.5, 8.25, 7.0))
    assert(rows(0).getString(2) == "Oslo" && rows(2).isNullAt(2))
    spark.sql("DROP DATABASE xlsxsrc CASCADE")
  }

  test("xlsx ingest: colliding and empty header names are uniquified, not ambiguous") {
    val dir = Files.createTempDirectory("graft-xlsx-dup")
    val path = dir.resolve("dup.xlsx").toString
    // "Unit Price" and "Unit-Price" both sanitize to Unit_Price; the third
    // header is empty → falls back to its column ref
    graft.etl.Xlsx.write(
      Seq("Unit Price", "Unit-Price", null),
      Seq(Seq[Any](1L, 2L, "a"), Seq[Any](3L, 4L, "b")),
      path)
    val df = graft.etl.Xlsx.read(spark, path)
    assert(df.columns.toSeq == Seq("Unit_Price", "Unit_Price_2", "col_c"))
    assert(df.count() == 2)
  }

  test("xlsx ingest: legacy .xls still fails fast") {
    val e = intercept[UnsupportedOperationException](
      Ingest.ingestFile(spark, "/tmp/nope.xls", "x"))
    assert(e.getMessage.contains("BIFF"))
  }
}
