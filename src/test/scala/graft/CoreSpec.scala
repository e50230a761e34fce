package graft

import graft.core.{TypeMapping, Utils}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's unit tests 1:1
  * (/root/reference/tests/test_pipeline.py:33-45) plus ScalaCheck properties
  * the reference doesn't have (run through scalacheck's own runner — the
  * scalatest bridge isn't in the offline cache).
  */
class CoreSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  // --- reference test_sanitize_table_name (tests/test_pipeline.py:42-45)
  test("sanitize: reference cases") {
    assert(Utils.sanitizeTableName("Test-File 2020.csv") == "Test_File_2020")
    assert(Utils.sanitizeTableName("My/File:Name.txt") == "My_File_Name")
  }

  test("sanitize: edge cases") {
    assert(Utils.sanitizeTableName("_leading.csv") == "leading")
    assert(Utils.sanitizeTableName("noext") == "noext")
    assert(Utils.sanitizeTableName("a.b.c.csv") == "a_b_c")
    assert(Utils.sanitizeTableName("trailing.") == "trailing_") // ext regex needs >=1 char
  }

  test("sanitize: properties (charset, no leading underscore)") {
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      val out = Utils.sanitizeTableName(s)
      out.matches("[A-Za-z0-9_]*") && !out.startsWith("_")
    })
  }

  test("sanitize: idempotent when output has no trailing underscore") {
    check(Prop.forAll(Gen.alphaNumStr) { s =>
      val out = Utils.sanitizeTableName(s + ".csv")
      Utils.sanitizeTableName(out) == out
    })
  }

  // --- reference test_is_valid_url (tests/test_pipeline.py:33-40)
  test("isValidUrl: reference cases") {
    assert(Utils.isValidUrl("https://example.com"))
    assert(!Utils.isValidUrl("invalid-url"))
    assert(!Utils.isValidUrl(""))
    assert(!Utils.isValidUrl("ftp://example.com"))
  }

  test("isValidUrl: http ok, missing host rejected") {
    assert(Utils.isValidUrl("http://example.com/path?q=1"))
    assert(!Utils.isValidUrl("https://"))
    assert(!Utils.isValidUrl("file:///etc/passwd"))
  }

  test("parseUrlList: trim, drop empties, all-or-nothing") {
    assert(Utils.parseUrlList(" https://a.com , https://b.com ,")
      == Right(List("https://a.com", "https://b.com")))
    assert(Utils.parseUrlList("https://a.com, https://").isLeft)
    assert(Utils.parseUrlList("https://a.com, ftp://b.com/f.csv").isLeft)
    // a bare local path is not scheme-qualified, so it passes
    assert(Utils.parseUrlList("data/f.csv, https://a.com")
      == Right(List("data/f.csv", "https://a.com")))
  }

  test("filterSqlStatements: whitelist semantics") {
    val in = Seq(
      "CREATE TABLE t (a INT)", "  insert into t values (1)",
      "GRANT ALL ON t", "SELECT 1", "EXPLAIN SELECT 1", "VALUES (1)")
    assert(Utils.filterSqlStatements(in) ==
      Seq("CREATE TABLE t (a INT)", "  insert into t values (1)", "SELECT 1", "VALUES (1)"))
  }

  test("retry: retries then succeeds / exhausts") {
    var n = 0
    val out = Utils.retry(3, 1) { n += 1; if (n < 3) throw new RuntimeException("x"); 42 }
    assert(out == 42 && n == 3)
    var m = 0
    assertThrows[RuntimeException](Utils.retry(2, 1) { m += 1; throw new RuntimeException("y") })
    assert(m == 2)
  }

  test("type mapping: full 13-entry reference table, schema-level") {
    assert(TypeMapping.parseSourceType("INTEGER").contains(IntegerType))
    assert(TypeMapping.parseSourceType("text").contains(StringType))
    assert(TypeMapping.parseSourceType("REAL").contains(FloatType))
    assert(TypeMapping.parseSourceType("BLOB").contains(BinaryType))
    assert(TypeMapping.parseSourceType("DECIMAL(10,2)").contains(DecimalType.SYSTEM_DEFAULT))
    assert(TypeMapping.parseSourceType("TIMESTAMP").contains(TimestampType))
    assert(TypeMapping.sqliteToSpark.size == 13)
  }

  test("type mapping: values never touched (the reference bug we fix)") {
    // reference replaces type names inside data values (pipeline.py:134-140);
    // schema-level mapping cannot, by construction: it only sees field types.
    val schema = TypeMapping.schemaFromSource(Seq("ctx" -> "TEXT", "n" -> "INTEGER"))
    val ddl = TypeMapping.createTableDdl("s.t", schema)
    assert(ddl == """CREATE TABLE s.t ("ctx" VARCHAR, "n" INT)""")
  }

  test("warehouse type names round out") {
    assert(TypeMapping.toWarehouseTypeName(LongType) == "BIGINT")
    assert(TypeMapping.toWarehouseTypeName(BinaryType) == "VARBINARY")
    assert(TypeMapping.toWarehouseTypeName(DoubleType) == "DOUBLE")
  }

  test("schemaDrift: added, removed, and type-changed columns reported") {
    import TypeMapping._
    val expected = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val observed = StructType(Seq(
      StructField("id", LongType), StructField("score", StringType),
      StructField("extra", IntegerType)))
    val drift = schemaDrift(expected, observed)
    assert(drift == Seq(
      ColumnAdded("extra", "int"),
      ColumnRemoved("name", "string"),
      TypeChanged("score", "double", "string")))
    assert(schemaDrift(expected, expected).isEmpty)
  }

  test("githubRawUrl: blob/raw page links convert, everything else unchanged") {
    assert(Utils.githubRawUrl("https://github.com/o/r/blob/main/d/f.csv") ==
      "https://raw.githubusercontent.com/o/r/main/d/f.csv")
    assert(Utils.githubRawUrl("https://www.github.com/o/r/raw/v1.2/f.csv") ==
      "https://raw.githubusercontent.com/o/r/v1.2/f.csv")
    assert(Utils.githubRawUrl("http://github.com/o/r/blob/main/f.csv") ==
      "http://raw.githubusercontent.com/o/r/main/f.csv")
    // already-raw, non-github, tree pages, and local paths pass through
    Seq(
      "https://raw.githubusercontent.com/o/r/main/f.csv",
      "https://example.com/github.com/blob/x.csv",
      "https://github.com/o/r/tree/main/dir",
      "/local/path.csv"
    ).foreach(u => assert(Utils.githubRawUrl(u) == u))
  }

  test("interactive prompts: yes + column list / no skips the column prompt") {
    def opts(input: String) = graft.etl.PipelineMain.promptOptions("u",
      new java.io.BufferedReader(new java.io.StringReader(input)))
    val yes = opts("yes\nname, email\n")
    assert(yes.anonymize && yes.sensitiveColumns == Seq("name", "email"))
    val no = opts("no\n")
    assert(!no.anonymize && no.sensitiveColumns.isEmpty)
    val eof = opts("")
    assert(!eof.anonymize)
  }
}
