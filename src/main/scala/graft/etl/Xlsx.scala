package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** XLSX ingest WITHOUT a spreadsheet library — closing the reference's
  * README-claimed-but-uncoded format (README claims .xlsx at
  * /root/reference/README.md:69; the code feeds every URL to pd.read_csv,
  * /root/reference/pipeline.py:205, so SURVEY §0.1 kept CSV as the parity
  * target and this stays an optional extra format).
  *
  * An .xlsx file is a ZIP of OOXML parts (ECMA-376, public spec): the sheet
  * grid lives in `xl/worksheets/sheet1.xml`, string cell VALUES are
  * deduplicated into `xl/sharedStrings.xml` and referenced by index
  * (`t="s"`). So the reader is: `java.util.zip` to surface the two XML
  * parts, the Spark 4 XML source (the q93-exercised path) to parse the
  * sheet grid, a broadcast join against the K-row shared-string dictionary,
  * and a deterministic whole-table type pass (every value integral →
  * BIGINT, every value numeric → DOUBLE, else STRING — the same
  * whole-input-inference contract as the CSV reader, never per-chunk).
  *
  * Scale shape: one .xlsx is one driver-unzipped local file (the
  * reference's own ingest unit); the parse, dictionary join, pivot, and
  * type pass are all Spark plans. A 100 TB fleet of small .xlsx files
  * would lift the unzip into executors via the binaryFile source with the
  * identical per-file logic.
  */
object Xlsx {

  // ------------------------------------------------------------- writer
  /** Minimal OOXML writer (fixture/interchange side): one sheet, header
    * row, string cells deduplicated through sharedStrings, numeric cells
    * inline, null cells omitted — enough structure that reading it back
    * exercises every branch of [[read]].
    */
  def write(header: Seq[String], rows: Seq[Seq[Any]], path: String): Unit = {
    val shared = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def sharedIdx(s: String): Int =
      shared.getOrElseUpdate(s, shared.size)

    def colRef(i: Int): String = { // 0 -> A, 1 -> B, ... 26 -> AA
      var n = i + 1; val sb = new StringBuilder
      while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
      sb.toString
    }
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    def cellXml(rowNum: Int, colIdx: Int, v: Any): String = v match {
      case null => ""
      case None => ""
      case s: String => s"""<c r="${colRef(colIdx)}$rowNum" t="s"><v>${sharedIdx(s)}</v></c>"""
      case n => s"""<c r="${colRef(colIdx)}$rowNum"><v>$n</v></c>"""
    }
    val headerXml = header.zipWithIndex
      .map { case (h, i) => cellXml(1, i, h) }.mkString
    val bodyXml = rows.zipWithIndex.map { case (r, ri) =>
      val rowNum = ri + 2
      s"""<row r="$rowNum">${r.zipWithIndex.map { case (v, ci) => cellXml(rowNum, ci, v) }.mkString}</row>"""
    }.mkString
    val sheet =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
         |<sheetData><row r="1">$headerXml</row>$bodyXml</sheetData></worksheet>""".stripMargin
    val sst =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${shared.size}" uniqueCount="${shared.size}">
         |${shared.keys.map(s => s"<si><t>${esc(s)}</t></si>").mkString}</sst>""".stripMargin
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="xml" ContentType="application/xml"/>
        |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
        |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
        |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
        |<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
        |</Types>""".stripMargin
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
        |</Relationships>""".stripMargin
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin
    val wbRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>
        |</Relationships>""".stripMargin

    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(Paths.get(path)))
    try {
      def entry(name: String, content: String): Unit = {
        zos.putNextEntry(new java.util.zip.ZipEntry(name))
        zos.write(content.getBytes(UTF_8))
        zos.closeEntry()
      }
      entry("[Content_Types].xml", contentTypes)
      entry("_rels/.rels", rels)
      entry("xl/workbook.xml", workbook)
      entry("xl/_rels/workbook.xml.rels", wbRels)
      entry("xl/worksheets/sheet1.xml", sheet)
      entry("xl/sharedStrings.xml", sst)
    } finally zos.close()
  }

  // ------------------------------------------------------------- reader
  private def entryText(zf: java.util.zip.ZipFile, name: String): Option[String] =
    Option(zf.getEntry(name)).map { e =>
      val in = zf.getInputStream(e)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }

  /** sharedStrings.xml is an index-addressed dictionary, so ORDER is its
    * semantics — parsed with the JDK StAX pull parser (event order = file
    * order, guaranteed), not the distributed XML source (row order across
    * partitions is not a contract). It is K-row by construction
    * (deduplicated strings) and becomes a broadcast join side.
    */
  private[etl] def parseSharedStrings(xml: String): Seq[String] = {
    val f = javax.xml.stream.XMLInputFactory.newInstance()
    f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    val r = f.createXMLStreamReader(new java.io.StringReader(xml))
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var inSi = false
    val cur = new StringBuilder
    try {
      while (r.hasNext) {
        r.next() match {
          case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
            if (r.getLocalName == "si") { inSi = true; cur.clear() }
          case javax.xml.stream.XMLStreamConstants.CHARACTERS =>
            if (inSi) cur.append(r.getText)
          case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
            if (r.getLocalName == "si") { inSi = false; out += cur.toString }
          case _ =>
        }
      }
    } finally r.close()
    out.toSeq
  }

  /** Read one .xlsx as a typed DataFrame: header row 1 → column names
    * (sanitized through the reference's identifier rule), every later row
    * → one output row; whole-table deterministic typing.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val zf = new java.util.zip.ZipFile(path)
    val (sheetXml, sharedSeq) =
      try {
        val sheet = entryText(zf, "xl/worksheets/sheet1.xml").getOrElse(
          throw new IllegalArgumentException(s"$path: no xl/worksheets/sheet1.xml — not an xlsx?"))
        val shared = entryText(zf, "xl/sharedStrings.xml").map(parseSharedStrings).getOrElse(Nil)
        (sheet, shared)
      } finally zf.close()

    // surface the sheet grid for the Spark XML source (q93's parser)
    val dir = graft.core.Scratch.dir("xlsx_extract")
    val sheetPath = Paths.get(dir, s"sheet_${graft.core.Utils.pathDigest(path)}.xml")
    Files.write(sheetPath, sheetXml.getBytes(UTF_8))

    val cellSchema = StructType(Seq(
      StructField("_r", StringType),  // cell ref, e.g. "B3"
      StructField("_t", StringType),  // cell type ("s" = shared string)
      StructField("v", StringType)))
    val rowSchema = StructType(Seq(
      StructField("_r", LongType),
      StructField("c", ArrayType(cellSchema))))
    val rows = spark.read.format("xml")
      .option("rowTag", "row")
      .schema(rowSchema)
      .load(sheetPath.toString)

    val ss = spark.createDataFrame(
      sharedSeq.zipWithIndex.map { case (s, i) => (i.toLong, s) })
      .toDF("ss_idx", "ss_val")
    val cells = rows
      .select(col("_r").as("rownum"), explode(col("c")).as("cell"))
      .select(col("rownum"),
        regexp_extract(col("cell._r"), "^([A-Z]+)", 1).as("colref"),
        col("cell._t").as("ctype"), col("cell.v").as("v"))
      .withColumn("ss_idx",
        when(col("ctype") === "s", col("v").cast("long")))
      .join(broadcast(ss), Seq("ss_idx"), "left")
      .withColumn("value", coalesce(col("ss_val"), col("v")))
      .select(col("rownum"), col("colref"), col("value"))

    // header row = column names; a K-column collect is the schema decision,
    // the same contract as CSV inference reading the header line
    // Header naming guards. The column SET comes from every ref observed in
    // the sheet, not just row 1 — a missing or styled-but-empty header cell
    // must not silently drop its data column (fallback name col_<ref>). Two
    // headers that SANITIZE to the same identifier ("Unit Price"/
    // "Unit-Price") would collide into ambiguous aggregate aliases —
    // uniquify in spreadsheet order with _2/_3 suffixes so the select below
    // never hits AMBIGUOUS_REFERENCE. Both collects are K-sized (schema
    // decisions, the CSV-inference contract).
    val headerVals: Map[String, String] = cells.filter(col("rownum") === 1)
      .select(col("colref"), col("value")).collect() // K-sized: header row only, bound = one workbook's columns
      .flatMap(r => Option(r.getString(1)).map(r.getString(0) -> _)).toMap
    val allRefs: Seq[String] = cells.select(col("colref")).distinct().collect() // K-sized: distinct column refs, bound = one workbook
      .map(_.getString(0)).toSeq
      .sortBy(ref => (ref.length, ref)) // A..Z then AA.. — spreadsheet order
    require(allRefs.nonEmpty, s"$path: empty sheet")
    // uniquification checks the candidate against EVERY name assigned so
    // far, not just a per-base counter: headers sanitizing to a, a, a_2
    // would otherwise yield a, a_2, a_2 — reproducing the collision
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val assigned = scala.collection.mutable.Set.empty[String]
    val header: Seq[(String, String)] = allRefs.map { ref =>
      val base = headerVals.get(ref)
        .map(v => graft.core.Utils.sanitizeTableName(v + ".x"))
        .filter(_.nonEmpty)
        .getOrElse(s"col_${ref.toLowerCase}")
      var n = seen.getOrElse(base, 0) + 1
      var name = if (n == 1) base else s"${base}_$n"
      while (assigned(name)) { n += 1; name = s"${base}_$n" }
      seen(base) = n
      assigned += name
      ref -> name
    }

    val aggCols = header.map { case (ref, name) =>
      first(when(col("colref") === ref, col("value")), ignoreNulls = true).as(name)
    }
    val named = cells.filter(col("rownum") > 1)
      .groupBy(col("rownum"))
      .agg(aggCols.head, aggCols.tail: _*)

    // whole-table deterministic typing: BIGINT if every value integral,
    // DOUBLE if every value numeric, else STRING — one aggregate pass
    val intRe = "^-?\\d+$"
    val numRe = "^-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?$"
    // Column API, not expr(): a SQL string literal would eat the regex
    // backslashes ('\d' parses as 'd')
    val flagCols = header.flatMap { case (_, n) => Seq(
      bool_and(col(n).isNull || col(n).rlike(intRe)),
      bool_and(col(n).isNull || col(n).rlike(numRe)))
    }
    val flags = named.agg(flagCols.head, flagCols.tail: _*).first()
    val typed = header.zipWithIndex.map { case ((_, name), i) =>
      val isInt = !flags.isNullAt(2 * i) && flags.getBoolean(2 * i)
      val isNum = !flags.isNullAt(2 * i + 1) && flags.getBoolean(2 * i + 1)
      if (isInt) col(name).cast("bigint").as(name)
      else if (isNum) col(name).cast("double").as(name)
      else col(name)
    }
    named.select(typed: _*)
  }
}
