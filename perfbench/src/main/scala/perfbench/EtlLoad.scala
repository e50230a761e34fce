package perfbench

import graft.crypto.Fernet
import graft.etl.{Ingest, IngestOptions, Warehouse}

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicLong
import scala.util.{Failure, Success}

/** The generated order files: the same seed gives the same rows and the same
  * bytes. Mixed types on purpose — int, long, two-decimal amounts, ISO
  * dates, quoted strings that contain commas, and empty (null) cells — so
  * CSV parsing and whole-file schema inference do real work.
  */
final class OrderFiles(seed: Long, val files: Int, val rowsPerFile: Int) {
  val Header = "id,customer,email,amount,qty,order_date,status,note,score"
  /** What `inferSchema` must produce for an un-anonymised file. */
  val Schema: StructType = StructType(Seq(
    StructField("id", IntegerType), StructField("customer", StringType),
    StructField("email", StringType), StructField("amount", DoubleType),
    StructField("qty", IntegerType), StructField("order_date", DateType),
    StructField("status", StringType), StructField("note", StringType),
    StructField("score", LongType)))
  val Sensitive: Seq[String] = Seq("customer", "email")
  private val Last = Array("Smith", "Jones", "Garcia", "Chen", "Okafor", "Novak", "Silva", "Kim")
  private val First = Array("Ada", "Ben", "Chloe", "Dev", "Eli", "Fay", "Gus", "Hana")
  private val Status = Array("new", "paid", "shipped", "returned")
  private val Notes = Array("rush, gift wrap", "call first, then ship", "leave at door", "fragile, handle with care")

  def name(k: Int): String = s"orders_$k.csv"
  def anonymised(k: Int): Boolean = k % 2 == 0

  /** Rows of file `k` as typed values in [[Schema]] order. */
  def rows(k: Int): IndexedSeq[Row] = cache.getOrElseUpdate(k, generate(k))
  private val cache = collection.mutable.Map.empty[Int, IndexedSeq[Row]]

  private def generate(k: Int): IndexedSeq[Row] = {
    val rnd = new java.util.SplittableRandom(seed * 7919L + k)
    val day0 = LocalDate.of(2019, 1, 1)
    (0 until rowsPerFile).map { i =>
      val id = k * rowsPerFile + i
      val last = Last(rnd.nextInt(Last.length))
      val first = First(rnd.nextInt(First.length))
      Row(id,
        if (rnd.nextInt(100) < 3) null else s"$last, $first",
        s"${first.toLowerCase}.${last.toLowerCase}$id@example.com",
        if (rnd.nextInt(100) < 2) null else rnd.nextLong(1L, 1000000L) / 100.0,
        if (rnd.nextInt(100) < 5) null else rnd.nextInt(1, 101),
        java.sql.Date.valueOf(day0.plusDays(rnd.nextInt(1826).toLong)),
        Status(rnd.nextInt(Status.length)),
        if (rnd.nextInt(100) < 10) null else s"${Notes(rnd.nextInt(Notes.length))} #${rnd.nextInt(1000)}",
        3000000000L + rnd.nextLong(6000000000L))
    }
  }

  private def cell(v: Any): String = v match {
    case null => ""
    case s: String if s.contains(",") => "\"" + s + "\""
    case d: Double => java.math.BigDecimal.valueOf(d).setScale(2).toPlainString
    case x => x.toString
  }

  def csv(k: Int): Array[Byte] = {
    val sb = new StringBuilder(Header).append('\n')
    rows(k).foreach(r => sb.append(r.toSeq.map(cell).mkString(",")).append('\n'))
    sb.toString.getBytes(UTF_8)
  }

  def writeAll(dir: Path): Long = {
    Files.createDirectories(dir)
    (0 until files).map { k => val b = csv(k); Files.write(dir.resolve(name(k)), b); b.length.toLong }.sum
  }
}

/** Serves the generated files over HTTP on the loopback interface, the way a
  * remote source feeds `graft.etl.Fetch`, and counts what it served.
  */
final class FileServer(dir: Path) {
  val requests = new AtomicLong()
  val bytes = new AtomicLong()
  val busyNs = new AtomicLong()
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 16)
  server.setExecutor(pool)
  server.createContext("/", ex => {
    val t0 = System.nanoTime()
    requests.incrementAndGet()
    try {
      val f = dir.resolve(ex.getRequestURI.getPath.stripPrefix("/"))
      if (Files.isRegularFile(f)) {
        val body = Files.readAllBytes(f)
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
        bytes.addAndGet(body.length.toLong)
      } else ex.sendResponseHeaders(404, -1)
    } finally {
      ex.close()
      busyNs.addAndGet(System.nanoTime() - t0)
    }
  })
  server.start()

  def url(file: String): String = s"http://127.0.0.1:${server.getAddress.getPort}/$file"

  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

/** The paper's own job. One pass: `Ingest.run` fetches and loads every file
  * (half of them with two Fernet-anonymised columns) into a fresh database,
  * then a fixed maintenance batch — UPDATE, DELETE, ALTER … RENAME COLUMN
  * through `Warehouse.runStatements`, and one `Warehouse.mergeIntoTable` —
  * rewrites one un-anonymised table.
  */
final class EtlLoad(spark: SparkSession, seed: Long, inputDir: Path, tracer: Tracer,
                    files: Int, rowsPerFile: Int) extends Workload {
  val data = new OrderFiles(seed, files, rowsPerFile)
  val key: String = Fernet.deriveKey(s"perfbench-$seed")
  val csvBytes: Long = data.writeAll(inputDir)
  val server = new FileServer(inputDir)
  private val target = 1 // the un-anonymised file the maintenance batch rewrites
  private val UpdateBefore = LocalDate.of(2020, 1, 1)
  private val DeleteBelow = 50.0
  private val deltaRows = rowsPerFile / 20
  private var passes = 0
  private var lastDb: Option[String] = None

  /** load and maintenance seconds of every recorded pass */
  val timings = collection.mutable.ArrayBuffer.empty[EtlLoad.PassTiming]

  def warmupPasses = 3

  def describe: Seq[(String, String)] = Seq("files" -> files.toString,
    "rows_per_file" -> rowsPerFile.toString, "csv_bytes" -> csvBytes.toString,
    "anonymised_files" -> (0 until files).count(data.anonymised).toString)

  private def table(db: String, k: Int) = s"$db.orders_$k"

  /** The maintenance batch's expected effect, applied to the generated rows. */
  private def afterUpdate(rows: Seq[Row]) = rows.map { r =>
    if (r.getDate(5).toLocalDate.isBefore(UpdateBefore))
      Row.fromSeq(r.toSeq.updated(6, "archived")) else r
  }
  private def afterDelete(rows: Seq[Row]) =
    rows.filterNot(r => !r.isNullAt(3) && r.getDouble(3) < DeleteBelow)
  private val renamed = StructType(data.Schema.fields.map(f =>
    if (f.name == "note") f.copy(name = "remark") else f))
  private lazy val delta: Seq[Row] = {
    val rnd = new java.util.SplittableRandom(seed * 31L + 17)
    (0 until deltaRows).map { i =>
      val id = if (i % 2 == 0) target * rowsPerFile + rnd.nextInt(rowsPerFile)
               else files * rowsPerFile + i
      Row(id, null, s"merged$i@example.com", (i % 500) + 0.25, i % 7 + 1,
        java.sql.Date.valueOf("2024-06-01"), "merged", s"delta $i", 5000000000L + i)
    }.groupBy(_.getInt(0)).values.map(_.head).toSeq.sortBy(_.getInt(0))
  }
  private def afterMerge(rows: Seq[Row]) = {
    val ids = delta.map(_.getInt(0)).toSet
    rows.filterNot(r => ids.contains(r.getInt(0))) ++ delta
  }
  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)

  /** One load + maintenance pass; `check` runs between its steps when given. */
  def pass(op: OpRunner, check: Option[Checks]): Unit = {
    passes += 1
    val db = s"load_$passes"
    val urls = (0 until files).map(k => server.url(data.name(k)))
    val optionsFor: String => IngestOptions = url =>
      if (data.anonymised(urls.indexOf(url))) IngestOptions(anonymize = true, sensitiveColumns = data.Sensitive)
      else IngestOptions()
    val t = table(db, target)
    val tPass = System.nanoTime()
    // the files are the counted operations; the call is timed as one
    val loaded = op.timed("load", "Ingest.run", "ingest", counted = false) {
      Ingest.run(spark, urls, db, optionsFor, encryptionKey = Some(key))
    }
    loaded.value match {
      case Some(results) => results.zipWithIndex.foreach {
        case (Success(_), k) => op.fileDone(data.name(k), ok = true)
        case (Failure(e), k) => op.fileDone(data.name(k), ok = false, Some(e))
      }
      case None => (0 until files).foreach(k => op.fileDone(data.name(k), ok = false))
    }
    check.foreach(c => checkLoad(c, db))

    // on traced passes, the rows each statement changed are read from the
    // table's own counts around it; these probes are kept out of the pass
    // time and of the layer totals
    val probing = tracer.on
    var probeS = 0.0
    def count(where: String): Long =
      if (!probing) 0L
      else {
        val t0 = System.nanoTime()
        try tracer("probe", "count")(spark.table(t).where(where).count())
        finally probeS += Util.seconds(t0)
      }
    var changed = 0L

    var dmlS = 0.0
    def stmt(label: String, sql: String): Unit =
      dmlS += op.timed("statement", label, "warehouse") { Warehouse.runStatements(spark, Seq(sql)) }.seconds
    val archived0 = count("status = 'archived'")
    stmt("update", s"UPDATE $t SET status = 'archived' WHERE order_date < DATE'$UpdateBefore'")
    changed += count("status = 'archived'") - archived0
    check.foreach(_.expect("update rows", afterUpdate(data.rows(target)).count(_.getString(6) == "archived"),
      spark.table(t).where("status = 'archived'").count()))
    val rows0 = count("true")
    stmt("delete", s"DELETE FROM $t WHERE amount < $DeleteBelow")
    changed += rows0 - count("true")
    check.foreach(_.expect("delete rows", afterDelete(afterUpdate(data.rows(target))).size.toLong,
      spark.table(t).count()))
    stmt("rename", s"ALTER TABLE $t RENAME COLUMN note TO remark")
    check.foreach(_.expectChecksum("rename", spark.table(t),
      frame(afterDelete(afterUpdate(data.rows(target))), renamed)))
    val deltaDf = spark.createDataFrame(java.util.Arrays.asList(delta: _*), renamed)
    // every delta row, matched or inserted, carries status 'merged'
    val merged0 = count("status = 'merged'")
    dmlS += op.timed("statement", "merge", "warehouse") {
      Warehouse.mergeIntoTable(spark, t, deltaDf, Seq("id"))
    }.seconds
    changed += count("status = 'merged'") - merged0
    check.foreach(_.expectChecksum("merge", spark.table(t),
      frame(afterMerge(afterDelete(afterUpdate(data.rows(target)))), renamed)))
    val results = loaded.value.getOrElse(Nil)
    if (op.recording) timings += EtlLoad.PassTiming(loaded.seconds, dmlS, results.count(_.isSuccess),
      results.map(_.map(_.rows).getOrElse(0L)).sum, changed, tracer.on)
    op.passDone(Util.seconds(tPass) - probeS)
    // the previous pass's database is no longer needed; dropping it here,
    // between passes, keeps the warehouse at two passes' worth of files
    lastDb.foreach(d => spark.sql(s"DROP DATABASE IF EXISTS $d CASCADE"))
    lastDb = Some(db)
  }

  private def checkLoad(c: Checks, db: String): Unit =
    for (k <- 0 until files) {
      val name = data.name(k)
      val df = spark.table(table(db, k))
      val src = data.rows(k)
      c.expect(s"$name rows", src.size.toLong, df.count())
      c.expect(s"$name schema", data.Schema.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","),
        df.schema.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","))
      val plainCols = if (data.anonymised(k)) data.Schema.fieldNames.filterNot(data.Sensitive.contains).toSeq
                      else data.Schema.fieldNames.toSeq
      val expected = frame(src, data.Schema)
      c.expectChecksum(s"$name plain columns", df.selectExpr(plainCols: _*), expected.selectExpr(plainCols: _*))
      if (data.anonymised(k)) {
        val codec = new Fernet(key)
        val sample = (0 until rowsPerFile by math.max(1, rowsPerFile / 25)).map(i => k * rowsPerFile + i)
        lazy val got = df.where(s"id in (${sample.mkString(",")})").select("id", data.Sensitive: _*).collect()
          .map(r => r.getInt(0) -> data.Sensitive.indices.map(j => Option(r.getString(j + 1)).map(codec.decryptString).orNull))
          .toMap
        lazy val want = sample.map(id => id -> data.Sensitive.map(s => src(id - k * rowsPerFile).getAs[String](data.Schema.fieldIndex(s)))).toMap
        def render(m: Map[Int, Seq[String]]) = m.toSeq.sortBy(_._1).map { case (id, v) => s"$id=${v.mkString("|")}" }.mkString(";")
        c.expect(s"$name decrypted sample", render(want), render(got))
      }
    }

  /** Cells one pass encrypts: the non-null sensitive cells of the anonymised files. */
  lazy val cellsPerPass: Long = (0 until files).filter(data.anonymised).map { k =>
    data.rows(k).map(r => data.Sensitive.count(c => !r.isNullAt(data.Schema.fieldIndex(c)))).sum.toLong
  }.sum

  /** Single-thread `Fernet.encryptString` over one pass's sensitive cells. */
  def encryptMicrosPerCell(): Double = {
    val codec = new Fernet(key)
    val cells = (0 until files).filter(data.anonymised).flatMap(k => data.rows(k))
      .flatMap(r => data.Sensitive.map(c => r.getAs[String](data.Schema.fieldIndex(c)))).filter(_ != null)
    cells.take(5000).foreach(codec.encryptString) // JIT warm-up
    val t0 = System.nanoTime()
    cells.foreach(codec.encryptString)
    (System.nanoTime() - t0) / 1e3 / cells.size
  }

  def close(): Unit = server.stop()
}

object EtlLoad {
  /** `filesLoaded`, `rows` and `rowsChanged` are what the engine reported
    * or the tables held; `rowsChanged` is taken on traced passes only.
    */
  final case class PassTiming(loadS: Double, dmlS: Double, filesLoaded: Int, rows: Long,
                              rowsChanged: Long, traced: Boolean)
}
