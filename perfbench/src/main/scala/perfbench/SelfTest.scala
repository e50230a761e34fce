package perfbench

import org.apache.spark.sql.functions.{col, concat, lit, monotonically_increasing_id, when}

import java.nio.file.{Files, Paths}

/** The benchmark's own tests, run by `python3 perfbench/run.py --selftest`:
  * seeded inputs reproduce exactly, and the output checks reject corrupted
  * outputs while tolerating floating-point summation order.
  */
object SelfTest {
  private var failures = 0

  private def assertThat(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val dataDir = Paths.get(m("data-dir"))
    val runDir = Paths.get(m("run-dir"))
    val benchDir = Paths.get(m("bench-dir"))

    // seeded inputs
    val a = new OrderFiles(7, 2, 500)
    assertThat("same seed gives byte-identical CSV files",
      (0 until 2).forall(k => java.util.Arrays.equals(a.csv(k), new OrderFiles(7, 2, 500).csv(k))))
    assertThat("another seed gives other CSV files",
      !java.util.Arrays.equals(a.csv(0), new OrderFiles(8, 2, 500).csv(0)))
    val queries = QueryWorkload.resolve(QueryWorkload.ExtOps)
    def order(seed: Long) = new QueryWorkload(null, "", seed, queries, Map.empty, null, None).order().map(_.name)
    assertThat("same seed gives the same query order", order(3) == order(3))
    assertThat("another seed gives another query order", order(3) != order(4))
    assertThat("an unknown query name stops the run",
      scala.util.Try(QueryWorkload.resolve(Seq("Relational" -> "q02_filter_projekt"))).isFailure)

    val spark = graft.core.SparkConfigs.localSession("perfbench-selftest", "2")
    spark.sparkContext.setLogLevel("ERROR")
    try {
      WarehouseData.ensure(spark, dataDir)
      val tracer = new Tracer(spark.sparkContext)

      // checksums: summation order tolerated, real differences caught
      import spark.implicits._
      val xs = Seq(0.1 + 0.2, 1e6 / 3, 0.0).toDF("x")
      val ys = Seq(0.3, 333333.33333333337, -0.0).toDF("x")
      assertThat("checksum ignores last-bit floating-point differences and -0.0",
        Checksum.of(xs) == Checksum.of(ys))
      assertThat("checksum ignores row order", Checksum.of(xs) == Checksum.of(xs.orderBy(col("x").desc)))
      assertThat("checksum sees a changed value", Checksum.of(xs) != Checksum.of(Seq(0.3, 333340.0, 0.0).toDF("x")))

      // a corrupted query output fails its recorded check
      val expected = QueryWorkload.readExpected(benchDir.resolve("expected/ext_ops.tsv"))
      val q = queries.find(_.name == "q256_quota_allocation").get
      def checked(df: org.apache.spark.sql.DataFrame): Seq[String] = {
        val c = new Checks(new OpRunner(tracer))
        val (rows, sum) = expected(q.name)
        val got = Checksum.of(df)
        c.expect("rows", rows, got.rows)
        c.expect("checksum", sum, got.sum)
        c.failures.toSeq
      }
      val good = q.fn(spark, dataDir.toString)
      assertThat("the recorded q256_quota_allocation output passes", checked(good).isEmpty)
      val last = good.schema.last
      val changed = last.dataType match {
        case _: org.apache.spark.sql.types.NumericType => col(last.name) + 1
        case _ => concat(col(last.name).cast("string"), lit("x")).cast(last.dataType)
      }
      val corrupted = good.withColumn("_i", monotonically_increasing_id())
        .withColumn(last.name, when(col("_i") === 0, changed).otherwise(col(last.name))).drop("_i")
      assertThat("a corrupted q256_quota_allocation output fails", checked(corrupted).nonEmpty)
      assertThat("a q256_quota_allocation output missing a row fails", checked(good.limit(good.count().toInt - 1)).nonEmpty)

      // a corrupted input cell fails the load checks; the clean load passes
      def etlFailures(corrupt: Boolean): Seq[String] = {
        val dir = runDir.resolve(if (corrupt) "bad" else "good")
        val etl = new EtlLoad(spark, 11, dir, tracer, 2, 2000)
        try {
          if (corrupt) {
            val f = dir.resolve(etl.data.name(1))
            val lines = new String(Files.readAllBytes(f), "UTF-8").split("\n", -1)
            val cells = lines(5).split(",", -1)
            cells(cells.length - 1) = (cells.last.toLong + 1).toString // the score column
            lines(5) = cells.mkString(",")
            Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
          }
          val op = new OpRunner(tracer)
          val c = new Checks(op)
          etl.pass(op, Some(c))
          c.failures.toSeq ++ op.errors
        } finally etl.close()
      }
      val clean = etlFailures(corrupt = false)
      assertThat(s"a clean load and maintenance batch pass every check ${clean.mkString("; ")}", clean.isEmpty)
      val bad = etlFailures(corrupt = true)
      assertThat(s"a corrupted input cell fails the load check (${bad.headOption.getOrElse("")})",
        bad.exists(_.contains("orders_1.csv plain columns")))
    } finally spark.stop()
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
