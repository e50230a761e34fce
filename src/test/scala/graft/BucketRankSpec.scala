package graft

import graft.operators.BucketRank
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** `BucketRank` is the engine's one two-phase global order: its running
  * totals, ranks, tiles and target-rank selections equal the
  * single-partition window forms on generated frames, and no other main
  * source writes the bucket-offset step by hand.
  */
class BucketRankSpec extends SparkSuite {

  /** One generated frame: rows (id, g, v, w); `width` None puts every row
    * in one bucket; `k` is the tile count.
    */
  private case class Case(rows: Seq[(Long, Int, Long, Long)], grouped: Boolean,
                          width: Option[Long], k: Int)

  // ids are unique, so (v, id) is a total order; v repeats (ties), both v
  // and w go negative, and width 3 over [-60, 60] leaves empty buckets
  private val genCase: Gen[Case] = for {
    n <- Gen.frequency(1 -> Gen.const(1), 6 -> Gen.choose(2, 40))
    grouped <- Gen.oneOf(true, false)
    nGroups <- Gen.choose(1, 3)
    width <- Gen.oneOf(None, Some(3L), Some(10L))
    vs <- Gen.listOfN(n, Gen.choose(-60L, 60L))
    ws <- Gen.listOfN(n, Gen.choose(-9L, 9L))
    gs <- Gen.listOfN(n, Gen.choose(0, nGroups - 1))
    k <- Gen.choose(1, 7)
  } yield Case(vs.indices.map(i => (i.toLong, gs(i), vs(i), ws(i))), grouped, width, k)

  private def agrees(c: Case): Boolean = {
    import spark.implicits._
    val df = c.rows.toDF("id", "g", "v", "w").repartition(3)
    val groups = if (c.grouped) Seq("g") else Nil
    val bucket = c.width.fold(lit(0L))(wd => floor(col("v") / wd))
    val ord = Seq(col("v"), col("id"))
    val got = BucketRank.Running(groups, bucket, ord, "cum" -> col("w"), "rank" -> lit(1L))(df)
      .select(col("id"), col("cum"), col("rank"),
        BucketRank.ntile(col("rank"), col("rank_total"), c.k), col("cum_total"), col("rank_total"))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val part = Window.partitionBy(groups.map(col): _*)
    val w = part.orderBy(ord: _*)
    val spec = df.coalesce(1)
      .select(col("id"),
        sum(col("w")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        row_number().over(w).cast("long"), ntile(c.k).over(w).cast("long"),
        sum(col("w")).over(part), count(lit(1)).over(part))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    // select: the first, the lower-median and the last rank of each group
    val withG = if (c.grouped) df else df.withColumn("g", lit(0))
    val picked = BucketRank.select(withG, "g", bucket, ord,
        Seq(lit(1L), expr("(__n + 1) div 2"), col("__n")))
      .select(col("id"), col("__grank")).collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val specPicked = withG.coalesce(1)
      .withColumn("rn", row_number().over(Window.partitionBy(col("g")).orderBy(ord: _*)).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
      .filter(col("rn") === 1 || col("rn") === expr("(n + 1) div 2") || col("rn") === col("n"))
      .select(col("id"), col("rn")).collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    got == spec && picked == specPicked
  }

  test("running total, rank, ntile and select equal the single-partition windows") {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25),
      Prop.forAll(genCase)(agrees))
    assert(res.passed, res.status.toString)
  }

  // ------------------------------------------------------- source guard
  // The bucket-offset step: an exclusive running sum over the bucket frame
  // (`rowsBetween(…, -1)`, SQL `1 PRECEDING`) broadcast back onto the rows.
  private val forbidden = Seq("broadcast(off", "unboundedPreceding, -1)", "1 PRECEDING")

  // Windows that match a pattern but are no bucket frame, by file and
  // enclosing member. `…Oracle` members are DuckDB SQL replays of the plain
  // window and always pass.
  private val exempt: Map[(String, String), String] = Map(
    ("Dedup.scala", "substringDupCoverage") -> "per-doc frame: the previous gram's end inside one doc",
    ("Dedup.scala", "q296SubstringAdmission") -> "per-doc frame: the previous gram's end inside one doc",
    ("Dedup.scala", "q328DedupFunnel") -> "per-doc frame: the previous gram's end inside one doc",
    ("Temporal.scala", "q217AsofTolerance") -> "per-user frame: the prior view of one user",
    ("EventAnalytics.scala", "intervalCoverage") -> "per-user frame: the previous interval end of one user",
    ("EventAnalytics.scala", "q172LastTouchAttribution") -> "per-user frame: the last touch of one user",
    ("EventAnalytics.scala", "q196EventsBetweenPurchases") -> "per-user frame: purchases before the event of one user",
    ("EventAnalytics.scala", "q200MarketingReadout") -> "per-user frame: the previous event of one user",
    ("EventAnalytics.scala", "sessionizeSkewSafe") -> "per-user frame: sessions in the user's earlier chunks",
    ("EventAnalytics.scala", "q258LateArrivalAudit") -> "prefix MAX over minute chunks, not a sum",
    ("Relational.scala", "q170SkylinePareto") -> "prefix MAX over price buckets, not a sum",
    ("Similarity.scala", "ivfTopKFiltered") -> "per-query running list size over the K probed centroids")

  private val memberDecl =
    """^  (?:(?:private|protected|override|lazy|final)(?:\[\w+\])? )*(?:def|val) (\w+)""".r

  /** Lines of `file` that hold a forbidden pattern outside an exemption. */
  private def offenses(file: String, lines: Seq[String]): Seq[(String, String)] = {
    var member = ""
    lines.zipWithIndex.flatMap { case (l, i) =>
      memberDecl.findFirstMatchIn(l).foreach(m => member = m.group(1))
      if (forbidden.exists(l.contains) && !member.endsWith("Oracle"))
        Some(member -> s"$file:${i + 1} ($member): ${l.trim}")
      else None
    }
  }

  test("bucket offsets are computed only in BucketRank.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val hits = scala.collection.mutable.ArrayBuffer.empty[((String, String), String)]
    java.nio.file.Files.walk(root).forEach { p =>
      val fn = p.getFileName.toString
      if (fn.endsWith(".scala") && fn != "BucketRank.scala") {
        val lines = java.nio.file.Files.readAllLines(p).toArray(Array.empty[String]).toSeq
        hits ++= offenses(fn, lines).map { case (m, at) => (fn, m) -> at }
      }
    }
    val offenders = hits.filterNot(h => exempt.contains(h._1)).map(_._2)
    assert(offenders.isEmpty,
      s"bucket offsets written outside BucketRank.scala (use BucketRank.Running):\n${offenders.mkString("\n")}")
    val stale = exempt.keySet -- hits.map(_._1)
    assert(stale.isEmpty, s"exemptions with no matching site left (delete them): $stale")
  }

  test("source guard self-test: a planted offsets copy fails, an oracle replay passes") {
    val planted = Seq(
      "  def q1(spark: SparkSession, d: String): DataFrame = {",
      "    val w = Window.orderBy(col(\"b\")).rowsBetween(Window.unboundedPreceding, -1)",
      "    x.join(broadcast(offsets), \"b\")",
      "  val q1Oracle: String =",
      "    \"\"\"SELECT sum(v) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)\"\"\"")
    assert(offenses("Planted.scala", planted).map(_._1) === Seq("q1", "q1"))
  }
}
