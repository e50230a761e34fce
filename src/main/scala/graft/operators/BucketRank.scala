package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The engine's one two-phase global order (SCALE.md "Top-k and windows").
  * A running total or rank over a global order — `sum(v) OVER (ORDER BY …)`,
  * `row_number()`, `ntile(k)` — or over a low-cardinality group key runs
  * each group in ONE task: at 100 TB the whole corpus sorts in one task per
  * group. [[Running]] computes the same values in four parallel steps:
  *
  *   1. the bucket column: a non-null value band of each row;
  *   2. per-(group, bucket) totals — an ordinary partial+final aggregate;
  *   3. exclusive prefix offsets (and group totals) over that small frame,
  *      broadcast back to the rows;
  *   4. a running window partitioned by (group, bucket) — the sorted span is
  *      one bucket, never a group — plus the bucket's offset.
  *
  * A rank is the running count of `1`; [[ntile]] turns a rank and its group
  * size into SQL NTILE's tile; [[select]] picks the rows at target ranks and
  * windows only the buckets that hold one. Rules:
  *   - rows are ordered by (bucket, `ord`), so `bucket` must be
  *     non-decreasing in `ord`'s first key to give `ord`'s order; a
  *     descending order passes a negated bucket;
  *   - `ord` is a total order inside a group (end it with a unique key);
  *   - running totals, offsets and group totals are BIGINT.
  * Property-checked against the single-partition window forms in
  * BucketRankSpec, which also fails on a hand-written copy of the offsets
  * step anywhere else in `src/main/scala`.
  */
object BucketRank {

  /** Inclusive running totals of `sums` (output name -> value) in (bucket,
    * `ord`) order inside `groups`. `apply(x)` returns every row of `x` plus,
    * for each sum `s`, the running total `s` and the group total `s_total`.
    * Two-step use, for a site that pins or re-reads the bucket frame:
    * `frame(x)` is that frame — `groups`, `__b` and per sum `s_bucket` (the
    * bucket's total), `s_off` (the total of the group's earlier buckets) and
    * `s_total` — and `apply(x, f)` joins any frame derived from it back (a
    * filtered frame keeps only the rows of its buckets).
    */
  final case class Running(groups: Seq[String], bucket: Column, ord: Seq[Column],
                           sums: (String, Column)*) {
    require(sums.nonEmpty, "Running needs at least one sum")
    private val keys = groups :+ "__b"

    def frame(x: DataFrame): DataFrame = {
      val w = Window.partitionBy(groups.map(col): _*).orderBy(col("__b")) // bucket-summary-sized frame
      val before = w.rowsBetween(Window.unboundedPreceding, -1)
      val all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val totals = sums.map { case (s, v) => sum(v).cast("long").as(s"${s}_bucket") }
      x.withColumn("__b", bucket).groupBy(keys.map(col): _*).agg(totals.head, totals.tail: _*)
        .select(col("*") +: sums.flatMap { case (s, _) =>
          val b = col(s"${s}_bucket")
          Seq(coalesce(sum(b).over(before), lit(0L)).as(s"${s}_off"), sum(b).over(all).as(s"${s}_total"))
        }: _*)
    }

    def apply(x: DataFrame, frame: DataFrame): DataFrame = {
      val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      x.withColumn("__b", bucket).join(broadcast(frame), keys)
        .select(col("*") +: sums.map { case (s, v) =>
          (col(s"${s}_off") + sum(v).over(w).cast("long")).as(s) }: _*)
        .drop("__b" +: sums.flatMap { case (s, _) => Seq(s"${s}_off", s"${s}_bucket") }: _*)
    }

    def apply(x: DataFrame): DataFrame = apply(x, frame(x))
  }

  /** SQL NTILE(k) of a 1-based `rank` among `n` rows: the first n % k tiles
    * get one extra row. BIGINT.
    */
  def ntile(rank: Column, n: Column, k: Int): Column = {
    def div(a: Column, b: Column) = call_function("div", a, b)
    val big = div(n, lit(k)) + 1 // rows in each of the first n % k tiles
    val head = (n % k) * big     // rows those tiles hold
    when(rank <= head, div(rank - 1, big) + 1)
      .otherwise(n % k + div(rank - head - 1, div(n, lit(k))) + 1)
      .cast("long")
  }

  /** Rows of `x` whose global rank within `group` (see [[Running]] for
    * `bucket` and `ord`) equals one of the `targets` rank expressions.
    * `targets` are integer Columns over the group-size column `__n` (e.g.
    * `expr("(__n + 1) div 2")`). Only the buckets that contain a target are
    * windowed. Output: the selected rows of `x` plus `__n` (the group size)
    * and `__grank` (the global rank).
    */
  def select(x: DataFrame, group: String, bucket: Column, ord: Seq[Column],
             targets: Seq[Column]): DataFrame = {
    val rank = Running(Seq(group), bucket, ord, "__grank" -> lit(1L))
    val off = col("__grank_off")
    val hit = rank.frame(x).withColumnRenamed("__grank_total", "__n")
      .filter(targets.map(k => off < k.cast("long") && k.cast("long") <= off + col("__grank_bucket"))
        .reduce(_ || _))
    rank(x, hit).filter(targets.map(k => col("__grank") === k.cast("long")).reduce(_ || _))
  }
}
