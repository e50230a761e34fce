package graft.operators

import graft.core.Pin._
import graft.functions.TextKeys._
import graft.sources.Tables

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Data-quality profiling — the first query anyone runs against a new
  * table, and the health check a 100 TB ingest pipeline runs per batch:
  * per-column null counts and distinct cardinalities in ONE pass over the
  * data (a single wide aggregate; Catalyst plans the multi-distinct via
  * Expand), melted to long form for reading. No per-column jobs, no
  * driver loops over columns — column count only widens the aggregate row.
  */
object Profiling {

  /** (column, n_nulls, n_distinct) per profiled column; `n_rows` repeated
    * on every row for ratio computation downstream.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
      count_if(col(c).isNull).as(s"__nulls__$c"),
      countDistinct(col(c)).as(s"__distinct__$c")))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.map(c =>
      struct(lit(c).as("column"),
        col(s"__nulls__$c").as("n_nulls"),
        col(s"__distinct__$c").as("n_distinct")))
    wide.select(col("__n").as("n_rows"), explode(array(entries: _*)).as("p"))
      .select(col("p.column").as("column"), col("n_rows"),
        col("p.n_nulls").as("n_nulls"), col("p.n_distinct").as("n_distinct"))
  }

  // ---------------------------------------------------------------- q81
  /** Profile of the customer table — deterministic counts → full oracle
    * (the oracle replays it as one grouped-aggregate per column UNION ALL).
    */
  val Q81Cols: Seq[String] = Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")

  def q81Profile(spark: SparkSession, d: String): DataFrame =
    profile(Tables.customer(spark, d), Q81Cols)
      .orderBy(col("column"))

  val q81Oracle: String = Q81Cols.map { c =>
    s"""SELECT '$c' AS "column", count(*) AS n_rows,
        count(*) FILTER (WHERE $c IS NULL) AS n_nulls,
        count(DISTINCT $c) AS n_distinct FROM customer"""
  }.mkString("", "\n UNION ALL\n", "\n ORDER BY \"column\"")

  // ---------------------------------------------------------------- q99
  /** Equi-width histogram (numeric binning): bucket = ⌊x / width⌋ computed
    * with one floor over a double divide — identical IEEE ops in both
    * engines, so bucket boundaries agree bit-for-bit. One partial+final
    * hash aggregate, no shuffle beyond the 20-row bucket merge: histograms
    * of a 100 TB column cost one scan. The per-bucket exact sum uses the
    * repo-wide DECIMAL(25,6) contract.
    */
  def histogram(df: DataFrame, valueCol: String, width: Double): DataFrame =
    df.groupBy(floor(col(valueCol) / width).as("bucket"))
      .agg(count(lit(1)).as("n"),
        graft.core.Exact.dsum(col(valueCol)).as("bucket_sum"))

  def q99Histogram(spark: SparkSession, d: String): DataFrame =
    histogram(Tables.orders(spark, d), "o_totalprice", 25000.0)
      .orderBy(col("bucket"))

  val q99Oracle: String =
    """SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
       count(*) AS n,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS bucket_sum
       FROM orders GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q114
  /** Data-quality constraint suite (the Deequ-style pre-ingest gate a
    * training pipeline runs before a snapshot is allowed into the corpus):
    * uniqueness, completeness, range, domain, and referential-integrity
    * checks, each reported as (check_name, n_violations, passed). Run
    * against a deterministically CORRUPTED snapshot so every check has
    * planted violations to find (all-zeros would certify nothing) — keys
    * divisible by 311 lose their custkey, by 137 their status, by 233 go
    * negative, by 500 duplicate. The whole suite is ONE pass: duplication
    * is planted by exploding a per-row copy count (no self-union, so the
    * fact table is scanned once, not once per union branch), the
    * referential check rides a broadcast LEFT join, and all five checks
    * are conditional aggregates of the same scan (round 4 ran each check
    * as its own aggregate — 10 orders scans in one plan; the q150 bug
    * class). Fully deterministic → full DuckDB oracle replaying the
    * corruption.
    */
  def q114DataQuality(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val corrupted = Tables.orders(spark, d)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 311 === 0, lit(null)).otherwise(col("o_custkey")).as("o_custkey"),
        when(col("o_orderkey") % 137 === 0, lit("X")).otherwise(col("o_orderstatus")).as("o_orderstatus"),
        when(col("o_orderkey") % 233 === 0, lit(-1.0d)).otherwise(col("o_totalprice")).as("o_totalprice"))
    // keys %500 appear twice: explode a copy counter instead of unioning a
    // second scan of the corrupted subtree
    val snap = corrupted
      .withColumn("__copy", explode(
        when(col("o_orderkey") % 500 === 0, sequence(lit(1), lit(2)))
          .otherwise(sequence(lit(1), lit(1)))))
      .drop("__copy")
    val agg = snap
      .join(broadcast(Tables.customer(spark, d).select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(
        count_if(col("o_custkey").isNull).as("custkey_complete"),
        count_if(col("o_custkey").isNotNull && col("c_custkey").isNull)
          .as("custkey_references_customer"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("orderkey_unique"),
        count_if(!col("o_orderstatus").isin("O", "F", "P")).as("status_in_domain"),
        count_if(col("o_totalprice") <= 0).as("totalprice_positive"))
    agg.select(expr(
        """stack(5,
             'custkey_complete', custkey_complete,
             'custkey_references_customer', custkey_references_customer,
             'orderkey_unique', orderkey_unique,
             'status_in_domain', status_in_domain,
             'totalprice_positive', totalprice_positive)
           AS (check_name, n_violations)"""))
      .withColumn("passed", col("n_violations") === 0L)
      .orderBy(col("check_name"))
  }

  val q114Oracle: String =
    """WITH c AS (
         SELECT o_orderkey,
           CASE WHEN o_orderkey % 311 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
           CASE WHEN o_orderkey % 137 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_orderkey % 233 = 0 THEN -1.0 ELSE o_totalprice END AS o_totalprice
         FROM orders),
       s AS (SELECT * FROM c UNION ALL SELECT * FROM c WHERE o_orderkey % 500 = 0),
       r AS (
         SELECT 'custkey_complete' AS check_name,
                CAST(count_if(o_custkey IS NULL) AS BIGINT) AS n_violations FROM s
         UNION ALL
         SELECT 'custkey_references_customer',
                CAST(count_if(o_custkey IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)) AS BIGINT) FROM s
         UNION ALL
         SELECT 'orderkey_unique',
                CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM s
         UNION ALL
         SELECT 'status_in_domain',
                CAST(count_if(o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT) FROM s
         UNION ALL
         SELECT 'totalprice_positive',
                CAST(count_if(o_totalprice <= 0) AS BIGINT) FROM s)
       SELECT check_name, n_violations, n_violations = 0 AS passed
       FROM r ORDER BY check_name"""

  // ---------------------------------------------------------------- q134
  /** Equi-depth (quantile) binning — the feature-bucketization step that
    * turns a numeric column into balanced categorical deciles. The naive
    * formulation is `ntile(10) OVER (ORDER BY …)`, which Spark executes in
    * ONE task for a global ordering; this operator computes the identical
    * result as a [[BucketRank]] rank over fixed-width value buckets, and
    * the ntile bucket falls out arithmetically (first n%k buckets take
    * ⌈n/k⌉ rows — the SQL-standard definition, so DuckDB's native ntile is
    * the independent spec it must equal). Total order ties break by
    * o_orderkey → bit-deterministic at any parallelism.
    */
  val Q134Tiles = 10

  def q134EquidepthBins(spark: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(spark, d).select(col("o_orderkey"), col("o_totalprice"))
    BucketRank.Running(Nil, floor(col("o_totalprice") / 25000.0),
        Seq(col("o_totalprice"), col("o_orderkey")), "rank" -> lit(1L))(o)
      .withColumn("decile", BucketRank.ntile(col("rank"), col("rank_total"), Q134Tiles))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"),
        graft.core.Exact.dsum(col("o_totalprice")).as("bin_sum"))
      .orderBy(col("decile"))
  }

  val q134Oracle: String =
    s"""WITH t AS (SELECT o_totalprice,
         CAST(ntile($Q134Tiles) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS decile
         FROM orders)
       SELECT decile, count(*) AS n, min(o_totalprice) AS lo,
         max(o_totalprice) AS hi,
         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS bin_sum
       FROM t GROUP BY decile ORDER BY decile"""

  // ---------------------------------------------------------------- q159
  /** Z-score outlier sweep — the numeric-drift check a nightly snapshot
    * gate runs: per monitored column, mean/σ from EXACT integer-cents
    * moments (the q53 discipline: long×long squares, DECIMAL(38,0) sums),
    * then one map-side pass counts |z| > 3 rows and records the extreme
    * z values. Two scans total regardless of column count (one moments
    * aggregate, one classify pass with the 1-row moments broadcast);
    * doubles derive through shared-text formulas → bit-exact, full
    * oracle. Columns that are legitimately heavy-tailed report high
    * counts — the point is the deterministic report, not a verdict.
    */
  private val q159Derived: Seq[(String, String)] = Seq(
    "mean_price" -> "s1 / n / 100.0",
    "sd_price" -> "sqrt((n * s2 - s1 * s1) / (n * (n - 1))) / 100.0")

  def q159ZscoreOutliers(spark: SparkSession, d: String): DataFrame = {
    val cents = Tables.orders(spark, d)
      .select(col("o_orderkey"), expr("cast(round(o_totalprice * 100) as bigint)").as("pc"))
    val m = cents.agg(
      expr("cast(count(*) as double)").as("n"),
      expr("cast(sum(cast(pc as decimal(38,0))) as double)").as("s1"),
      expr("cast(sum(cast(pc * pc as decimal(38,0))) as double)").as("s2"))
    cents.crossJoin(broadcast(m))
      .withColumn("z", expr(
        "(CAST(pc AS DOUBLE) / 100.0 - (s1 / n / 100.0)) / (sqrt((n * s2 - s1 * s1) / (n * (n - 1))) / 100.0)"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CASE WHEN abs(z) > 3.0 THEN 1 ELSE 0 END")).cast("long").as("n_outliers"),
        min(col("z")).as("min_z"), max(col("z")).as("max_z"))
      .crossJoin(broadcast(m.select(
        q159Derived.map { case (a, e) => expr(e).as(a) }: _*)))
  }

  val q159Oracle: String = {
    val derived = q159Derived.map { case (a, e) => s"$e AS $a" }.mkString(", ")
    s"""WITH c AS (SELECT cast(round(o_totalprice * 100) as bigint) AS pc FROM orders),
       m AS (SELECT cast(count(*) as double) AS n,
                    cast(sum(cast(pc as decimal(38,0))) as double) AS s1,
                    cast(sum(cast(pc * pc as decimal(38,0))) as double) AS s2
             FROM c),
       z AS (SELECT (CAST(pc AS DOUBLE) / 100.0 - (s1 / n / 100.0))
                    / (sqrt((n * s2 - s1 * s1) / (n * (n - 1))) / 100.0) AS z
             FROM c CROSS JOIN m)
       SELECT count(*) AS n_rows,
         CAST(sum(CASE WHEN abs(z) > 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         min(z) AS min_z, max(z) AS max_z, $derived
       FROM z CROSS JOIN m
       GROUP BY n, s1, s2"""
  }

  // ---------------------------------------------------------------- q168
  /** Count-min-sketch heavy hitters CERTIFIED against exact counts. The
    * d×w counter matrix is the streaming-frequency workhorse (O(d·w)
    * memory for unbounded streams); here it is built and then AUDITED in
    * one query: the top-20 exact tokens carry their CM estimate, the exact
    * overestimate it incurs, and the always-true lower-bound invariant
    * est ≥ exact (a CM estimate can only overcount — collisions add).
    *
    * The row hashes are md5-prefix based (`TextKeys.certifiedKey`)
    * rather than xxhash64 specifically so DuckDB can replay them — the
    * one hash family both engines compute bit-identically. Scale shape:
    * the sketch is built from the per-token EXACT counts (sum commutes
    * with cell assignment), so the cell matrix aggregates a
    * vocabulary-sized frame, not the corpus; cells (d·w rows) broadcast
    * onto the candidate probes. In streaming use the same cell aggregate
    * rides a `groupBy(r, c)` over the token stream.
    */
  val CmDepth = 3
  val CmWidth = 1024

  private def cmCell(i: Int, tokCol: String): Column =
    certifiedKey(concat(lit(s"$i#"), col(tokCol))) % CmWidth

  def q168CmHeavyHitters(spark: SparkSession, d: String): DataFrame = {
    val exact = Tables.documents(spark, d)
      .select(explode(words(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val cells = exact
      .select(explode(array((0 until CmDepth).map(i =>
        struct(lit(i).as("r"), cmCell(i, "tok").as("cx"), col("c"))): _*)).as("__e"))
      .select(col("__e.*"))
      .groupBy(col("r"), col("cx")).agg(sum(col("c")).as("cell_sum"))
    exact.orderBy(col("c").desc, col("tok")).limit(20)
      .select(col("tok"), col("c"),
        explode(array((0 until CmDepth).map(i =>
          struct(lit(i).as("r"), cmCell(i, "tok").as("cx"))): _*)).as("__p"))
      .select(col("tok"), col("c"), col("__p.*"))
      .join(broadcast(cells), Seq("r", "cx"))
      .groupBy(col("tok"), col("c"))
      .agg(min(col("cell_sum")).as("cm_est"))
      .select(col("tok"), col("c").as("exact_count"), col("cm_est"),
        (col("cm_est") - col("c")).as("overestimate"),
        (col("cm_est") >= col("c")).as("lower_bounded"))
      .orderBy(col("exact_count").desc, col("tok"))
  }

  val q168Oracle: String = {
    def cell(tok: String) =
      s"CAST(('0x' || substr(md5(i || '#' || $tok), 1, 15)) AS BIGINT) % $CmWidth"
    s"""WITH exact AS (
         SELECT tok, count(*) AS c FROM (
           SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         GROUP BY 1),
       cells AS (
         SELECT r, cx, CAST(sum(c) AS BIGINT) AS cell_sum FROM (
           SELECT i AS r, ${cell("tok")} AS cx, c
           FROM exact, generate_series(0, ${CmDepth - 1}) g(i))
         GROUP BY 1, 2),
       top AS (SELECT tok, c FROM exact ORDER BY c DESC, tok LIMIT 20),
       probes AS (
         SELECT tok, c, i AS r, ${cell("tok")} AS cx
         FROM top, generate_series(0, ${CmDepth - 1}) g(i)),
       est AS (
         SELECT tok, c, min(cell_sum) AS cm_est
         FROM probes JOIN cells USING (r, cx) GROUP BY 1, 2)
       SELECT tok, c AS exact_count, cm_est, cm_est - c AS overestimate,
              cm_est >= c AS lower_bounded
       FROM est ORDER BY exact_count DESC, tok"""
  }

  // ---------------------------------------------------------------- q174
  /** Histogram drift between two data slices — the distribution-shift gate
    * a training pipeline runs before mixing a new batch in (did this
    * crawl's price/length/score distribution move?). PSI and KL need logs
    * (libm-divergence across engines); the L1 histogram distance carries
    * the same signal in EXACT integers: equal-width bins on exact cents,
    * per-bin counts for both slices out of ONE conditional-aggregation
    * scan (no per-slice forked lineage — the q150 lesson), |Δ| per bin,
    * and the total L1 as a window over the bin-count-sized result. At
    * 100 TB: one scan, one |bins|-sized shuffle, nothing else.
    */
  def q174HistogramDrift(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .select(expr("cast(round(o_totalprice * 100) as bigint) div 5000000").as("bin"),
        expr("o_orderkey % 2").as("half"))
      .groupBy(col("bin"))
      .agg(expr("cast(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) as bigint)").as("n_even"),
        expr("cast(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) as bigint)").as("n_odd"))
      .withColumn("abs_diff", expr("abs(n_even - n_odd)"))
      .withColumn("total_l1",
        expr("cast(sum(abs_diff) over () as bigint)"))
      .orderBy(col("bin"))

  val q174Oracle: String =
    """WITH b AS (
         SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 5000000 AS bin,
                o_orderkey % 2 AS half
         FROM orders),
       h AS (
         SELECT bin,
           CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even,
           CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_odd
         FROM b GROUP BY 1)
       SELECT bin, n_even, n_odd, abs(n_even - n_odd) AS abs_diff,
              CAST(sum(abs(n_even - n_odd)) OVER () AS BIGINT) AS total_l1
       FROM h ORDER BY bin"""

  // ---------------------------------------------------------------- q341
  /** POPULATION STABILITY INDEX — the log-based drift measure q174
    * deliberately skipped in round 5 ("PSI and KL need logs —
    * libm-divergence across engines"), now safe under the µ-nat
    * quantized-ln discipline the LM/JSD family established (q228/q309):
    * one correctly-rounded ln per BIN (not per row) of an exact integer
    * ratio, rounded to µ-nats so partition order and libm last bits
    * cannot move the sum. Same bins and halves as q174 so the two gates
    * pair: per bin, PSI's (p−q)·ln(p/q) term with add-1 smoothing
    * (zero-count bins stay finite), the numerator (n_even+1)(N_odd+k) −
    * (n_odd+1)(N_even+k) kept as an exact BIGINT so each term's SIGN is
    * integer-exact (and term · ln ≥ 0 always, keeping the final division
    * non-negative — the truncating-div vs floor-div trap never opens).
    * Total PSI in nano-nats via one DECIMAL(38,0) division; the standard
    * thresholds (0.1 ≈ 10⁸ nano-nats "watch", 0.25 "act") apply
    * directly. One scan, |bins|-sized everything after.
    */
  def q341PsiDrift(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .select(expr("cast(round(o_totalprice * 100) as bigint) div 5000000").as("bin"),
        expr("o_orderkey % 2").as("half"))
      .groupBy(col("bin"))
      .agg(expr("cast(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) as bigint)").as("n_even"),
        expr("cast(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) as bigint)").as("n_odd"))
      .withColumn("ne", expr("cast(sum(n_even) over () as bigint)"))
      .withColumn("no", expr("cast(sum(n_odd) over () as bigint)"))
      .withColumn("k", expr("cast(count(1) over () as bigint)"))
      .withColumn("num", expr(
        "(n_even + 1) * (no + k) - (n_odd + 1) * (ne + k)"))
      .withColumn("lr_micro", expr(
        """cast(round(ln(cast((n_even + 1) * (no + k) as double)
           / cast((n_odd + 1) * (ne + k) as double)) * 1000000) as bigint)"""))
      .withColumn("psi_nano", expr(
        """cast(sum(cast(num as decimal(38,0)) * lr_micro) over () * 1000
           div (cast(ne + k as decimal(38,0)) * (no + k)) as bigint)"""))
      .select(col("bin"), col("n_even"), col("n_odd"), col("lr_micro"),
        col("psi_nano"))
      .orderBy(col("bin"))

  val q341Oracle: String =
    """WITH b AS (
         SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 5000000 AS bin,
                o_orderkey % 2 AS half
         FROM orders),
       h AS (
         SELECT bin,
           CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even,
           CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_odd
         FROM b GROUP BY 1),
       t AS (SELECT *,
               CAST(sum(n_even) OVER () AS BIGINT) AS ne,
               CAST(sum(n_odd) OVER () AS BIGINT) AS no,
               CAST(count(*) OVER () AS BIGINT) AS k
             FROM h),
       x AS (SELECT *,
               (n_even + 1) * (no + k) - (n_odd + 1) * (ne + k) AS num,
               CAST(round(ln(CAST((n_even + 1) * (no + k) AS DOUBLE)
                 / CAST((n_odd + 1) * (ne + k) AS DOUBLE)) * 1000000) AS BIGINT) AS lr_micro
             FROM t)
       SELECT bin, n_even, n_odd, lr_micro,
         CAST(sum(CAST(num AS HUGEINT) * lr_micro) OVER () * 1000
              // (CAST(ne + k AS HUGEINT) * (no + k)) AS BIGINT) AS psi_nano
       FROM x ORDER BY bin"""

  // ---------------------------------------------------------------- q343
  /** CUSUM CHANGE-POINT LOCALIZATION (Page 1954) — q174/q341 DETECT that
    * two slices drifted; CUSUM answers WHEN: the classic sequential
    * statistic over the daily revenue series, computed distributed via
    * its prefix-sum closed form instead of the sequential recurrence:
    * S_t = max(0, S_{t−1} + d_t) equals P_t − min(P_0..P_t) where P is
    * the running sum of deviations — so one running sum + one running
    * min replace the unparallelizable loop. Exactness: deviations are
    * scaled through by N days (d_t = N·x_t − T ∓ allowance, x in exact
    * cents, T = ΣX, allowance = T/100 ≈ 1% of a mean day), so CUSUM,
    * thresholds and ties are integer-exact. Both directions are kept
    * (upward surge and downward drop); alarm when CUSUM > T/20. The
    * readout is the localization: the 10 days with the largest upward
    * CUSUM (ties by day) with both statistics and the corpus-wide alarm
    * counts on every row. All windows run on the |days|-sized daily
    * frame (~2.4k rows — the date domain is fixed, independent of SF:
    * the q341 bins argument), after ONE orders scan.
    */
  def q343CusumChangepoint(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, d)
      .select(expr("CAST(o_orderdate AS DATE)").as("day"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("vc"))
      .groupBy(col("day"))
      .agg(expr("cast(sum(cast(vc as decimal(38,0))) as bigint)").as("x"))
    val wAll = Window.orderBy(col("day")) // |days|-sized daily frame
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wRun = Window.orderBy(col("day")) // |days|-sized daily frame
      .rowsBetween(Window.unboundedPreceding, 0)
    // pu/pd run in DECIMAL(38,0): DuckDB sums BIGINT windows in HUGEINT
    // internally, so only the Spark side would wrap under default
    // non-ANSI mode once nn·x prefix mass nears 2^63 (~SF 100 worst
    // case). Summing decimal terms and casting the finished prefix back
    // to BIGINT is value-identical wherever the result fits — i.e. at
    // every SF where the oracle's own final CAST is defined.
    val scored = daily
      .withColumn("nn", count(lit(1)).over(wAll))
      .withColumn("tt", expr("cast(sum(cast(x as decimal(38,0))) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) as bigint)"))
      .withColumn("term_u", expr("cast(nn as decimal(38,0)) * x - tt - tt div 100"))
      .withColumn("term_d", expr("cast(nn as decimal(38,0)) * x - tt + tt div 100"))
      .withColumn("pu", expr("cast(sum(term_u) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)"))
      .withColumn("pd", expr("cast(sum(term_d) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)"))
      .withColumn("cusum_up", expr("pu - least(min(pu) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), cast(0 as bigint))"))
      .withColumn("cusum_dn", expr("greatest(max(pd) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), cast(0 as bigint)) - pd"))
      .withColumn("n_alarm_up", expr("cast(sum(CASE WHEN cast(cusum_up as decimal(38,0)) * 20 > tt THEN 1 ELSE 0 END) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) as bigint)"))
      .withColumn("n_alarm_dn", expr("cast(sum(CASE WHEN cast(cusum_dn as decimal(38,0)) * 20 > tt THEN 1 ELSE 0 END) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) as bigint)"))
    scored.orderBy(col("cusum_up").desc, col("day").asc).limit(10)
      .select(col("day"), col("x"), col("cusum_up"), col("cusum_dn"),
        col("n_alarm_up"), col("n_alarm_dn"))
      .orderBy(col("cusum_up").desc, col("day").asc)
  }

  val q343Oracle: String =
    """WITH daily AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
         FROM orders GROUP BY 1),
       t AS (SELECT *, CAST(count(*) OVER () AS BIGINT) AS nn,
               CAST(sum(x) OVER () AS BIGINT) AS tt FROM daily),
       p AS (SELECT *,
               CAST(sum(nn * x - tt - tt // 100) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pu,
               CAST(sum(nn * x - tt + tt // 100) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pd
             FROM t),
       c AS (SELECT *,
               pu - least(CAST(min(pu) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT),
                 CAST(0 AS BIGINT)) AS cusum_up,
               greatest(CAST(max(pd) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT),
                 CAST(0 AS BIGINT)) - pd AS cusum_dn
             FROM p),
       a AS (SELECT *,
               CAST(sum(CASE WHEN cusum_up * 20 > tt THEN 1 ELSE 0 END) OVER () AS BIGINT) AS n_alarm_up,
               CAST(sum(CASE WHEN cusum_dn * 20 > tt THEN 1 ELSE 0 END) OVER () AS BIGINT) AS n_alarm_dn
             FROM c)
       SELECT day, x, cusum_up, cusum_dn, n_alarm_up, n_alarm_dn
       FROM a ORDER BY cusum_up DESC, day ASC LIMIT 10"""

  // ---------------------------------------------------------------- q176
  /** Median/MAD robust outlier gate — the outlier detector that still works
    * when the data is skewed enough to drag mean±3σ (q159) off the map:
    * per-group exact median, exact median absolute deviation, and the
    * count of rows beyond 1.5·MAD. Both medians are RANK-SELECTED physical
    * rows (the q61 rule — rn = (n+1) div 2 over a total order), so every
    * derived number is exact integer cents and both engines pick the same
    * rows. Three passes over the fact table (rank→median, rank→MAD,
    * classify), each with K-row broadcasts between — no self-joins;
    * rank-exact medians are inherently multi-pass, and K (groups) is tiny.
    * BOTH rank selections run in the BucketRank two-phase form ($1000
    * cents buckets): a 3-value group key would otherwise serialize each
    * rank pass into 3 whole-corpus sort tasks (the low-cardinality window
    * trap, SCALE.md). Round6Spec proves the two-phase selection equals the
    * plain window's on this call site.
    */
  def q176MadOutliers(spark: SparkSession, d: String): DataFrame = {
    val x = Tables.lineitem(spark, d).select(col("l_returnflag").as("g"),
      expr("cast(round(l_extendedprice * 100) as bigint)").as("c"),
      col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
    // `carry` re-emits already-computed per-group constants (the median,
    // during the MAD pass) so no second join against the median frame
    // re-embeds its lineage — that extra embed is what pushed the plan to
    // 4 lineitem scans before the ceiling test caught it
    def pickMiddle(df: DataFrame, ord: Column, out: String,
                   carry: Seq[String] = Nil): DataFrame =
      BucketRank.select(df, "g", bucket = floor(ord / lit(100000.0)).cast("long"),
          ord = Seq(ord, col("ok"), col("ln")),
          targets = Seq(expr("(__n + 1) div 2")))
        .groupBy(col("g"))
        .agg(min(ord).as(out),
          (min(col("__n")).as("n") +: carry.map(c => min(col(c)).as(c))): _*)
    // the 3-row median frame is read through `dev` on BOTH sides of the
    // MAD selection (bucket counts + rank join)
    val med = pickMiddle(x, col("c"), "m").pin(Rows(3))
    val dev = x.join(med.select(col("g"), col("m")), Seq("g"))
      .withColumn("dev", abs(col("c") - col("m")))
    val mad = pickMiddle(dev, col("dev"), "mad", carry = Seq("m"))
    x.join(broadcast(mad), Seq("g"))
      .groupBy(col("g"))
      .agg(min(col("n")).as("n_rows"),
        expr("CAST(min(m) AS DOUBLE) / 100.0").as("median_price"),
        expr("CAST(min(mad) AS DOUBLE) / 100.0").as("mad_price"),
        expr("cast(sum(CASE WHEN abs(c - m) * 2 > 3 * mad THEN 1 ELSE 0 END) as bigint)")
          .as("n_outliers"))
      .withColumnRenamed("g", "l_returnflag")
      .orderBy(col("l_returnflag"))
  }

  val q176Oracle: String =
    """WITH x AS (SELECT l_returnflag AS g,
                    CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
                    l_orderkey AS ok, l_linenumber AS ln FROM lineitem),
       r1 AS (SELECT g, c, ok, ln,
                row_number() OVER (PARTITION BY g ORDER BY c, ok, ln) AS rn,
                count(*) OVER (PARTITION BY g) AS n FROM x),
       med AS (SELECT g, min(c) AS m, min(n) AS n FROM r1
               WHERE rn = (n + 1) // 2 GROUP BY g),
       d AS (SELECT x.g, abs(x.c - med.m) AS dev, x.ok, x.ln
             FROM x JOIN med ON x.g = med.g),
       r2 AS (SELECT g, dev,
                row_number() OVER (PARTITION BY g ORDER BY dev, ok, ln) AS rn,
                count(*) OVER (PARTITION BY g) AS n FROM d),
       mad AS (SELECT r2.g, min(med.m) AS m, min(med.n) AS n, min(r2.dev) AS mad
               FROM r2 JOIN med ON r2.g = med.g
               WHERE r2.rn = (r2.n + 1) // 2 GROUP BY r2.g)
       SELECT x.g AS l_returnflag, min(mad.n) AS n_rows,
         CAST(min(mad.m) AS DOUBLE) / 100.0 AS median_price,
         CAST(min(mad.mad) AS DOUBLE) / 100.0 AS mad_price,
         CAST(sum(CASE WHEN abs(x.c - mad.m) * 2 > 3 * mad.mad THEN 1 ELSE 0 END)
              AS BIGINT) AS n_outliers
       FROM x JOIN mad ON x.g = mad.g GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q178
  /** Gini coefficient of spend concentration — "what share of revenue do
    * the biggest customers hold": G = Σ(2i−n−1)·xᵢ / (n·Σxᵢ) over
    * ascending-sorted per-customer spend. The classic form needs a GLOBAL
    * rank; computed here as a [[BucketRank]] rank of per-customer cents
    * totals over equal-width spend bands → global i without a single-task
    * window over the customer table. All moments are
    * DECIMAL(38,0)-exact (i·xᵢ products up to ~10²⁰); the final G is one
    * correctly-rounded division. One corpus exchange (orders→customers);
    * everything after runs on the per-customer aggregate.
    */
  def q178GiniConcentration(spark: SparkSession, d: String): DataFrame = {
    val s = Tables.orders(spark, d)
      .select(col("o_custkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("vc"))
      .groupBy(col("o_custkey"))
      .agg(expr("cast(sum(cast(vc as decimal(38,0))) as bigint)").as("sp"))
    BucketRank.Running(Nil, expr("sp div 100000000"), Seq(col("sp"), col("o_custkey")),
        "i" -> lit(1L))(s)
      .agg(count(lit(1)).as("n_customers"),
        expr("cast(sum(cast(sp as decimal(38,0))) as bigint)").as("total_cents"),
        expr("""CAST(sum((2 * cast(i as decimal(38,0)) - i_total - 1)
                        * cast(sp as decimal(38,0))) AS DOUBLE)""").as("num"))
      .select(col("n_customers"), col("total_cents"),
        expr("num / (CAST(n_customers AS DOUBLE) * CAST(total_cents AS DOUBLE))")
          .as("gini"))
  }

  val q178Oracle: String =
    """WITH s AS (SELECT o_custkey,
                    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sp
                  FROM orders GROUP BY 1),
       r AS (SELECT sp, o_custkey,
               row_number() OVER (ORDER BY sp, o_custkey) AS i,
               count(*) OVER () AS n FROM s)
       SELECT CAST(min(n) AS BIGINT) AS n_customers,
         CAST(sum(sp) AS BIGINT) AS total_cents,
         CAST(sum((2 * CAST(i AS HUGEINT) - n - 1) * sp) AS DOUBLE)
           / (CAST(CAST(min(n) AS BIGINT) AS DOUBLE)
              * CAST(CAST(sum(sp) AS BIGINT) AS DOUBLE)) AS gini
       FROM r"""

  // ---------------------------------------------------------------- q204
  /** Dispersion index (variance-to-mean ratio) of basket sizes — the
    * clumping diagnostic: ≈1 means Poisson-like independence, ≫1 means
    * bursty/clumped keys (and a join/agg skew risk — the statistical twin
    * of q188's max-based skew report). Per-basket counts reduce first;
    * the sample variance comes from exact integer moments (n·Σx²−(Σx)²)
    * with the final ratio derived by textually identical double formulas
    * in both engines.
    */
  def q204DispersionIndex(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("sz"))
      .groupBy()
      .agg(count(lit(1)).as("n_baskets"),
        expr("cast(sum(sz) as bigint)").as("n_items"),
        expr("cast(sum(sz * sz) as bigint)").as("s2"))
      .select(col("n_baskets"), col("n_items"),
        expr("""CAST(n_baskets * s2 - n_items * n_items AS DOUBLE)
                / CAST(n_baskets - 1 AS DOUBLE) / CAST(n_baskets AS DOUBLE)
                / (CAST(n_items AS DOUBLE) / CAST(n_baskets AS DOUBLE))""")
          .as("dispersion"))

  val q204Oracle: String =
    """WITH b AS (SELECT l_orderkey, count(*) AS sz FROM lineitem GROUP BY 1),
       m AS (SELECT count(*) AS n_baskets, CAST(sum(sz) AS BIGINT) AS n_items,
               CAST(sum(sz * sz) AS BIGINT) AS s2 FROM b)
       SELECT n_baskets, n_items,
         CAST(n_baskets * s2 - n_items * n_items AS DOUBLE)
           / CAST(n_baskets - 1 AS DOUBLE) / CAST(n_baskets AS DOUBLE)
           / (CAST(n_items AS DOUBLE) / CAST(n_baskets AS DOUBLE)) AS dispersion
       FROM m"""

  // ---------------------------------------------------------------- q214
  /** Pareto coverage — how many customers cover 80% of revenue (the 80/20
    * check q178's Gini summarizes into one number; this answers the
    * operational question behind it: how small is the head). The
    * descending cumulative-share scan is a [[BucketRank]] running sum over
    * negated spend bands (no single-task window over the customer table),
    * and the 80% test compares exact DECIMAL products ((cum−sp)·5 < tot·4)
    * so no float threshold exists. The oracle replays the plain-window
    * formulation — equality certifies the two-phase prefix sums.
    */
  def q214ParetoCoverage(spark: SparkSession, d: String): DataFrame = {
    val s = Tables.orders(spark, d)
      .select(col("o_custkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("vc"))
      .groupBy(col("o_custkey"))
      .agg(expr("cast(sum(cast(vc as decimal(38,0))) as bigint)").as("sp"))
    // descending spend order: the bucket is negated
    BucketRank.Running(Nil, expr("-(sp div 100000000)"), Seq(col("sp").desc, col("o_custkey")),
        "cum" -> col("sp"))(s)
      .agg(count(lit(1)).as("n_customers"),
        expr("""cast(sum(CASE WHEN (cast(cum as decimal(38,0)) - sp) * 5
                              < cast(cum_total as decimal(38,0)) * 4 THEN 1 ELSE 0 END) as bigint)""")
          .as("n_for_80pct"))
      .withColumn("share_of_customers",
        expr("CAST(n_for_80pct AS DOUBLE) / CAST(n_customers AS DOUBLE)"))
  }

  val q214Oracle: String =
    """WITH s AS (SELECT o_custkey,
                    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sp
                  FROM orders GROUP BY 1),
       r AS (SELECT sp,
               sum(sp) OVER (ORDER BY sp DESC, o_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(sp) OVER () AS tot, count(*) OVER () AS n FROM s)
       SELECT CAST(min(n) AS BIGINT) AS n_customers,
         CAST(sum(CASE WHEN (cum - sp) * 5 < tot * 4 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_for_80pct,
         CAST(CAST(sum(CASE WHEN (cum - sp) * 5 < tot * 4 THEN 1 ELSE 0 END) AS BIGINT)
              AS DOUBLE) / CAST(CAST(min(n) AS BIGINT) AS DOUBLE) AS share_of_customers
       FROM r"""

  // ---------------------------------------------------------------- q251
  /** k-ANONYMITY / l-DIVERSITY risk profile — the privacy-release audit
    * run before any table leaves the warehouse (Sweeney 2002; Machanavajjhala
    * 2007): rows are grouped by their quasi-identifier tuple (nation ×
    * account-balance band — the attributes an adversary can link from
    * public data), and the readout reports, for each candidate k, how
    * many QI groups fall below k and how many rows they expose, plus the
    * minimum group size, the minimum l (distinct sensitive values —
    * market segment — per group), and the count of fully homogeneous
    * groups (the l=1 attribute-disclosure case). The row a release gate
    * reads: "at k=5, X% of rows are re-identifiable".
    *
    * Scale shape: ONE pass over the table into the QI-group frame
    * (group-count-sized, pinned), then k-level expansion against a
    * broadcast 4-row k table and one broadcast 1-row total — no second
    * table scan, no window over the corpus.
    */
  def q251KAnonymity(spark: SparkSession, d: String): DataFrame = {
    val g = Tables.customer(spark, d)
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("CAST(floor(c_acctbal / 1000) AS BIGINT)").as("bal_band"))
      .groupBy(col("c_nationkey"), col("bal_band"))
      .agg(count(lit(1)).as("n"), countDistinct(col("c_mktsegment")).as("l"))
      .pin(SizedBy("QI-group")) // read by totals + k-level risk
    val tot = g.agg(expr("cast(sum(n) as bigint)").as("n_rows"),
      count(lit(1)).as("n_groups"),
      expr("cast(min(n) as bigint)").as("min_group_size"),
      expr("cast(min(l) as bigint)").as("l_min"),
      expr("cast(count_if(l < 2) as bigint)").as("n_homogeneous"))
    val ks = spark.range(1).selectExpr("explode(array(2L, 5L, 10L, 20L)) AS k")
    val risk = g.crossJoin(broadcast(ks))
      .groupBy(col("k"))
      .agg(expr("cast(count_if(n < k) as bigint)").as("n_groups_below"),
        expr("cast(coalesce(sum(CASE WHEN n < k THEN n END), 0) as bigint)")
          .as("n_rows_at_risk"))
    risk.crossJoin(broadcast(tot))
      .select(col("k"), col("n_groups"), col("n_groups_below"),
        col("n_rows_at_risk"),
        expr("round(CAST(n_rows_at_risk AS DOUBLE) / n_rows, 4)").as("pct_rows_at_risk"),
        col("min_group_size"), col("l_min"), col("n_homogeneous"))
      .orderBy(col("k"))
  }

  val q251Oracle: String =
    """WITH qi AS (SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band FROM customer),
       g AS (SELECT c_nationkey, bal_band, count(*) AS n,
               count(DISTINCT c_mktsegment) AS l FROM qi GROUP BY 1, 2),
       tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_groups,
                 CAST(min(n) AS BIGINT) AS min_group_size, CAST(min(l) AS BIGINT) AS l_min,
                 CAST(count_if(l < 2) AS BIGINT) AS n_homogeneous FROM g),
       ks AS (SELECT unnest([2, 5, 10, 20]) AS k),
       risk AS (SELECT ks.k, CAST(count_if(g.n < ks.k) AS BIGINT) AS n_groups_below,
                  CAST(coalesce(sum(g.n) FILTER (g.n < ks.k), 0) AS BIGINT) AS n_rows_at_risk
                FROM ks CROSS JOIN g GROUP BY 1)
       SELECT CAST(r.k AS BIGINT) AS k, t.n_groups, r.n_groups_below, r.n_rows_at_risk,
         round(CAST(r.n_rows_at_risk AS DOUBLE) / t.n_rows, 4) AS pct_rows_at_risk,
         t.min_group_size, t.l_min, t.n_homogeneous
       FROM risk r CROSS JOIN tot t ORDER BY k"""

  // ---------------------------------------------------------------- q302
  /** Hash-deterministic BOOTSTRAP — the confidence interval on a corpus
    * metric (mean tokens/doc here) without an RNG: resample b draws doc i
    * with multiplicity ~Poisson(1), the weight read off an inverse-CDF
    * table against the doc's md5-prefix hash of (b, doc_id) — the
    * thresholds are LITERAL ppm constants of the Poisson(1) CDF
    * (367879 / 735759 / 919699 / 981012 / 996340), so both engines
    * compare the same integers and every resample is reproducible on any
    * cluster (the q73 consistent-hash discipline applied to resampling).
    * All B=20 resamples ride ONE corpus scan (docs explode to (b, w)
    * pairs map-side; the shuffle is B rows of partial sums) — the
    * distributed-bootstrap shape that replaces B full passes at 100 TB.
    * Output: per-resample effective n and mean in ppm; the p5/p95 of the
    * 20 means is the CI (exact ranks 2 and 19 — derivable from the
    * frame). Full oracle.
    */
  def q302BootstrapCi(spark: SparkSession, d: String): DataFrame = {
    val b = Q302Resamples
    Tables.documents(spark, d)
      .select(col("doc_id"),
        size(words(col("text"))).cast("bigint").as("t"),
        explode(expr(s"sequence(1, $b)")).as("b"))
      .withColumn("h",
        certifiedKey(concat(col("b").cast("string"), lit("#"), col("doc_id").cast("string"))))
      .withColumn("u_ppm", expr("h % 1000000"))
      .withColumn("w", expr(
        """CASE WHEN u_ppm < 367879 THEN 0 WHEN u_ppm < 735759 THEN 1
                WHEN u_ppm < 919699 THEN 2 WHEN u_ppm < 981012 THEN 3
                WHEN u_ppm < 996340 THEN 4 ELSE 5 END"""))
      .groupBy(col("b"))
      .agg(expr("cast(sum(w) as bigint)").as("n_eff"),
        expr("cast(sum(w * t) as bigint)").as("sum_wt"))
      .withColumn("mean_tokens_ppm", expr("cast(sum_wt * 1000000 div n_eff as bigint)"))
      .select(col("b").cast("long").as("b"), col("n_eff"), col("sum_wt"),
        col("mean_tokens_ppm"))
      .orderBy(col("b"))
  }

  val Q302Resamples = 20

  val q302Oracle: String =
    s"""WITH x AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS t,
             unnest(range(1, ${Q302Resamples + 1})) AS b
           FROM documents),
       h AS (SELECT b, t,
               CAST(('0x' || substr(md5(CAST(b AS VARCHAR) || '#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                 % 1000000 AS u_ppm
             FROM x),
       w AS (SELECT b, t,
               CASE WHEN u_ppm < 367879 THEN 0 WHEN u_ppm < 735759 THEN 1
                    WHEN u_ppm < 919699 THEN 2 WHEN u_ppm < 981012 THEN 3
                    WHEN u_ppm < 996340 THEN 4 ELSE 5 END AS w
             FROM h)
       SELECT CAST(b AS BIGINT) AS b, CAST(sum(w) AS BIGINT) AS n_eff,
         CAST(sum(w * t) AS BIGINT) AS sum_wt,
         CAST(CAST(sum(w * t) AS BIGINT) * 1000000 // CAST(sum(w) AS BIGINT) AS BIGINT)
           AS mean_tokens_ppm
       FROM w GROUP BY b ORDER BY b"""

  // ---------------------------------------------------------------- q323
  /** CORPUS DATASHEET — the dataset-card stats block (Gebru et al.'s
    * datasheet, the numbers section) as one driven query: size, token
    * and char mass, language/source diversity, exact-duplicate mass,
    * central tendency (exact lower median tokens via the BucketRank
    * two-phase rank — no single-task window), long-doc share, and the
    * 3-gram diversity pair (distinct grams, cross-document grams — the
    * q270 df signal at datasheet granularity). Every value an exact
    * BIGINT in a uniform (metric, value) frame — the shape release
    * tooling diffs between corpus versions. Shape: ONE narrow per-doc
    * pass (pinned; text rides as an xxhash64 content key, never
    * shuffles) + one gram pass; medians and rollups read the pin.
    */
  def q323CorpusDatasheet(spark: SparkSession, d: String): DataFrame = {
    // r17: th/gk are INTERNAL — only group counts reach the output, so both
    // hash with xxhash64 (the engine's standing 64-bit content-key class,
    // same 2⁻⁶⁴ collision budget as the md5 prefixes; the oracle replays
    // md5 keys and the compared counts agree w.h.p. — the q183/q301 rule)
    val per = Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("source"),
        size(words(col("text"))).cast("bigint").as("nt"),
        col("n_chars").cast("long").as("nc"),
        internalKey(col("text")).as("th"))
      .pin(SizedBy("doc-count")) // narrow (5 longs/row)
    val m1 = per.agg(
      count(lit(1)).as("n_docs"),
      expr("cast(sum(nt) as bigint)").as("n_tokens"),
      expr("cast(sum(nc) as bigint)").as("n_chars_total"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      expr("cast(count_if(nt >= 100) as bigint)").as("n_docs_ge_100_tokens"),
      expr("cast(max(nt) as bigint)").as("max_tokens"))
    val dup = per.groupBy(col("th")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .agg(expr("cast(coalesce(sum(cnt), 0) as bigint)").as("n_exact_dup_docs"))
    val med = BucketRank.select(per.withColumn("__g", lit(1)), "__g",
        bucket = expr("nt div 64"), ord = Seq(col("nt"), col("doc_id")),
        targets = Seq(expr("(__n + 1) div 2")))
      .agg(expr("cast(max(nt) as bigint)").as("median_tokens"))
    val gAgg = Tables.documents(spark, d)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(wordGrams(col("w"), 3, internalKey)).as("gk"))
      .groupBy(col("gk")).agg(countDistinct(col("doc_id")).as("df"))
      .agg(count(lit(1)).as("n_distinct_3grams"),
        expr("cast(count_if(df >= 2) as bigint)").as("n_crossdoc_3grams"))
    m1.crossJoin(dup).crossJoin(med).crossJoin(gAgg)
      .select(expr(
        """stack(11,
             'n_docs', n_docs,
             'n_tokens', n_tokens,
             'n_chars_total', n_chars_total,
             'n_langs', n_langs,
             'n_sources', n_sources,
             'n_docs_ge_100_tokens', n_docs_ge_100_tokens,
             'max_tokens', max_tokens,
             'n_exact_dup_docs', n_exact_dup_docs,
             'median_tokens', median_tokens,
             'n_distinct_3grams', n_distinct_3grams,
             'n_crossdoc_3grams', n_crossdoc_3grams) as (metric, value)"""))
      .orderBy(col("metric"))
  }

  val q323Oracle: String =
    """WITH per AS (SELECT doc_id, lang, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
             CAST(n_chars AS BIGINT) AS nc,
             CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS th
           FROM documents),
       m1 AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(nt) AS BIGINT) AS n_tokens,
                CAST(sum(nc) AS BIGINT) AS n_chars_total,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                CAST(count(*) FILTER (nt >= 100) AS BIGINT) AS n_docs_ge_100_tokens,
                CAST(max(nt) AS BIGINT) AS max_tokens
              FROM per),
       dup AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_exact_dup_docs
               FROM (SELECT th, count(*) AS cnt FROM per GROUP BY 1) WHERE cnt >= 2),
       med AS (SELECT CAST(nt AS BIGINT) AS median_tokens FROM (
                 SELECT nt, row_number() OVER (ORDER BY nt, doc_id) AS r FROM per),
                 (SELECT count(*) AS n FROM per)
               WHERE r = (n + 1) // 2),
       g AS (SELECT substring(md5(array_to_string(w[p + 1 : p + 3], ' ')), 1, 16) AS gk,
               doc_id
             FROM (SELECT doc_id, w, CAST(unnest(range(0, len(w) - 2)) AS INTEGER) AS p
                   FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                         WHERE len(string_split(text, ' ')) >= 3))),
       ga AS (SELECT CAST(count(*) AS BIGINT) AS n_distinct_3grams,
                CAST(count(*) FILTER (df >= 2) AS BIGINT) AS n_crossdoc_3grams
              FROM (SELECT gk, count(DISTINCT doc_id) AS df FROM g GROUP BY 1))
       SELECT u.metric, u.value FROM (
         SELECT 'n_docs' AS metric, n_docs AS value FROM m1
         UNION ALL SELECT 'n_tokens', n_tokens FROM m1
         UNION ALL SELECT 'n_chars_total', n_chars_total FROM m1
         UNION ALL SELECT 'n_langs', n_langs FROM m1
         UNION ALL SELECT 'n_sources', n_sources FROM m1
         UNION ALL SELECT 'n_docs_ge_100_tokens', n_docs_ge_100_tokens FROM m1
         UNION ALL SELECT 'max_tokens', max_tokens FROM m1
         UNION ALL SELECT 'n_exact_dup_docs', n_exact_dup_docs FROM dup
         UNION ALL SELECT 'median_tokens', median_tokens FROM med
         UNION ALL SELECT 'n_distinct_3grams', n_distinct_3grams FROM ga
         UNION ALL SELECT 'n_crossdoc_3grams', n_crossdoc_3grams FROM ga) u
       ORDER BY u.metric"""

  // ---------------------------------------------------------------- q363
  /** Earth-mover (1-D Wasserstein) DISTRIBUTION drift per source — the
    * transport-metric companion to q341's PSI and q174's per-bin
    * histogram drift: PSI is bin-local (mass moved two bins or twenty
    * bins away scores the same), while EMD = Σ|cdf_p − cdf_q| over the
    * binned length axis charges mass by how FAR it moved — the number
    * that distinguishes "slightly longer documents" from "a bimodal new
    * crawl". Each source's document-length distribution (16 fixed
    * 256-char bins, capped — the q341 fixed-bins argument: the frame is
    * |sources|×16 regardless of corpus size) is compared against the
    * corpus-wide baseline in exact truncated-ppm mass units; the readout
    * is per-source EMD in ppm·bins and the largest single CDF gap.
    * One corpus scan into the (source, bin) frame; everything after runs
    * on K-sized frames with 16-row windows. Full oracle.
    */
  def q363EmdDrift(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binned = Tables.documents(spark, d)
      .select(col("source"), expr("least(n_chars div 256, 15)").as("bin"))
    // the corpus-wide histogram and total are rollups of the (source, bin)
    // cube
    val perSrc = binned.groupBy(col("source"), col("bin")).agg(count(lit(1)).as("c"))
      .pin(SizedBy("|sources|×16")) // count cube
    val srcTot = perSrc.groupBy(col("source")).agg(expr("cast(sum(c) as bigint)").as("n_docs"))
    val corpus = perSrc.groupBy(col("bin")).agg(expr("cast(sum(c) as bigint)").as("cc"))
    val tot = perSrc.agg(expr("cast(sum(c) as bigint)").as("nn"))
    val spine = srcTot
      .crossJoin(spark.range(16).select(col("id").as("bin"))) // sources × 16
    val w = Window.partitionBy(col("source")).orderBy(col("bin"))
    val cum = spine.join(perSrc, Seq("source", "bin"), "left").na.fill(0L, Seq("c"))
      .join(broadcast(corpus), Seq("bin"), "left").na.fill(0L, Seq("cc"))
      .crossJoin(broadcast(tot)) // 1-row corpus count
      .withColumn("gap", expr("c * 1000000 div n_docs - cc * 1000000 div nn"))
      .withColumn("cum_gap", abs(sum(col("gap")).over(w)))
    cum.groupBy(col("source"), col("n_docs"))
      .agg(expr("cast(sum(cum_gap) as bigint)").as("emd_ppm"),
        expr("cast(max(cum_gap) as bigint)").as("max_gap_ppm"))
      .orderBy(col("source"))
  }

  val q363Oracle: String =
    """WITH b AS (SELECT source, least(n_chars // 256, 15) AS bin FROM documents),
       ps AS (SELECT source, bin, count(*) AS c FROM b GROUP BY 1, 2),
       stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs FROM ps GROUP BY 1),
       corp AS (SELECT bin, count(*) AS cc FROM b GROUP BY 1),
       tot AS (SELECT count(*) AS nn FROM b),
       spine AS (SELECT s.source, s.n_docs, r.i AS bin FROM stot s, range(16) r(i)),
       cum AS (SELECT sp.source, sp.n_docs,
                 abs(sum(COALESCE(p.c, 0) * 1000000 // sp.n_docs
                   - COALESCE(c2.cc, 0) * 1000000 // t.nn)
                   OVER (PARTITION BY sp.source ORDER BY sp.bin)) AS cum_gap
               FROM spine sp
               LEFT JOIN ps p ON p.source = sp.source AND p.bin = sp.bin
               LEFT JOIN corp c2 ON c2.bin = sp.bin, tot t)
       SELECT source, n_docs, CAST(sum(cum_gap) AS BIGINT) AS emd_ppm,
         CAST(max(cum_gap) AS BIGINT) AS max_gap_ppm
       FROM cum GROUP BY 1, 2 ORDER BY source"""

  // ---------------------------------------------------------------- q369
  /** EWMA anomaly trend over the daily order series — the smoothed-
    * baseline detector between q124's rolling mean/σ and q343's CUSUM:
    * an exponentially weighted moving average reacts faster than a flat
    * window and, unlike CUSUM, tracks the level itself. The recurrence
    * S_t = ½x_t + ½S_{t−1} is kept EXACT by truncating the geometric
    * tail at 20 terms and never dividing inside the sum: the scaled form
    * Σ_{k=0..19} x_{t−k}·2^(19−k) is a pure integer (weights are powers
    * of two, the 21st term would carry weight < 10⁻⁶ of the first), and
    * the µ-normalized EWMA divides ONCE by the exact weight mass
    * 2²⁰−1. Deviation x_t·10⁶ − ewma_µ ranks the 10 most
    * above-baseline days. The 20 lagged terms are literal lag() columns
    * over the |days|-sized daily frame (the q343 argument — the date
    * domain is fixed, independent of SF) after ONE orders scan; early
    * days zero-pad exactly alike in both engines. Full oracle.
    */
  val Q369Terms = 20

  def q369EwmaTrend(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, d)
      .select(expr("CAST(o_orderdate AS DATE)").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("x"))
    val wD = Window.orderBy(col("day")) // |days|-sized frame (q343 argument)
    val scaled = (0 until Q369Terms)
      .map(k => coalesce(lag(col("x"), k).over(wD), lit(0L)) *
        lit(1L << (Q369Terms - 1 - k)))
      .reduce(_ + _)
    val mass = (1L << Q369Terms) - 1L
    daily
      .withColumn("nd", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("scaled", scaled)
      .withColumn("ewma_mu", expr(s"scaled * 1000000 div $mass"))
      .withColumn("dev_mu", expr("x * 1000000 - ewma_mu"))
      .orderBy(col("dev_mu").desc, col("day").asc).limit(10)
      .select(col("day"), col("x"), col("ewma_mu"), col("dev_mu"), col("nd").as("n_days"))
      .orderBy(col("dev_mu").desc, col("day").asc)
  }

  val q369Oracle: String = {
    val terms = (0 until Q369Terms)
      .map(k => s"COALESCE(lag(x, $k) OVER (ORDER BY day), 0) * ${1L << (Q369Terms - 1 - k)}")
      .mkString(" + ")
    val mass = (1L << Q369Terms) - 1L
    s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS x
                       FROM orders GROUP BY 1),
       s AS (SELECT day, CAST(x AS BIGINT) AS x,
               CAST(($terms) * 1000000 // $mass AS BIGINT) AS ewma_mu,
               CAST(count(*) OVER () AS BIGINT) AS n_days
             FROM daily)
       SELECT day, x, ewma_mu,
         CAST(x * 1000000 - ewma_mu AS BIGINT) AS dev_mu, n_days
       FROM s ORDER BY dev_mu DESC, day ASC LIMIT 10"""
  }

  // ---------------------------------------------------------------- q371
  /** Minimal-GENERALIZATION search for k-anonymity — the step q251's
    * risk profile feeds: q251 reports how re-identifiable a release is,
    * this finds the COARSEST-necessary generalization (the Samarati
    * lattice walk restricted to one attribute ladder): the account-
    * balance band widens through {$100, $250, $500, $1000} until every
    * band reaches k = 10, and the chosen width — the smallest that
    * satisfies k — rides every row (−1 when even the widest fails). The
    * interesting behavior is scale-dependent and real: more rows let a
    * FINER release satisfy the same k, so the chosen width tightens as
    * the table grows. Exact integers throughout: balances as cents
    * shifted nonnegative before the truncating band division (negative
    * balances would split a band between the two engines' division
    * conventions otherwise). ONE table scan evaluates the whole ladder:
    * each row explodes to its 4 candidate bands (a 4× map-side
    * expansion of one small column, not 4 scans), one groupBy builds
    * all four group frames, and the verdict windows run on the 4-row
    * ladder frame. Full oracle.
    */
  val Q371K = 10L
  val Q371Widths = Seq(10000L, 25000L, 50000L, 100000L) // cents

  def q371GeneralizationSearch(spark: SparkSession, d: String): DataFrame = {
    val widthsArr = Q371Widths.mkString("array(", ", ", ")")
    val rows = Tables.customer(spark, d)
      .select(expr("cast(round(c_acctbal * 100) as bigint) + 100000").as("bc"))
      .select(col("bc"),
        explode(expr(s"transform($widthsArr, w -> cast(w as bigint))")).as("w"))
    val groups = rows.groupBy(col("w"), expr("bc div w").as("band"))
      .agg(count(lit(1)).as("n"))
    val ladder = groups.groupBy(col("w"))
      .agg(count(lit(1)).as("n_groups"),
        expr("cast(min(n) as bigint)").as("min_group_size"),
        expr(s"cast(coalesce(sum(CASE WHEN n < $Q371K THEN n END), 0) as bigint)")
          .as("n_rows_at_risk"))
      .withColumn("satisfied", col("min_group_size") >= Q371K)
    val chosen = ladder
      .withColumn("chosen_width", expr(
        "min(CASE WHEN satisfied THEN w END) OVER ()")) // 4-row ladder frame
    chosen.select(expr("w div 100").as("width_cents"), col("n_groups"),
        col("min_group_size"), col("n_rows_at_risk"), col("satisfied"),
        expr("coalesce(chosen_width div 100, cast(-1 as bigint))").as("chosen_width_cents"))
      .orderBy(col("width_cents"))
  }

  val q371Oracle: String = {
    val widths = Q371Widths.map(w => s"($w)").mkString(", ")
    s"""WITH base AS (SELECT
           CAST(round(c_acctbal * 100) AS BIGINT) + 100000 AS bc FROM customer),
       ws(w) AS (VALUES $widths),
       g AS (SELECT ws.w, b.bc // ws.w AS band, count(*) AS n
             FROM base b, ws GROUP BY 1, 2),
       ladder AS (SELECT w, count(*) AS n_groups,
                    CAST(min(n) AS BIGINT) AS min_group_size,
                    CAST(coalesce(sum(n) FILTER (n < $Q371K), 0) AS BIGINT) AS n_rows_at_risk,
                    min(n) >= $Q371K AS satisfied
                  FROM g GROUP BY 1),
       ch AS (SELECT *, min(CASE WHEN satisfied THEN w END) OVER () AS cw FROM ladder)
       SELECT CAST(w // 100 AS BIGINT) AS width_cents,
         CAST(n_groups AS BIGINT) AS n_groups, min_group_size, n_rows_at_risk,
         satisfied, CAST(coalesce(cw // 100, -1) AS BIGINT) AS chosen_width_cents
       FROM ch ORDER BY width_cents"""
  }

  // ---------------------------------------------------------------- q373
  /** XmR (individuals / moving-range) CONTROL CHART over the daily order
    * series — the third classic SPC detector beside q343's CUSUM (drift)
    * and q369's EWMA (level): Shewhart limits x̄ ± 2.66·M̄R flag
    * individual out-of-control days, with the 2.66 constant the
    * standard d2-derived factor for n=2 moving ranges. Everything stays
    * exact-integer by CROSS-MULTIPLYING the limit test instead of
    * dividing: |x_t·N − Σx| · Nmr · 1000 > 2660 · ΣMR · N (N days, Nmr
    * = N−1 moving ranges) — no mean, no MRbar, no doubles. The moving
    * range is one lag() on the |days|-sized daily frame (the q343
    * argument) after ONE orders scan; readout = the 10 largest-
    * deviation days with the corpus-wide out-of-control count on every
    * row. Full oracle.
    */
  def q373XmrControlChart(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, d)
      .select(expr("CAST(o_orderdate AS DATE)").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("x"))
    val wD = Window.orderBy(col("day")) // |days|-sized frame (q343 argument)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val scored = daily
      .withColumn("mr", abs(col("x") - lag(col("x"), 1).over(wD)))
      .withColumn("nn", count(lit(1)).over(wAll))
      .withColumn("sx", sum(col("x")).over(wAll))
      .withColumn("smr", sum(col("mr")).over(wAll))
      .withColumn("nmr", count(col("mr")).over(wAll))
      .withColumn("dev_scaled", expr("abs(x * nn - sx) * nmr * 1000"))
      .withColumn("limit_scaled", expr("2660 * smr * nn"))
      .withColumn("out", col("dev_scaled") > col("limit_scaled"))
      .withColumn("n_out", expr(
        "cast(sum(CASE WHEN dev_scaled > limit_scaled THEN 1 ELSE 0 END) OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) as bigint)"))
    scored.orderBy(col("dev_scaled").desc, col("day").asc).limit(10)
      .select(col("day"), col("x"), col("dev_scaled"), col("limit_scaled"),
        col("out"), col("n_out"))
      .orderBy(col("dev_scaled").desc, col("day").asc)
  }

  val q373Oracle: String =
    """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS x
                      FROM orders GROUP BY 1),
       m AS (SELECT day, CAST(x AS BIGINT) AS x,
               abs(x - lag(x) OVER (ORDER BY day)) AS mr FROM daily),
       s AS (SELECT day, x,
               CAST(count(*) OVER () AS BIGINT) AS nn,
               CAST(sum(x) OVER () AS BIGINT) AS sx,
               CAST(sum(mr) OVER () AS BIGINT) AS smr,
               CAST(count(mr) OVER () AS BIGINT) AS nmr
             FROM m),
       c AS (SELECT day, x,
               CAST(abs(x * nn - sx) * nmr * 1000 AS BIGINT) AS dev_scaled,
               CAST(2660 * smr * nn AS BIGINT) AS limit_scaled
             FROM s),
       f AS (SELECT *, dev_scaled > limit_scaled AS out,
               CAST(sum(CASE WHEN dev_scaled > limit_scaled THEN 1 ELSE 0 END) OVER () AS BIGINT) AS n_out
             FROM c)
       SELECT day, x, dev_scaled, limit_scaled, out, n_out
       FROM f ORDER BY dev_scaled DESC, day ASC LIMIT 10"""

  // ---------------------------------------------------------------- q378
  /** BENFORD first-significant-digit audit over order totals — the classic
    * fabricated-data / upstream-bug detector the SPC family (q343/q369/
    * q373) can't express: naturally-generated multiplicative amounts put
    * ~30.1% of first digits at 1, and a generator that draws uniforms (or
    * a partner that invents rows) flattens the curve. Everything exact:
    * the first digit reads off the cents' decimal string (no logs on the
    * data side), observed shares are truncating-ppm, and the NINE expected
    * Benford masses are the integer literals round(log10(1+1/d)·10⁶) —
    * which sum to exactly 1 000 000, so the two distributions live on the
    * same integer simplex and the L1 distance needs no normalization. One
    * orders scan → 9-row frame; per-digit |obs−exp| plus the corpus L1 on
    * every row (0.06 = the conventional "conform" bound on MAD·9 scale
    * stays a consumer-side call). LEFT JOIN from the digit frame so an
    * absent digit (the strongest possible signal) still reports. Full
    * oracle.
    */
  def q378BenfordAudit(spark: SparkSession, d: String): DataFrame = {
    val digits = spark.range(1, 10)
      .select(col("id").cast("long").as("digit"),
        expr("CAST(element_at(array(301030,176091,124939,96910,79181,66947,57992,51153,45757), cast(id as int)) AS BIGINT)")
          .as("exp_ppm"))
    val obs = Tables.orders(spark, d)
      .select(expr("CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS BIGINT)")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
    val n = Tables.orders(spark, d).agg(count(lit(1)).as("nn"))
    val m = broadcast(digits).join(obs, Seq("digit"), "left")
      .na.fill(0L, Seq("cnt"))
      .crossJoin(broadcast(n)) // 1-row corpus count
      .select(col("digit"), expr("cast(cnt as bigint)").as("n"),
        expr("CAST(cnt * 1000000 div nn AS BIGINT)").as("obs_ppm"),
        col("exp_ppm"))
      .withColumn("dev_ppm", expr("CAST(abs(obs_ppm - exp_ppm) AS BIGINT)"))
    m.withColumn("total_dev_ppm", expr(
        "CAST(sum(dev_ppm) OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT)"))
      .orderBy(col("digit"))
  }

  val q378Oracle: String =
    """WITH c AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
                  FROM orders),
       nt AS (SELECT count(*) AS nn FROM c),
       o AS (SELECT digit, count(*) AS cnt FROM c GROUP BY 1),
       e AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
               (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
               (9, 45757)) t(digit, exp_ppm)),
       m AS (SELECT CAST(e.digit AS BIGINT) AS digit,
               CAST(coalesce(o.cnt, 0) AS BIGINT) AS n,
               CAST(coalesce(o.cnt, 0) * 1000000 // nn AS BIGINT) AS obs_ppm,
               CAST(e.exp_ppm AS BIGINT) AS exp_ppm
             FROM e LEFT JOIN o ON o.digit = e.digit CROSS JOIN nt)
       SELECT digit, n, obs_ppm, exp_ppm,
         CAST(abs(obs_ppm - exp_ppm) AS BIGINT) AS dev_ppm,
         CAST(sum(abs(obs_ppm - exp_ppm)) OVER () AS BIGINT) AS total_dev_ppm
       FROM m ORDER BY digit"""

  // ---------------------------------------------------------------- q379
  /** KMV (k-minimum-values) distinct-cardinality sketch, audited against
    * the exact count — the third cardinality estimator beside HLL (q10's
    * approx_count_distinct, q120's register merge, q312's streaming
    * monitor), and the one whose state is USABLE set samples rather than
    * opaque registers. Domain: distinct stride-4 8-char shingles per
    * source — the number that sizes a winnowing/MinHash fingerprint index
    * (q305/q316) and is genuinely expensive to count exactly at corpus
    * scale (the stride keeps the domain corpus-proportional at a quarter
    * of the hash cost — the sketch estimates whatever domain it is fed,
    * so the stride is a cost knob, not an accuracy one; 5.5→2.1 s at
    * sf0.1 measured). The
    * estimator path never builds the distinct set: dense_rank ≤ K over
    * the shingle-hash stream is Catalyst's WindowGroupLimit shape, so
    * each input partition forwards at most K distinct hashes per source
    * (map-side k-min merge — the KMV merge property expressed as a plan),
    * and est = (K−1)·2⁶⁰ div h_K in DECIMAL(38,0). The exact
    * count(DISTINCT) rides ONLY as the audit (at 100 TB you ship the
    * estimator; the audit certifies it at test scale). K=64 → expected
    * error ~1/√62 ≈ 13%. Full oracle replays hash, rank, and estimate.
    */
  val KmvK = 64

  def q379KmvDistinct(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = Tables.documents(spark, d)
      .select(col("source"), explode(expr(
        """CASE WHEN length(text) >= 8
           THEN transform(sequence(1, length(text) - 7, 4), i -> substring(text, i, 8))
           ELSE array() END""")).as("s"))
      .select(col("source"),
        certifiedKey(col("s")).as("hv"))
    val w = Window.partitionBy(col("source")).orderBy(col("hv").asc)
    val hk = sh.withColumn("dr", dense_rank().over(w))
      .filter(col("dr") <= lit(KmvK)).filter(col("dr") === lit(KmvK))
      .groupBy(col("source")).agg(max(col("hv")).as("h_k"))
    val exact = sh.groupBy(col("source"))
      .agg(countDistinct(col("hv")).as("n_exact"))
    exact.join(hk, "source")
      .withColumn("est_kmv", expr(
        s"CAST(CAST(${KmvK - 1} AS DECIMAL(38,0)) * 1152921504606846976 div h_k AS BIGINT)"))
      .withColumn("err_ppm", expr(
        "CAST(CAST(abs(est_kmv - n_exact) AS DECIMAL(38,0)) * 1000000 div n_exact AS BIGINT)"))
      .select(col("source"), col("n_exact"), col("h_k"), col("est_kmv"),
        col("err_ppm"))
      .orderBy(col("source"))
  }

  val q379Oracle: String =
    s"""WITH sh AS (SELECT source,
           CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS hv
         FROM (SELECT source, unnest(list_transform(
                 generate_series(1, greatest(len(text) - 7, 0), 4),
                 i -> substr(text, i, 8))) AS s FROM documents)),
       dd AS (SELECT DISTINCT source, hv FROM sh),
       r AS (SELECT source, hv,
               row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
             FROM dd),
       k AS (SELECT source, hv AS h_k FROM r WHERE rn = $KmvK),
       e AS (SELECT source, CAST(count(DISTINCT hv) AS BIGINT) AS n_exact
             FROM sh GROUP BY 1),
       m AS (SELECT e.source, e.n_exact, k.h_k,
               CAST(CAST(${KmvK - 1} AS HUGEINT) * 1152921504606846976 // k.h_k AS BIGINT) AS est_kmv
             FROM e JOIN k ON k.source = e.source)
       SELECT source, n_exact, h_k, est_kmv,
         CAST(CAST(abs(est_kmv - n_exact) AS HUGEINT) * 1000000 // n_exact AS BIGINT) AS err_ppm
       FROM m ORDER BY source"""

  // ---------------------------------------------------------------- q380
  /** Weekday SEASONAL-INDEX decomposition of the daily revenue series —
    * the adjustment every detector in the SPC family (q343/q369/q373)
    * silently needs: a Saturday that books 40% less than Monday is not an
    * anomaly, it's seasonality, and flagging raw deviations confounds the
    * two. Classical ratio-to-mean decomposition kept exact by never
    * materializing a mean: the weekday index is the cross-multiplied
    * ratio idx_w = (s_w·N_days·10⁶) div (n_w·s_tot) (weekday daily mean
    * over corpus daily mean, DECIMAL(38,0)), and each day's seasonally-
    * adjusted surprise is ratio_d = (rev_d·n_w·10⁶) div s_w — the day
    * against its OWN weekday's mean, so a strong Saturday ranks above a
    * merely-average Monday. One orders scan → |days| frame (the q343
    * argument); 7-row index; top-10 surprise days with the index extremes
    * riding every row. Full oracle.
    */
  def q380SeasonalIndex(spark: SparkSession, d: String): DataFrame = {
    // daily has three consumers; idx two (its extremes and the day join)
    val daily = Tables.orders(spark, d)
      .select(expr("CAST(o_orderdate AS DATE)").as("day"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      .groupBy(col("day")).agg(expr("cast(sum(cents) as bigint)").as("rev"))
      .withColumn("wd", expr("cast(dayofweek(day) - 1 as bigint)"))
      .pin(SizedBy("|days|")) // daily revenue frame
    val wdAgg = daily.groupBy(col("wd")).agg(count(lit(1)).as("n_w"),
      expr("cast(sum(rev) as bigint)").as("s_w"))
    val tot = daily.agg(count(lit(1)).as("n_days"),
      expr("cast(sum(rev) as bigint)").as("s_tot"))
    val idx = wdAgg.crossJoin(broadcast(tot)) // 1-row corpus totals
      .withColumn("idx_ppm", expr(
        "CAST(CAST(s_w AS DECIMAL(38,0)) * n_days * 1000000 div (CAST(n_w AS DECIMAL(38,0)) * s_tot) AS BIGINT)"))
      .pin(Rows(7)) // weekday indexes
    val iex = idx.agg(expr("cast(max(idx_ppm) as bigint)").as("max_idx_ppm"),
      expr("cast(min(idx_ppm) as bigint)").as("min_idx_ppm"))
    daily.join(idx.select(col("wd"), col("n_w"), col("s_w"), col("idx_ppm")), "wd")
      .withColumn("ratio_ppm", expr(
        "CAST(CAST(rev AS DECIMAL(38,0)) * n_w * 1000000 div s_w AS BIGINT)"))
      .crossJoin(broadcast(iex)) // 1-row index extremes
      .orderBy(col("ratio_ppm").desc, col("day").asc).limit(10)
      .select(col("day"), col("wd"), col("rev"), col("idx_ppm"),
        col("ratio_ppm"), col("max_idx_ppm"), col("min_idx_ppm"))
      .orderBy(col("ratio_ppm").desc, col("day").asc)
  }

  val q380Oracle: String =
    """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
         FROM orders GROUP BY 1),
       dd AS (SELECT day, rev, CAST(dayofweek(day) AS BIGINT) AS wd FROM daily),
       w AS (SELECT wd, CAST(count(*) AS BIGINT) AS n_w,
               CAST(sum(rev) AS BIGINT) AS s_w FROM dd GROUP BY 1),
       t AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(rev) AS BIGINT) AS s_tot FROM dd),
       i AS (SELECT wd, n_w, s_w,
               CAST(CAST(s_w AS HUGEINT) * n_days * 1000000 // (CAST(n_w AS HUGEINT) * s_tot) AS BIGINT) AS idx_ppm
             FROM w, t),
       x AS (SELECT CAST(max(idx_ppm) AS BIGINT) AS max_idx_ppm,
               CAST(min(idx_ppm) AS BIGINT) AS min_idx_ppm FROM i)
       SELECT dd.day, dd.wd, dd.rev, i.idx_ppm,
         CAST(CAST(dd.rev AS HUGEINT) * i.n_w * 1000000 // i.s_w AS BIGINT) AS ratio_ppm,
         x.max_idx_ppm, x.min_idx_ppm
       FROM dd JOIN i ON i.wd = dd.wd, x
       ORDER BY ratio_ppm DESC, day ASC LIMIT 10"""

  // ---------------------------------------------------------------- q388
  /** DIFFERENTIALLY-PRIVATE noisy release of the (event_type, day) count
    * table — the publishable-statistics member of the privacy family
    * (q251 k-anonymity measures re-identification risk, q371 picks the
    * generalization; this RELEASES counts under ε=1 Laplace): each cell
    * gets Laplace(1/ε) noise drawn DETERMINISTICALLY by inverse CDF on
    * the cell key's md5-uniform (the q302 hash-bootstrap discipline —
    * reproducible releases, and both engines replay the identical draw).
    * The draw stays in the exact lattice: u_ppm = h·10⁶ div 2⁶⁰,
    * centered c = u_ppm − 5·10⁵, noise_milli = −sign(c)·round(ln((10⁶ −
    * 2|c|)/10⁶)·1000) — one correctly-rounded ln of an exact integer
    * ratio per CELL (the µ-nat discipline), clamped one lattice step off
    * the ln(0) pole. Readout: the utility audit an operator actually
    * gates on — per type, cell count, L1 and max noise in milli-counts
    * (scale-free: noise is O(1) per cell while counts grow with SF, so
    * relative error vanishes at scale — the DP free lunch at 100 TB).
    * Top-10 noisiest cells ride along. Full oracle.
    */
  def q388DpRelease(spark: SparkSession, d: String): DataFrame = {
    val cells = Tables.events(spark, d)
      .groupBy(col("event_type"), expr("CAST(CAST(ts AS DATE) AS STRING)").as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("h", certifiedKey(concat(col("event_type"), lit("|"), col("day"))))
    val noisy = cells
      .withColumn("u_ppm", expr("CAST(h AS DECIMAL(38,0)) * 1000000 div 1152921504606846976"))
      .withColumn("c", expr("CAST(u_ppm - 500000 AS BIGINT)"))
      .withColumn("noise_milli", expr(
        """CAST(-sign(c) * round(ln(CAST(greatest(1000000 - 2 * abs(c), 1) AS DOUBLE)
           / 1000000.0) * 1000) AS BIGINT)"""))
    noisy.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_cells"),
        expr("cast(sum(abs(noise_milli)) as bigint)").as("l1_err_milli"),
        expr("cast(max(abs(noise_milli)) as bigint)").as("max_err_milli"),
        expr("cast(sum(x * 1000 + noise_milli) as bigint)").as("noisy_total_milli"),
        expr("cast(sum(x) as bigint)").as("true_total"))
      .select(col("event_type"), col("n_cells"), col("l1_err_milli"),
        col("max_err_milli"), col("noisy_total_milli"), col("true_total"))
      .orderBy(col("event_type"))
  }

  val q388Oracle: String =
    """WITH cells AS (SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
       h AS (SELECT *,
               CAST(('0x' || substr(md5(event_type || '|' || day), 1, 15)) AS BIGINT) AS hv
             FROM cells),
       n AS (SELECT event_type, x,
               CAST(CAST(hv AS HUGEINT) * 1000000 // 1152921504606846976 - 500000 AS BIGINT) AS c
             FROM h),
       nm AS (SELECT event_type, x,
               CAST(-sign(c) * round(ln(CAST(greatest(1000000 - 2 * abs(c), 1) AS DOUBLE)
                 / 1000000.0) * 1000) AS BIGINT) AS noise_milli
             FROM n)
       SELECT event_type, CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(abs(noise_milli)) AS BIGINT) AS l1_err_milli,
         CAST(max(abs(noise_milli)) AS BIGINT) AS max_err_milli,
         CAST(sum(x * 1000 + noise_milli) AS BIGINT) AS noisy_total_milli,
         CAST(sum(x) AS BIGINT) AS true_total
       FROM nm GROUP BY 1 ORDER BY event_type"""

  // ---------------------------------------------------------------- q395
  /** t-CLOSENESS release audit — the third rung of the privacy-risk
    * ladder (q251 k-anonymity: group sizes; its l-diversity: distinct
    * sensitive values; t-closeness: the sensitive DISTRIBUTION within a
    * group must stay close to the global one — a group can be large and
    * diverse yet still leak "this neighborhood is 90% BUILDING segment").
    * Same QI scheme as q251 (nationkey × $1000 balance band), sensitive =
    * market segment, distance = variational (½·L1 — the categorical
    * t-closeness metric): t_ppm per group = Σ_s |c_gs·N − c_s·n_g|·10⁶
    * div (2·n_g·N), one truncating div per group, everything else exact
    * cross-multiplied BIGINTs. Zero cells COUNT (a missing segment is
    * leakage), so the lattice is groups × broadcast segment frame, not
    * the observed pairs. Readout: the 10 worst groups with the release
    * verdict t_max riding every row. Full oracle.
    */
  def q395TCloseness(spark: SparkSession, d: String): DataFrame = {
    val rows = Tables.customer(spark, d)
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("CAST(floor(c_acctbal / 1000) AS BIGINT)").as("bal_band"))
    // the segment totals, group sizes and corpus total are rollups of the
    // (QI-group × segment) count cube; t has two consumers
    val cnt = rows.groupBy(col("c_nationkey"), col("bal_band"), col("c_mktsegment"))
      .agg(count(lit(1)).as("c_gs"))
      .pin(SizedBy("QI-group×segment")) // count cube
    val segs = cnt.groupBy(col("c_mktsegment"))
      .agg(expr("cast(sum(c_gs) as bigint)").as("c_s"))
    val grps = cnt.groupBy(col("c_nationkey"), col("bal_band"))
      .agg(expr("cast(sum(c_gs) as bigint)").as("n_g"))
    val tot = cnt.agg(expr("cast(sum(c_gs) as bigint)").as("nn"))
    val lattice = grps.crossJoin(broadcast(segs)) // segment frame is 5 rows
      .join(cnt, Seq("c_nationkey", "bal_band", "c_mktsegment"), "left")
      .na.fill(0L, Seq("c_gs"))
      .crossJoin(broadcast(tot)) // 1-row total
    val t = lattice.groupBy(col("c_nationkey"), col("bal_band"))
      .agg(expr("cast(max(n_g) as bigint)").as("n_g"),
        expr("""CAST(sum(abs(CAST(c_gs AS DECIMAL(38,0)) * nn - CAST(c_s AS DECIMAL(38,0)) * n_g)) * 1000000
               div (2 * CAST(max(n_g) AS DECIMAL(38,0)) * max(nn)) AS BIGINT)""")
          .as("t_ppm"))
      .pin(SizedBy("QI-group")) // t frame
    val mx = t.agg(expr("cast(max(t_ppm) as bigint)").as("t_max_ppm"),
      count(lit(1)).as("n_groups"))
    t.crossJoin(broadcast(mx)) // 1-row verdict
      .orderBy(col("t_ppm").desc, col("c_nationkey").asc, col("bal_band").asc)
      .limit(10)
      .select(col("c_nationkey"), col("bal_band"), col("n_g"), col("t_ppm"),
        col("t_max_ppm"), col("n_groups"))
      .orderBy(col("t_ppm").desc, col("c_nationkey").asc, col("bal_band").asc)
  }

  val q395Oracle: String =
    """WITH r AS (SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band FROM customer),
       cnt AS (SELECT c_nationkey, bal_band, c_mktsegment, count(*) AS c_gs
               FROM r GROUP BY 1, 2, 3),
       segs AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS c_s FROM r GROUP BY 1),
       grps AS (SELECT c_nationkey, bal_band, CAST(count(*) AS BIGINT) AS n_g
                FROM r GROUP BY 1, 2),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM r),
       lat AS (SELECT g.c_nationkey, g.bal_band, g.n_g, s.c_s, t.nn,
                 CAST(coalesce(c.c_gs, 0) AS BIGINT) AS c_gs
               FROM grps g CROSS JOIN segs s CROSS JOIN tot t
               LEFT JOIN cnt c ON c.c_nationkey = g.c_nationkey
                 AND c.bal_band = g.bal_band AND c.c_mktsegment = s.c_mktsegment),
       tg AS (SELECT c_nationkey, bal_band, CAST(max(n_g) AS BIGINT) AS n_g,
               CAST(sum(abs(CAST(c_gs AS HUGEINT) * nn - CAST(c_s AS HUGEINT) * n_g)) * 1000000
                 // (2 * CAST(max(n_g) AS HUGEINT) * max(nn)) AS BIGINT) AS t_ppm
             FROM lat GROUP BY 1, 2),
       mx AS (SELECT CAST(max(t_ppm) AS BIGINT) AS t_max_ppm,
                CAST(count(*) AS BIGINT) AS n_groups FROM tg)
       SELECT tg.c_nationkey, tg.bal_band, tg.n_g, tg.t_ppm, mx.t_max_ppm, mx.n_groups
       FROM tg, mx ORDER BY tg.t_ppm DESC, tg.c_nationkey ASC, tg.bal_band ASC
       LIMIT 10"""

  // ---------------------------------------------------------------- q397
  /** HLL SET-ALGEBRA intersection estimate, audited against the exact
    * overlap — the sketch-algebra layer above q312's single-set HLL: two
    * sketches MERGE into the union by register max (the HLL closure
    * property), so |A∩B| falls out by inclusion–exclusion est(A) +
    * est(B) − est(A∪B) with NO access to the raw sets — the cross-corpus
    * overlap question (q311 answers it exactly) at sketch cost. Domain:
    * stride-4 shingle-hash sets of 4 source pairs (measured ~31% overlap
    * — non-degenerate). Registers, d′ arithmetic, and the
    * linear-counting fallback are exactly q312's; the estimate stays in
    * exact DECIMAL(38,0) milli-units; the exact intersection rides as
    * the audit (at 100 TB you keep 64 registers per source, not the
    * sets). DECLARED SEMANTICS: the estimate is SIGNED — for
    * near-disjoint pairs inclusion–exclusion can legitimately go
    * negative (sketch error exceeds the true overlap), and the audit
    * reports that signed value rather than clamping to 0, because the
    * magnitude of the undershoot IS the error readout a capacity
    * planner needs (pinned on a planted disjoint pair in Round12Spec).
    * Full oracle replays registers, all three estimates, and the
    * subtraction.
    */
  def q397HllIntersection(spark: SparkSession, d: String): DataFrame = {
    val srcs = Seq("src0", "src1", "src2", "src3")
    // ONE shingle pass: the registers are duplicate-insensitive (per-bucket
    // max), so they derive from the exact audit's distinct (source, md) sets
    val hv = Tables.documents(spark, d)
      .filter(col("source").isin(srcs: _*))
      .select(col("source"), explode(expr(
        """CASE WHEN length(text) >= 8
           THEN transform(sequence(1, length(text) - 7, 4), i -> substring(text, i, 8))
           ELSE array() END""")).as("s"))
      .select(col("source"), expr("md5(s)").as("md")).distinct()
      .pin(SizedBy("shingle-set")) // the audit's exact distinct sets
    val sh = hv.select(col("source"),
        expr("CAST(conv(substring(md, 1, 2), 16, 10) AS BIGINT) % 64").as("bucket"),
        expr("CAST(61 - length(bin(CAST(conv(substring(md, 3, 15), 16, 10) AS BIGINT))) AS BIGINT)").as("rank"))
    val regs = sh.groupBy(col("source"), col("bucket")).agg(max(col("rank")).as("reg"))
      .pin(Rows(256, "4x64")) // register frame, read by 3 estimates
    import spark.implicits._
    val pairs = Seq(("src0", "src1"), ("src0", "src2"), ("src1", "src2"),
      ("src0", "src3")).toDF("sa", "sb")
    def estimate(grouped: DataFrame, keys: Seq[String], out: String): DataFrame =
      grouped
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("hit"),
          expr("cast(sum(cast(shiftleft(cast(1 as bigint), cast(60 - reg as int)) as decimal(38,0))) as decimal(38,0))").as("dh"))
        .withColumn("dp", expr("dh + cast(64 - hit as decimal(38,0)) * 1152921504606846976"))
        .withColumn("raw", expr("cast((cast(2904064 as decimal(38,0)) * 1152921504606846976) div dp as bigint)"))
        .withColumn(out, expr(
          """CASE WHEN raw <= 160000 AND hit < 64
               THEN cast(round(64 * ln(64.0 / (64 - hit)) * 1000) as bigint)
               ELSE raw END"""))
        .select((keys.map(col) :+ col(out)): _*)
    val estSingle = estimate(regs.withColumnRenamed("source", "src"), Seq("src"), "est_milli")
    val unionRegs = broadcast(pairs)
      .join(regs, col("source") === col("sa") || col("source") === col("sb"))
      .groupBy(col("sa"), col("sb"), col("bucket")).agg(max(col("reg")).as("reg"))
    val estU = estimate(unionRegs, Seq("sa", "sb"), "est_u_milli")
    val exact = broadcast(pairs)
      .join(hv.select(col("source").as("s1"), col("md")), col("s1") === col("sa"))
      .join(hv.select(col("source").as("s2"), col("md")), Seq("md"))
      .filter(col("s2") === col("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n_ex"))
    broadcast(pairs)
      .join(estSingle.select(col("src").as("sa"), col("est_milli").as("est_a_milli")), "sa")
      .join(estSingle.select(col("src").as("sb"), col("est_milli").as("est_b_milli")), "sb")
      .join(estU, Seq("sa", "sb"))
      // LEFT join: a fully disjoint pair has no exact-intersection row and
      // must still appear with n_exact_inter = 0 — the near-disjoint case
      // is exactly the one the signed estimate exists to surface
      // (Round12Spec plants it)
      .join(exact, Seq("sa", "sb"), "left")
      .withColumn("n_exact_inter", coalesce(col("n_ex"), lit(0L)))
      .withColumn("est_inter_milli",
        col("est_a_milli") + col("est_b_milli") - col("est_u_milli"))
      .select(col("sa"), col("sb"), col("n_exact_inter"), col("est_a_milli"),
        col("est_b_milli"), col("est_u_milli"), col("est_inter_milli"))
      .orderBy(col("sa"), col("sb"))
  }

  val q397Oracle: String =
    """WITH sh0 AS (SELECT source,
           md5(s) AS md
         FROM (SELECT source, unnest(list_transform(
                 generate_series(1, greatest(len(text) - 7, 0), 4),
                 i -> substr(text, i, 8))) AS s FROM documents
               WHERE source IN ('src0', 'src1', 'src2', 'src3'))),
       sh AS (SELECT source,
               CAST(('0x' || substr(md, 1, 2)) AS BIGINT) % 64 AS bucket,
               CAST(61 - len(bin(CAST(('0x' || substr(md, 3, 15)) AS BIGINT))) AS BIGINT) AS rank
             FROM sh0),
       regs AS (SELECT source, bucket, max(rank) AS reg FROM sh GROUP BY 1, 2),
       pairs AS (SELECT * FROM (VALUES ('src0', 'src1'), ('src0', 'src2'),
                 ('src1', 'src2'), ('src0', 'src3')) p(sa, sb)),
       est1 AS (SELECT source AS src,
                  count(*) AS hit,
                  sum(CAST(1 AS HUGEINT) << CAST(60 - reg AS INTEGER)) AS dh
                FROM regs GROUP BY 1),
       e1 AS (SELECT src,
                CASE WHEN CAST(CAST(2904064 AS HUGEINT) * 1152921504606846976
                       // (dh + CAST(64 - hit AS HUGEINT) * 1152921504606846976) AS BIGINT) <= 160000
                       AND hit < 64
                  THEN CAST(round(64 * ln(64.0 / (64 - hit)) * 1000) AS BIGINT)
                  ELSE CAST(CAST(2904064 AS HUGEINT) * 1152921504606846976
                       // (dh + CAST(64 - hit AS HUGEINT) * 1152921504606846976) AS BIGINT) END AS est_milli
              FROM est1),
       ur AS (SELECT p.sa, p.sb, r.bucket, max(r.reg) AS reg
              FROM pairs p JOIN regs r ON r.source = p.sa OR r.source = p.sb
              GROUP BY 1, 2, 3),
       estu0 AS (SELECT sa, sb, count(*) AS hit,
                   sum(CAST(1 AS HUGEINT) << CAST(60 - reg AS INTEGER)) AS dh
                 FROM ur GROUP BY 1, 2),
       eu AS (SELECT sa, sb,
                CASE WHEN CAST(CAST(2904064 AS HUGEINT) * 1152921504606846976
                       // (dh + CAST(64 - hit AS HUGEINT) * 1152921504606846976) AS BIGINT) <= 160000
                       AND hit < 64
                  THEN CAST(round(64 * ln(64.0 / (64 - hit)) * 1000) AS BIGINT)
                  ELSE CAST(CAST(2904064 AS HUGEINT) * 1152921504606846976
                       // (dh + CAST(64 - hit AS HUGEINT) * 1152921504606846976) AS BIGINT) END AS est_u_milli
              FROM estu0),
       dv AS (SELECT DISTINCT source, md FROM sh0),
       ex AS (SELECT p.sa, p.sb, CAST(count(*) AS BIGINT) AS n_exact_inter
              FROM pairs p JOIN dv a ON a.source = p.sa
              JOIN dv b ON b.source = p.sb AND b.md = a.md
              GROUP BY 1, 2)
       SELECT p.sa, p.sb,
         CAST(COALESCE(ex.n_exact_inter, 0) AS BIGINT) AS n_exact_inter,
         ea.est_milli AS est_a_milli, eb.est_milli AS est_b_milli,
         eu.est_u_milli,
         ea.est_milli + eb.est_milli - eu.est_u_milli AS est_inter_milli
       FROM pairs p
       JOIN e1 ea ON ea.src = p.sa
       JOIN e1 eb ON eb.src = p.sb
       JOIN eu ON eu.sa = p.sa AND eu.sb = p.sb
       LEFT JOIN ex ON ex.sa = p.sa AND ex.sb = p.sb
       ORDER BY p.sa, p.sb"""

  // ---------------------------------------------------------------- q402
  /** SPEARMAN RANK CORRELATION between customer balance and order count —
    * the outlier-robust monotone-association readout q53's Pearson can't
    * give (one whale balance drags a Pearson r; ranks cap its leverage at
    * 1 position): does holding more money go with ordering more?
    * Semantics DECLARED exactly: average (midrank) ties — rx2 = 2·minrank
    * + tiecount − 1 is TWICE the average rank, kept integer — and the
    * classical d² form rho = 1 − 6Σd²/(n³−n) over those midranks (the
    * form every table uses when tie mass is small), with BOTH tie masses
    * Σ(t³−t) reported so a reader sees exactly when the Pearson-on-ranks
    * form would diverge. All integer: Σδ² (δ = rx2−ry2 = 2d) sums in
    * DECIMAL(38,0), rho in exact ppm by one truncating division.
    *
    * Scale shape: NO single-task corpus window — balance ranks come from
    * the q134 two-phase pattern (per-value counts → ≤1,100 domain-bounded
    * cent-band buckets → broadcast offsets → within-bucket running sum),
    * so the rank of every one of 1.5 M customers at sf1 is an equi-join
    * against a value frame bounded by the CENTS DOMAIN (≤1.1 M rows at
    * ANY corpus size); order-count ranks ride a ≤|max orders per
    * customer|-row frame. Two corpus passes (customer scan + orders
    * rollup), then joins against the bounded value frames. Full oracle
    * (DuckDB replays with plain rank() windows — the independent spec).
    */
  def q402SpearmanRank(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val oc = Tables.orders(spark, d)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("y"))
    // three consumers read it
    val base = Tables.customer(spark, d)
      .select(col("c_custkey"), expr("cast(round(c_acctbal * 100) as bigint)").as("x"))
      .join(oc, Seq("c_custkey"), "left")
      .na.fill(0L, Seq("y"))
      .pin(SizedBy("customer-count")) // narrow (3 longs/row)
    // per-value count frames: x is bounded by the cents domain, y by the
    // max per-customer order count — both corpus-size-independent
    val xcnt = base.groupBy(col("x")).agg(count(lit(1)).as("c"))
      .pin(SizedBy("value-domain")) // ≤1.1M distinct cent values at any SF
    val ycnt = base.groupBy(col("y")).agg(count(lit(1)).as("c"))
      .pin(SizedBy("value-domain")) // ≤ max orders/customer rows
    // min-rank over x: a BucketRank running count over ≤1,100 cent bands;
    // never a global ORDER BY window
    val xr = BucketRank.Running(Nil, expr("x div 10000"), Seq(col("x")), "cum" -> col("c"))(xcnt)
      .select(col("x"), expr("2 * (cum - c + 1) + c - 1").as("rx2"))
    val wy = Window.orderBy(col("y").asc) // value-domain-sized per-value count frame
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val yr = ycnt.withColumn("cum", sum(col("c")).over(wy)) // K-sized frame: the global window is over ≤|max orders| rows
      .select(col("y"), expr("2 * (cum - c + 1) + c - 1").as("ry2"))
    // broadcast(xr): the rank frame is bounded by the cents DOMAIN (≤1.1M
    // rows at any corpus size — the scaladoc bound), so broadcasting it
    // replaces a corpus-wide shuffle of `base` on x with a map-side join
    val joined = base.join(broadcast(xr), "x").join(broadcast(yr), "y")
    val ties = xcnt.agg(expr("cast(sum(cast(c as decimal(38,0)) * c * c - c) as decimal(38,0))").as("t"))
      .select(expr("cast(t as bigint)").as("tx3"))
      .crossJoin(ycnt.agg(expr("cast(sum(cast(c as decimal(38,0)) * c * c - c) as decimal(38,0))").as("t"))
        .select(expr("cast(t as bigint)").as("ty3")))
    joined.agg(count(lit(1)).as("n"),
        expr("cast(sum(cast(rx2 - ry2 as decimal(38,0)) * (rx2 - ry2)) as decimal(38,0))").as("d2"))
      .crossJoin(broadcast(ties)) // 1-row tie masses
      .select(col("n"),
        expr("cast(d2 as bigint)").as("sum_d2_x4"),
        col("tx3"), col("ty3"),
        expr("""cast((2 * (cast(n as decimal(38,0)) * n * n - n) - 3 * d2) * 1000000
               div (2 * (cast(n as decimal(38,0)) * n * n - n)) as bigint)""").as("rho_ppm"))
  }

  val q402Oracle: String =
    """WITH oc AS (SELECT o_custkey AS c_custkey, count(*) AS y
           FROM orders GROUP BY 1),
       base AS (SELECT c.c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS x,
                  COALESCE(oc.y, 0) AS y
                FROM customer c LEFT JOIN oc USING (c_custkey)),
       r AS (SELECT c_custkey,
               2 * rank() OVER (ORDER BY x ASC) + count(*) OVER (PARTITION BY x) - 1 AS rx2,
               2 * rank() OVER (ORDER BY y ASC) + count(*) OVER (PARTITION BY y) - 1 AS ry2
             FROM base),
       tx AS (SELECT CAST(sum(CAST(c AS HUGEINT) * c * c - c) AS BIGINT) AS tx3
              FROM (SELECT count(*) AS c FROM base GROUP BY x)),
       ty AS (SELECT CAST(sum(CAST(c AS HUGEINT) * c * c - c) AS BIGINT) AS ty3
              FROM (SELECT count(*) AS c FROM base GROUP BY y)),
       agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(rx2 - ry2 AS HUGEINT) * (rx2 - ry2)) AS d2
               FROM r)
       SELECT a.n, CAST(a.d2 AS BIGINT) AS sum_d2_x4, tx.tx3, ty.ty3,
         CAST((2 * (CAST(a.n AS HUGEINT) * a.n * a.n - a.n) - 3 * a.d2) * 1000000
              // (2 * (CAST(a.n AS HUGEINT) * a.n * a.n - a.n)) AS BIGINT) AS rho_ppm
       FROM agg a, tx, ty"""

  // ---------------------------------------------------------------- q408
  /** DICTIONARY-ENCODING BENEFIT AUDIT per column — the storage-planning
    * readout (q403 for posting lists, q387 for series, q404 for pixels;
    * this is the COLUMNAR-WRITER member, the decision parquet's writer
    * makes per column chunk): dictionary cost = the distinct values'
    * characters once + n fixed-width codes of ⌈log₂ d⌉ bits, vs the raw
    * concatenated bytes. Low-cardinality columns (returnflag: 3 values →
    * 2-bit codes) compress ~30×; near-unique ones don't — the audit is
    * the number that picks PLAIN vs DICT. Exact integers: code width via
    * bin() length, sizes in exact bytes, ratio in ppm. One lineitem scan
    * melted to (column, value) long form → per-column dictionary
    * aggregate (value-domain-bounded per column). Full oracle.
    */
  def q408DictEncoding(spark: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(spark, d).select(
      col("l_returnflag").as("v1"),
      col("l_linestatus").as("v2"),
      expr("cast(l_shipdate as string)").as("v3"),
      // round() before the BIGINT cast: Spark's cast truncates toward zero
      // while DuckDB's rounds half away — round() in both engines makes the
      // quantization agree by construction (TPC-H quantities are integral,
      // but the contract must not depend on that)
      expr("cast(cast(round(l_quantity) as bigint) as string)").as("v4"))
    val long = li.select(explode(expr(
      """map('l_returnflag', v1, 'l_linestatus', v2,
             'l_shipdate', v3, 'l_quantity', v4)"""))
      .as(Seq("col_name", "v")))
    long.groupBy(col("col_name"), col("v")).agg(count(lit(1)).as("c"))
      .groupBy(col("col_name"))
      .agg(expr("cast(sum(c) as bigint)").as("n_rows"),
        count(lit(1)).as("n_distinct"),
        expr("cast(sum(c * length(v)) as bigint)").as("raw_bytes"),
        expr("cast(sum(length(v)) as bigint)").as("dict_chars"))
      .withColumn("code_bits",
        expr("cast(length(bin(greatest(n_distinct - 1, 1))) as bigint)"))
      .withColumn("dict_bytes",
        expr("dict_chars + (n_rows * code_bits + 7) div 8"))
      .withColumn("ratio_ppm", expr("dict_bytes * 1000000 div raw_bytes"))
      .select(col("col_name"), col("n_rows"), col("n_distinct"),
        col("raw_bytes"), col("dict_chars"), col("code_bits"),
        col("dict_bytes"), col("ratio_ppm"))
      .orderBy(col("col_name"))
  }

  val q408Oracle: String =
    """WITH src AS (SELECT CAST(l_returnflag AS VARCHAR) AS v1,
             CAST(l_linestatus AS VARCHAR) AS v2,
             CAST(l_shipdate AS VARCHAR) AS v3,
             CAST(CAST(round(l_quantity) AS BIGINT) AS VARCHAR) AS v4 FROM lineitem),
       lng AS (SELECT 'l_returnflag' AS col_name, v1 AS v FROM src
               UNION ALL SELECT 'l_linestatus', v2 FROM src
               UNION ALL SELECT 'l_shipdate', v3 FROM src
               UNION ALL SELECT 'l_quantity', v4 FROM src),
       cnt AS (SELECT col_name, v, count(*) AS c FROM lng GROUP BY 1, 2),
       agg AS (SELECT col_name, CAST(sum(c) AS BIGINT) AS n_rows,
                 CAST(count(*) AS BIGINT) AS n_distinct,
                 CAST(sum(c * len(v)) AS BIGINT) AS raw_bytes,
                 CAST(sum(len(v)) AS BIGINT) AS dict_chars
               FROM cnt GROUP BY 1),
       b AS (SELECT *, CAST(len(bin(greatest(n_distinct - 1, 1))) AS BIGINT) AS code_bits
             FROM agg)
       SELECT col_name, n_rows, n_distinct, raw_bytes, dict_chars, code_bits,
         CAST(dict_chars + (n_rows * code_bits + 7) // 8 AS BIGINT) AS dict_bytes,
         CAST((dict_chars + (n_rows * code_bits + 7) // 8) * 1000000 // raw_bytes AS BIGINT) AS ratio_ppm
       FROM b ORDER BY col_name"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q402_spearman_rank" -> q402SpearmanRank _,
    "q408_dict_encoding" -> q408DictEncoding _,
    "q397_hll_intersection" -> q397HllIntersection _,
    "q395_t_closeness" -> q395TCloseness _,
    "q388_dp_release" -> q388DpRelease _,
    "q378_benford_audit" -> q378BenfordAudit _,
    "q379_kmv_distinct" -> q379KmvDistinct _,
    "q380_seasonal_index" -> q380SeasonalIndex _,
    "q371_generalization_search" -> q371GeneralizationSearch _,
    "q373_xmr_control_chart" -> q373XmrControlChart _,
    "q369_ewma_trend" -> q369EwmaTrend _,
    "q363_emd_drift" -> q363EmdDrift _,
    "q323_corpus_datasheet" -> q323CorpusDatasheet _,
    "q302_bootstrap_ci" -> q302BootstrapCi _,
    "q251_k_anonymity" -> q251KAnonymity _,
    "q214_pareto_coverage" -> q214ParetoCoverage _,
    "q204_dispersion_index" -> q204DispersionIndex _,
    "q176_mad_outliers" -> q176MadOutliers _,
    "q178_gini_concentration" -> q178GiniConcentration _,
    "q174_histogram_drift" -> q174HistogramDrift _,
    "q341_psi_drift" -> q341PsiDrift _,
    "q343_cusum_changepoint" -> q343CusumChangepoint _,
    "q159_zscore_outliers" -> q159ZscoreOutliers _,
    "q134_equidepth_bins" -> q134EquidepthBins _,
    "q114_data_quality" -> q114DataQuality _,
    "q168_cm_heavy_hitters" -> q168CmHeavyHitters _,
    "q81_profile" -> q81Profile _,
    "q99_histogram" -> q99Histogram _)

  val oracles: Map[String, String] = Map(
    "q402_spearman_rank" -> q402Oracle,
    "q408_dict_encoding" -> q408Oracle,
    "q397_hll_intersection" -> q397Oracle,
    "q395_t_closeness" -> q395Oracle,
    "q388_dp_release" -> q388Oracle,
    "q378_benford_audit" -> q378Oracle,
    "q379_kmv_distinct" -> q379Oracle,
    "q380_seasonal_index" -> q380Oracle,
    "q371_generalization_search" -> q371Oracle,
    "q373_xmr_control_chart" -> q373Oracle,
    "q369_ewma_trend" -> q369Oracle,
    "q363_emd_drift" -> q363Oracle,
    "q323_corpus_datasheet" -> q323Oracle,
    "q302_bootstrap_ci" -> q302Oracle,
    "q251_k_anonymity" -> q251Oracle,
    "q214_pareto_coverage" -> q214Oracle,
    "q204_dispersion_index" -> q204Oracle,
    "q176_mad_outliers" -> q176Oracle,
    "q178_gini_concentration" -> q178Oracle,
    "q174_histogram_drift" -> q174Oracle,
    "q341_psi_drift" -> q341Oracle,
    "q343_cusum_changepoint" -> q343Oracle,
    "q159_zscore_outliers" -> q159Oracle,
    "q134_equidepth_bins" -> q134Oracle,
    "q114_data_quality" -> q114Oracle,
    "q168_cm_heavy_hitters" -> q168Oracle,
    "q81_profile" -> q81Oracle,
    "q99_histogram" -> q99Oracle)
}
