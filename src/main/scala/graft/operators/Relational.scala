package graft.operators

import graft.core.Pin._
import graft.sources.Tables

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The relational query surface (SURVEY.md §2.2): the operator families the
  * reference delegates to its warehouse via SQL-over-REST
  * (/root/reference/pipeline.py:143-152) and that this engine answers
  * natively through Catalyst.
  *
  * Determinism contract with the DuckDB oracle: every query ends in a total
  * ORDER BY; double aggregations go through exact DECIMAL arithmetic and cast
  * back to DOUBLE at the end, so results are bit-identical regardless of
  * partitioning/accumulation order — which also means correctness is
  * independent of cluster size (the property that matters at 100 TB).
  */
object Relational {

  /** Exact, order-independent sum — the shared contract (graft.core.Exact). */
  private def dsum(c: Column): Column = graft.core.Exact.dsum(c)

  // ---------------------------------------------------------------- q01
  /** Flagship pricing summary (TPC-H Q1 shape): scan → filter (pushed to
    * parquet) → partial+final hash aggregate → sort. No shuffle beyond the
    * single groupBy; at scale AQE coalesces post-shuffle partitions.
    */
  def q01PricingSummary(spark: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(spark, d)
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        (sum(col("l_quantity").cast(DecimalType(25, 6))).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(col("l_extendedprice").cast(DecimalType(25, 6))).cast("double") / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q01Oracle: String =
    """SELECT l_returnflag, l_linestatus,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_base_price,
       CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_disc_price,
       CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_charge,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) / count(*) AS avg_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) / count(*) AS avg_price,
       count(*) AS count_order
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""

  // ---------------------------------------------------------------- q02
  /** Projection + conjunctive filter; predicates and the 4-column projection
    * both reach the parquet scan (PushedFilters / ReadSchema).
    */
  def q02FilterProject(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .filter(col("l_quantity") > 45 && col("l_returnflag") === "A" && col("l_discount") < 0.03)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
      // ALL output columns order the result: the synthetic generator does
      // not make (orderkey, linenumber) unique (1.1M duplicate pairs at
      // sf0.1 — found by the round-6 10x gate), so a two-column sort is not
      // a total order and the positional compare can flip tied rows
      .orderBy(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))

  val q02Oracle: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
       WHERE l_quantity > 45 AND l_returnflag = 'A' AND l_discount < 0.03
       ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice"""

  // ---------------------------------------------------------------- q03
  /** Inner equi-join with an explicitly broadcast dimension side: customer is
    * orders-of-magnitude smaller than the fact table, so the join is
    * shuffle-free on the big side (BroadcastHashJoin) — the 100 TB-safe plan.
    */
  def q03JoinBroadcast(spark: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(spark, d)
    val c = Tables.customer(spark, d)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("order_cnt"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("c_mktsegment"))
  }

  val q03Oracle: String =
    """SELECT c_mktsegment, count(*) AS order_cnt,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_price
       FROM orders JOIN customer ON o_custkey = c_custkey
       GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  // ---------------------------------------------------------------- q04
  /** Left outer join keeping customers with zero orders (count(col) skips the
    * nulls the outer side introduces).
    */
  def q04JoinLeftOuter(spark: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(spark, d)
    val o = Tables.orders(spark, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy(col("c_custkey"))
  }

  val q04Oracle: String =
    """SELECT c_custkey, count(o_orderkey) AS n_orders
       FROM customer LEFT JOIN orders ON c_custkey = o_custkey
       GROUP BY c_custkey ORDER BY c_custkey"""

  // ---------------------------------------------------------------- q05
  /** Left-semi join (EXISTS): big-ticket customers. */
  def q05JoinSemi(spark: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(spark, d)
    val o = Tables.orders(spark, d).filter(col("o_totalprice") > 150000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val q05Oracle: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
       WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 150000.0)
       ORDER BY c_custkey"""

  // ---------------------------------------------------------------- q06
  /** Left-anti join (NOT EXISTS): customers who never placed a large order. */
  def q06JoinAnti(spark: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(spark, d)
    val o = Tables.orders(spark, d).filter(col("o_totalprice") > 200000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  val q06Oracle: String =
    """SELECT c_custkey, c_acctbal FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
       ORDER BY c_custkey"""

  // ---------------------------------------------------------------- q07
  /** Full outer join of two pre-aggregated sides (customer vs supplier
    * presence per nation). Aggregating before the join keeps the shuffled
    * data minimal — join inputs are already one row per key.
    */
  def q07JoinFullOuter(spark: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(spark, d)
      .groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("n_customers"))
    val s = Tables.supplier(spark, d)
      .groupBy(col("s_nationkey").as("nk")).agg(count(lit(1)).as("n_suppliers"))
    c.join(s, Seq("nk"), "full_outer")
      .select(
        col("nk").as("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
      .orderBy(col("nationkey"))
  }

  val q07Oracle: String =
    """SELECT COALESCE(c.nk, s.nk) AS nationkey,
       COALESCE(c.n_customers, 0) AS n_customers, COALESCE(s.n_suppliers, 0) AS n_suppliers
       FROM (SELECT c_nationkey AS nk, count(*) AS n_customers FROM customer GROUP BY 1) c
       FULL OUTER JOIN (SELECT s_nationkey AS nk, count(*) AS n_suppliers FROM supplier GROUP BY 1) s
       ON c.nk = s.nk ORDER BY nationkey"""

  // ---------------------------------------------------------------- q08
  /** Theta join: equi key plus a non-equi residual predicate — Catalyst plans
    * the equi part as a hash join and evaluates the residual post-match, so
    * this never degrades to a nested-loop cross product.
    */
  def q08JoinTheta(spark: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(spark, d)
    val p = Tables.part(spark, d)
    li.join(broadcast(p),
        li("l_partkey") === p("p_partkey") && li("l_extendedprice") > p("p_retailprice") * 1.5)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_expensive"))
      .orderBy(col("p_brand"))
  }

  val q08Oracle: String =
    """SELECT p_brand, count(*) AS n_expensive
       FROM lineitem JOIN part ON l_partkey = p_partkey AND l_extendedprice > p_retailprice * 1.5
       GROUP BY p_brand ORDER BY p_brand"""

  // ---------------------------------------------------------------- q09
  /** Exact distinct aggregation (expand + two-phase aggregate underneath). */
  def q09CountDistinct(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  val q09Oracle: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ---------------------------------------------------------------- q10
  /** Approximate distinct (HyperLogLog++) — the sketch path for 100 TB where
    * exact distinct would shuffle every key. Raw HLL estimates are
    * implementation-defined across engines, so the emitted check is the
    * certified boolean "estimate within 3×rsd of the exact count" (plus the
    * exact count itself, which IS oracle-checkable) — deterministic on both
    * sides, q26's `n_ok` pattern. q09 remains the exact twin.
    */
  def q10ApproxDistinct(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        (abs(approx_count_distinct(col("l_partkey"), 0.02) -
             countDistinct(col("l_partkey"))).cast("double") <=
          lit(0.06) * countDistinct(col("l_partkey"))).as("approx_ok"))
      .orderBy(col("l_returnflag"))

  val q10Oracle: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
       true AS approx_ok
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ---------------------------------------------------------------- q11
  /** ROLLUP with GROUPING() markers. */
  def q11Rollup(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"),
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"))
      .orderBy(
        col("g_flag"), col("g_status"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val q11Oracle: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_qty,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag, CAST(GROUPING(l_linestatus) AS INT) AS g_status
       FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
       ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""

  // ---------------------------------------------------------------- q12
  /** CUBE over two dimensions. */
  def q12Cube(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("total"),
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_prio"))
      .orderBy(
        col("g_status"), col("g_prio"),
        col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  val q12Oracle: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status, CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
       FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
       ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""

  // ---------------------------------------------------------------- q13
  /** Ranking window functions with a unique tiebreak (row_number is only
    * deterministic with a total order per partition).
    */
  def q13WindowRank(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(spark, d)
      .select(
        col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"))
      .filter(col("rn") <= 5)
      .orderBy(col("c_nationkey"), col("rn"))
  }

  val q13Oracle: String =
    """SELECT c_custkey, c_nationkey, c_acctbal, rn, rnk, drnk FROM (
         SELECT c_custkey, c_nationkey, c_acctbal,
                CAST(row_number() OVER w AS INT) AS rn,
                CAST(rank() OVER w AS INT) AS rnk,
                CAST(dense_rank() OVER w AS INT) AS drnk
         FROM customer WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
       ) WHERE rn <= 5 ORDER BY c_nationkey, rn"""

  // ---------------------------------------------------------------- q14
  /** Running totals + lag/lead with an explicit ROWS frame; the running sum
    * is decimal-exact so the prefix is order-stable.
    */
  def q14WindowRunning(spark: SparkSession, d: String): DataFrame = {
    val order = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val frame = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, d)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        sum(col("o_totalprice").cast(DecimalType(25, 6))).over(frame).cast("double").as("running_total"),
        lag(col("o_orderkey"), 1).over(order).as("prev_order"),
        lead(col("o_orderkey"), 1).over(order).as("next_order"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  val q14Oracle: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
       lag(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_order,
       lead(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS next_order
       FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey"""

  // ---------------------------------------------------------------- q15
  /** Global top-k: Catalyst plans orderBy+limit as TakeOrderedAndProject —
    * per-partition top-k then a k-row merge on the driver, never a full sort
    * of 100 TB.
    */
  def q15TopK(spark: SparkSession, d: String): DataFrame =
    Tables.orders(spark, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
      .select(col("o_orderkey"), col("o_totalprice"))

  val q15Oracle: String =
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100"""

  // ---------------------------------------------------------------- q16
  /** Per-group top-k via ranking window + filter. */
  def q16GroupedTopK(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
    Tables.lineitem(spark, d)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy(col("l_returnflag"), col("rn"))
  }

  val q16Oracle: String =
    """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rn FROM (
         SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
                CAST(row_number() OVER (PARTITION BY l_returnflag
                  ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS INT) AS rn
         FROM lineitem) WHERE rn <= 3 ORDER BY l_returnflag, rn"""

  // ---------------------------------------------------------------- q17
  /** Set operations (distinct semantics, matching SQL UNION/INTERSECT/EXCEPT). */
  def q17SetOps(spark: SparkSession, d: String): DataFrame = {
    val cn = Tables.customer(spark, d).select(col("c_nationkey").as("nk")).distinct()
    val sn = Tables.supplier(spark, d).select(col("s_nationkey").as("nk")).distinct()
    val union = cn.union(sn).distinct().withColumn("op", lit("union"))
    val inter = cn.intersect(sn).withColumn("op", lit("intersect"))
    val minus = cn.except(sn).withColumn("op", lit("except"))
    union.unionByName(inter).unionByName(minus)
      .select(col("op"), col("nk"))
      .orderBy(col("op"), col("nk"))
  }

  val q17Oracle: String =
    """SELECT op, nk FROM (
         SELECT 'union' AS op, nk FROM (SELECT DISTINCT c_nationkey AS nk FROM customer UNION SELECT DISTINCT s_nationkey FROM supplier)
         UNION ALL
         SELECT 'intersect' AS op, nk FROM (SELECT DISTINCT c_nationkey AS nk FROM customer INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
         UNION ALL
         SELECT 'except' AS op, nk FROM (SELECT DISTINCT c_nationkey AS nk FROM customer EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
       ) ORDER BY op, nk"""

  // ---------------------------------------------------------------- q18
  /** Pure-SQL surface: inline VALUES through the full Catalyst pipeline. */
  def q18SqlValues(spark: SparkSession, d: String): DataFrame =
    spark.sql(
      """SELECT CAST(id AS BIGINT) AS id, tag, CAST(score * 2 AS DOUBLE) AS doubled
         FROM VALUES (1, 'alpha', 1.5), (2, 'beta', 2.5), (3, 'gamma', 3.5) AS t(id, tag, score)
         ORDER BY id""")

  val q18Oracle: String =
    """SELECT CAST(id AS BIGINT) AS id, tag, CAST(score * 2 AS DOUBLE) AS doubled
       FROM (VALUES (1, 'alpha', 1.5), (2, 'beta', 2.5), (3, 'gamma', 3.5)) t(id, tag, score)
       ORDER BY id"""

  // ---------------------------------------------------------------- q47
  /** Right outer join: every part kept, fact side nullable. The aggregate
    * runs BELOW the join (per-key counts first), so the preserved/part side
    * right-joins a small pre-aggregated build side that Spark can broadcast
    * — a raw `lineitem RIGHT JOIN part` would shuffle the whole fact table
    * because the preserved side of an outer join can't be the broadcast
    * side.
    */
  def q47JoinRightOuter(spark: SparkSession, d: String): DataFrame = {
    val counts = Tables.lineitem(spark, d)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
    val p = Tables.part(spark, d)
    counts.join(p, counts("l_partkey") === p("p_partkey"), "right")
      .select(col("p_partkey"), coalesce(col("n"), lit(0L)).as("n_lines"))
      .orderBy(col("p_partkey"))
  }

  val q47Oracle: String =
    """SELECT p_partkey, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_lines
       FROM (SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY 1) c
       RIGHT JOIN part ON l_partkey = p_partkey
       ORDER BY p_partkey"""

  // ---------------------------------------------------------------- q48
  /** Explicit GROUPING SETS through the SQL surface. */
  def q48GroupingSets(spark: SparkSession, d: String): DataFrame = {
    Tables.lineitem(spark, d).createOrReplaceTempView("lineitem_gs")
    spark.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status
         FROM lineitem_gs
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")
  }

  val q48Oracle: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status
       FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
       ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""

  // ---------------------------------------------------------------- q49
  /** RANGE window frame (value-based): orders within ±1000 of each order's
    * totalprice for the same customer.
    */
  def q49WindowRangeFrame(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
      .rangeBetween(-1000L, 1000L)
    Tables.orders(spark, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        count(lit(1)).over(w).as("n_close"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q49Oracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
       count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
         RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS n_close
       FROM orders ORDER BY o_custkey, o_orderkey"""

  // ---------------------------------------------------------------- q53
  /** Statistical aggregate battery (stddev/var/corr/covar), bit-identical
    * across engines by construction: the only aggregations are exact DECIMAL
    * sums of the moments (n, Σx, Σx², Σxy — order-independent integer
    * arithmetic), and the statistics are derived from those sums with the
    * textually-identical IEEE double formula on both sides. Built-in
    * stddev_samp/corr accumulate floating moments whose low bits depend on
    * merge order — unusable for a cross-engine hash gate (round-1 lesson).
    * Same trick q01 uses for sums; here extended to second moments.
    */
  // Integer-cents moments: each 2-decimal column is scaled ONCE to exact
  // LONG cents (one double multiply + round per column — the fixtures are
  // 2-decimal money/rate columns so the scaling is exact), per-row products
  // are cheap long×long multiplies (max ~5e10, far from int64 overflow),
  // and only the SUM runs in the 128-bit DECIMAL(38,0) lane (plain int128
  // adds). Round 2 multiplied eight DECIMAL(12,2) pairs per row through the
  // decimal-multiply path — same exactness, 26× the CPU (15.4 s driver
  // bench); this formulation restores the integer lane.
  private val q53Cents: Seq[(String, String)] = Seq(
    "qc" -> "cast(round(l_quantity * 100) as bigint)",
    "pc" -> "cast(round(l_extendedprice * 100) as bigint)",
    "dc" -> "cast(round(l_discount * 100) as bigint)",
    "tc" -> "cast(round(l_tax * 100) as bigint)")

  // Exact order-independent moment sums over the cents columns (shared text
  // with the oracle — both dialects parse these identically).
  private val q53Moments: Seq[(String, String)] = Seq(
    "sx"  -> "sum(cast(qc as decimal(38,0)))",
    "sxx" -> "sum(cast(qc * qc as decimal(38,0)))",
    "sy"  -> "sum(cast(pc as decimal(38,0)))",
    "syy" -> "sum(cast(pc * pc as decimal(38,0)))",
    "sxy" -> "sum(cast(qc * pc as decimal(38,0)))",
    "sd"  -> "sum(cast(dc as decimal(38,0)))",
    "st"  -> "sum(cast(tc as decimal(38,0)))",
    "sdt" -> "sum(cast(dc * tc as decimal(38,0)))")

  /** Shared derivation formulas (must stay textually identical to the oracle:
    * IEEE ops are correctly rounded, so identical inputs + identical
    * expression trees ⇒ identical bits — no rounding contract needed).
    * Moments are in cents, so second moments carry a 10⁴ scale and first
    * moments 10² — the trailing divides de-scale back to original units;
    * corr is scale-invariant and needs none.
    */
  private val q53Derived: Seq[(String, String)] = Seq(
    "sd_qty" -> "sqrt((n * sxx - sx * sx) / (n * (n - 1))) / 100.0",
    "var_qty" -> "(n * sxx - sx * sx) / (n * (n - 1)) / 10000.0",
    "corr_qty_price" ->
      "(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))",
    "covar_disc_tax" -> "(n * sdt - sd * st) / (n * (n - 1)) / 10000.0")

  def q53StatsAgg(spark: SparkSession, d: String): DataFrame = {
    val cents = q53Cents.map { case (alias, e) => expr(e).as(alias) }
    val sums = count(lit(1)).cast("double").as("n") +:
      q53Moments.map { case (alias, e) => expr(e).cast("double").as(alias) }
    Tables.lineitem(spark, d)
      .select(col("l_returnflag") +: cents: _*)
      .groupBy(col("l_returnflag"))
      .agg(sums.head, sums.tail: _*)
      .select(col("l_returnflag") +:
        q53Derived.map { case (alias, e) => expr(e).as(alias) }: _*)
      .orderBy(col("l_returnflag"))
  }

  val q53Oracle: String = {
    val cents = q53Cents
      .map { case (alias, e) => s"$e AS $alias" }
      .mkString(",\n           ")
    val sums = q53Moments
      .map { case (alias, e) => s"CAST($e AS DOUBLE) AS $alias" }
      .mkString(",\n           ")
    val derived = q53Derived
      .map { case (alias, e) => s"$e AS $alias" }
      .mkString(",\n         ")
    s"""WITH c AS (
         SELECT l_returnflag,
           $cents
         FROM lineitem),
       s AS (
         SELECT l_returnflag,
           CAST(count(*) AS DOUBLE) AS n,
           $sums
         FROM c GROUP BY l_returnflag)
       SELECT l_returnflag,
         $derived
       FROM s ORDER BY l_returnflag"""
  }

  // ---------------------------------------------------------------- q54
  /** Argmin/argmax, conditional counts, and order-stable string aggregation
    * (collect_list is unordered by contract — sorting before concatenation
    * is what makes it deterministic under any partitioning).
    */
  def q54ArgAgg(spark: SparkSession, d: String): DataFrame = {
    // unique scalar ordering key: price (2-decimal) scaled to an exact
    // integer, orderkey as tiebreak — argmin/argmax over doubles with ties
    // would be nondeterministic
    val rankKey = (round(col("o_totalprice") * 100).cast("long") * 10000000L +
      col("o_orderkey")).as("rk")
    Tables.orders(spark, d)
      .withColumn("rk", rankKey)
      .groupBy(col("o_orderstatus"))
      .agg(
        max_by(col("o_orderkey"), col("rk")).as("biggest_order"),
        min_by(col("o_orderkey"), col("rk")).as("smallest_order"),
        count_if(col("o_totalprice") > 200000.0).as("n_big"),
        concat_ws(",", array_sort(collect_list(col("o_orderpriority")))).as("priorities"))
      .orderBy(col("o_orderstatus"))
  }

  val q54Oracle: String =
    """SELECT o_orderstatus,
       arg_max(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey) AS biggest_order,
       arg_min(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey) AS smallest_order,
       count(*) FILTER (WHERE o_totalprice > 200000.0) AS n_big,
       string_agg(o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  // ---------------------------------------------------------------- q55
  /** Pivot: one column per l_linestatus value. Values are enumerated
    * explicitly (F/O) — at scale an implicit pivot would first run a
    * distinct scan to discover them.
    */
  def q55Pivot(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(col("l_quantity").cast(DecimalType(25, 6))).cast("double"))
      .na.fill(0.0, Seq("F", "O"))
      .orderBy(col("l_returnflag"))

  val q55Oracle: String =
    """SELECT l_returnflag,
       COALESCE(CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(25,6)) END) AS DOUBLE), 0.0) AS F,
       COALESCE(CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(25,6)) END) AS DOUBLE), 0.0) AS O
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ---------------------------------------------------------------- q56
  /** Correlated and uncorrelated subqueries through the SQL surface —
    * Catalyst decorrelates the scalar subquery into a join, which is the
    * only shape that survives at scale (per-row subquery execution would
    * be O(n²) I/O).
    */
  def q56Subqueries(spark: SparkSession, d: String): DataFrame = {
    Tables.customer(spark, d).createOrReplaceTempView("customer_sq")
    Tables.orders(spark, d).createOrReplaceTempView("orders_sq")
    spark.sql(
      """SELECT c_custkey,
           (SELECT count(*) FROM orders_sq o WHERE o.o_custkey = c.c_custkey) AS n_orders,
           c_acctbal > (SELECT avg(c_acctbal) FROM customer_sq) AS above_avg
         FROM customer_sq c
         WHERE c_custkey IN (SELECT o_custkey FROM orders_sq WHERE o_totalprice > 100000.0)
         ORDER BY c_custkey""")
  }

  val q56Oracle: String =
    """SELECT c_custkey,
       (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
       c_acctbal > (SELECT avg(c_acctbal) FROM customer) AS above_avg
       FROM customer c
       WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000.0)
       ORDER BY c_custkey"""

  // ---------------------------------------------------------------- q57
  /** Null-handling battery over the nullable side of an outer join. */
  def q57NullFuncs(spark: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(spark, d)
    val o = Tables.orders(spark, d).filter(col("o_totalprice") > 200000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(max(col("o_totalprice")).as("max_big"))
      .select(
        col("c_custkey"),
        coalesce(col("max_big"), lit(-1.0)).as("max_or_default"),
        col("max_big").isNull.cast("int").as("is_missing"),
        nullif(col("c_custkey") % 10, lit(0)).as("bucket_or_null"),
        nvl2(col("max_big"), lit("has_big"), lit("none")).as("tag"))
      .orderBy(col("c_custkey"))
  }

  val q57Oracle: String =
    """SELECT c_custkey,
       COALESCE(max_big, -1.0) AS max_or_default,
       CAST(max_big IS NULL AS INT) AS is_missing,
       NULLIF(c_custkey % 10, 0) AS bucket_or_null,
       CASE WHEN max_big IS NOT NULL THEN 'has_big' ELSE 'none' END AS tag
       FROM (SELECT c_custkey, max(o_totalprice) AS max_big
             FROM customer LEFT JOIN orders
               ON c_custkey = o_custkey AND o_totalprice > 200000.0
             GROUP BY c_custkey)
       ORDER BY c_custkey"""

  // ---------------------------------------------------------------- q61
  /** Exact median without a percentile built-in: the rank-selected middle
    * element(s), averaged. `l_returnflag` has 3 values, so a plain ranking
    * window here would sort the whole corpus in 3 tasks at 100 TB — this is
    * the canonical instance of the low-cardinality window trap (SCALE.md
    * "Top-k and windows"). The BucketRank two-phase form instead counts
    * per-(group, $1000-price-bucket), locates the 1-2 buckets that contain
    * the middle ranks from the tiny count frame, and rank-sorts ONLY those
    * buckets — every step parallel at any corpus size. Selected rows (and
    * therefore the result) are identical to the plain window's; Round6Spec
    * proves the equality on this call site.
    */
  def q61MedianExact(spark: SparkSession, d: String): DataFrame = {
    val x = Tables.lineitem(spark, d)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"))
    BucketRank.select(x, "l_returnflag",
        bucket = floor(col("l_extendedprice") / 1000.0).cast("long"),
        ord = Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
        targets = Seq(expr("(__n + 1) div 2"), expr("__n div 2 + 1")))
      .groupBy(col("l_returnflag"))
      .agg((sum(col("l_extendedprice")) / count(lit(1))).as("median_price"))
      .orderBy(col("l_returnflag"))
  }

  val q61Oracle: String =
    """WITH r AS (
         SELECT l_returnflag, l_extendedprice,
           row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
           count(*) OVER (PARTITION BY l_returnflag) AS n
         FROM lineitem)
       SELECT l_returnflag, sum(l_extendedprice) / count(*) AS median_price
       FROM r WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
       GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ---------------------------------------------------------------- q62
  /** Approximate percentiles (fixed-size sketch state — the only quantile
    * path that scales to 100 TB) certified against the exact percentiles in
    * the same query: the output is per-group booleans "sketch within 5% of
    * exact", which ARE deterministic (the sketch's rank error is bounded by
    * accuracy=1000 ⇒ value error far below 5% on this data), so the driver
    * can hash-check them against literal `true` — the q26 `n_ok` pattern.
    * Raw sketch values stay implementation-defined and are never emitted.
    */
  def q62ApproxPercentile(spark: SparkSession, d: String): DataFrame = {
    // r17: the exact side no longer calls `percentile()` — that aggregate
    // buffers EVERY value of a group in its aggregation buffer and merges
    // each group on one thread (the one quantile shape that cannot scale;
    // guide §5). The exact order statistics are rank-selected with the
    // BucketRank two-phase form instead (the q176/q418 discipline: $1000
    // value buckets, parallel at any scale), and the interpolated
    // percentile v_lo + (v_hi − v_lo)·(rank − ⌊rank⌋) with rank = p·(n−1)
    // reproduces Spark's percentile formula — far inside the 5% gate
    // either way. The sketch side is unchanged (fixed-size state).
    val ps = Seq(0.25, 0.5, 0.75, 0.99)
    val x = Tables.lineitem(spark, d).select(col("l_returnflag").as("g"),
      col("l_extendedprice").cast("double").as("v"),
      col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
    def loR(p: Double) = s"cast(floor($p * (__n - 1)) as long) + 1L"
    def hiR(p: Double) = s"cast(ceil($p * (__n - 1)) as long) + 1L"
    val sel = BucketRank.select(x, "g",
      bucket = floor(col("v") / lit(1000.0)).cast("long"),
      ord = Seq(col("v"), col("ok"), col("ln")),
      targets = ps.flatMap(p => Seq(expr(loR(p)), expr(hiR(p)))))
    val aggCols = max(col("__n")).as("n") +:
      ps.zipWithIndex.flatMap { case (p, i) => Seq(
        max(when(col("__grank") === expr(loR(p)), col("v"))).as(s"lo$i"),
        max(when(col("__grank") === expr(hiR(p)), col("v"))).as(s"hi$i")) }
    val exact = sel.groupBy(col("g"))
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col("g") +: col("n") +:
        ps.zipWithIndex.map { case (p, i) =>
          expr(s"lo$i + (hi$i - lo$i) * ($p * (n - 1) - floor($p * (n - 1)))")
            .as(s"ep$i") }: _*)
    def okCol(i: Int): Column =
      expr(s"abs(element_at(ap, ${i + 1}) - ep$i) <= 0.05 * abs(ep$i)")
    Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag").as("g"))
      .agg(expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.99), 1000)").as("ap"))
      .join(exact, "g")
      .select(col("g").as("l_returnflag"), col("n"),
        okCol(0).as("p25_ok"), okCol(1).as("p50_ok"),
        okCol(2).as("p75_ok"), okCol(3).as("p99_ok"))
      .orderBy(col("l_returnflag"))
  }

  val q62Oracle: String =
    """SELECT l_returnflag, count(*) AS n,
       true AS p25_ok, true AS p50_ok, true AS p75_ok, true AS p99_ok
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ---------------------------------------------------------------- q63
  /** Distribution window functions: ntile buckets, percent_rank, cume_dist.
    * Deterministic under a unique total order; the rank ratios are single
    * IEEE divisions, identical across engines.
    */
  def q63WindowDistribution(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(spark, d)
      .select(col("c_custkey"), col("c_nationkey"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy(col("c_custkey"))
  }

  val q63Oracle: String =
    """SELECT c_custkey, c_nationkey,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
       FROM customer WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
       ORDER BY c_custkey"""

  // ---------------------------------------------------------------- q64
  /** Positional window values: first/last/nth within an explicit ROWS frame. */
  def q64WindowPositional(spark: SparkSession, d: String): DataFrame = {
    val order = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, d)
      .select(col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(full).as("first_order"),
        last(col("o_orderkey")).over(full).as("last_order"),
        nth_value(col("o_orderkey"), 2).over(full).as("second_order"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q64Oracle: String =
    """SELECT o_custkey, o_orderkey,
       first_value(o_orderkey) OVER w AS first_order,
       last_value(o_orderkey) OVER w AS last_order,
       nth_value(o_orderkey, 2) OVER w AS second_order
       FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       ORDER BY o_custkey, o_orderkey"""

  // ---------------------------------------------------------------- q76
  /** Unpivot (wide → long): the inverse of q55's pivot. Three per-flag
    * decimal-exact measures melt into (flag, measure, value) rows via the
    * native `unpivot` operator (Spark's Expand node — no join, no explode
    * UDTF, one pass). Oracle replays it as the classic UNION ALL.
    */
  def q76Unpivot(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        dsum(col("l_discount")).as("sum_disc"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "measure", "value")
      .orderBy(col("l_returnflag"), col("measure"))

  val q76Oracle: String =
    """WITH w AS (
         SELECT l_returnflag,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_qty,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_price,
           CAST(CAST(sum(CAST(l_discount AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_disc
         FROM lineitem GROUP BY l_returnflag)
       SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM w
       UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM w
       UNION ALL SELECT l_returnflag, 'sum_disc', sum_disc FROM w
       ORDER BY l_returnflag, measure"""

  // ---------------------------------------------------------------- q77
  /** Count-min-sketch heavy hitters, certified: build ONE fixed-size sketch
    * over all part keys (the 100 TB path — sketch state is KB regardless of
    * cardinality), broadcast the one-row binary, probe the top-20 exact
    * heavy hitters against it. CMS guarantees estimate ≥ truth, and
    * ≤ truth + 2·eps·N with overwhelming probability at depth ≈ ln(1/δ);
    * the emitted booleans certify both bounds — deterministic on both
    * sides, the q26 pattern. Exact counts are oracle-checked directly.
    */
  def q77CmsHeavyHitters(spark: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(spark, d)
    // N rides on the one-row sketch aggregate — one lazy plan, no driver
    // .count() (the q66 lesson)
    val sketch = li.agg(
      expr("count_min_sketch(l_partkey, 0.0001d, 0.9999d, 42)").as("cms"),
      count(lit(1)).as("n_total"))
    val top = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("l_partkey").asc)
      .limit(20)
    top.crossJoin(broadcast(sketch))
      .withColumn("est",
        graft.functions.GraftFunctions.cmsEstimate(spark, col("cms"), col("l_partkey")))
      .select(col("l_partkey"), col("n"),
        (col("est") >= col("n")).as("cms_lower_ok"),
        (col("est") <= col("n") + ceil(lit(0.0002) * col("n_total")).cast("long"))
          .as("cms_upper_ok"))
      .orderBy(col("n").desc, col("l_partkey").asc)
  }

  val q77Oracle: String =
    """SELECT l_partkey, n, true AS cms_lower_ok, true AS cms_upper_ok
       FROM (SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY l_partkey
             ORDER BY n DESC, l_partkey ASC LIMIT 20)
       ORDER BY n DESC, l_partkey ASC"""

  // ---------------------------------------------------------------- q120
  /** MERGEABLE distinct-count sketches (DataSketches HLL via Spark's
    * hll_sketch_agg/hll_union_agg) — the pre-aggregation pattern that makes
    * 100 TB distinct counts cheap: each partition/day/source builds its own
    * KB-sized sketch ONCE; any later rollup UNIONS sketches instead of
    * re-scanning rows. Driven as two disjoint half-corpus sketches per
    * order status, unioned, estimated, and certified against the exact
    * distinct count (HLL lgK=12 ⇒ ~1.6% standard error; the 5% bound is
    * >3σ — the q10/q62 certified-sketch pattern).
    */
  def q120HllMerge(spark: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(spark, d)
      .select(col("o_orderstatus"), col("o_custkey"), col("o_orderkey"))
    def half(p: Int) = orders.filter(pmod(col("o_orderkey"), lit(2)) === p)
      .groupBy(col("o_orderstatus"))
      .agg(expr("hll_sketch_agg(o_custkey, 12)").as("sk"))
    val unioned = half(0).unionByName(half(1))
      .groupBy(col("o_orderstatus"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"))
    val exact = orders.groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_exact"))
    exact.join(unioned, "o_orderstatus")
      .select(col("o_orderstatus"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <= lit(0.05) * col("n_exact") + lit(1.0))
          .as("merge_ok"))
      .orderBy(col("o_orderstatus"))
  }

  val q120Oracle: String =
    """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_exact, true AS merge_ok
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  // ------------------------------------------------------- basket mining
  /** Hot-basket guard for the pair self-joins (q123/q154). Per-basket pair
    * cost is k²; one degenerate basket (a 10⁶-item order in real data)
    * re-quadratizes inside a single key even though the join is basket-
    * keyed. Same cap-and-rank pattern as [[Linkage.fuzzySelfJoin]] blocks
    * and Dedup's LSH buckets: rank items by id inside each basket, keep the
    * lowest `MaxBasketSize` — deterministic, and the rank window shuffles
    * on the same key the pair join needs, so no extra exchange class.
    * Truncation is LOUD via [[basketOverflow]], never silent.
    */
  val MaxBasketSize = 1000

  def cappedBasketItems(items: DataFrame, basketCol: String, itemCol: String,
                        maxBasketSize: Int = MaxBasketSize): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    items
      .withColumn("__rnk", row_number().over(
        Window.partitionBy(col(basketCol)).orderBy(col(itemCol))))
      .filter(col("__rnk") <= maxBasketSize)
      .drop("__rnk")
  }

  /** The r17 shape of the same guard: one aggregation collapses each basket
    * to its sorted distinct-item array (ascending, capped to the SMALLEST
    * `maxBasketSize` ids — exactly [[cappedBasketItems]]'s row_number rank,
    * so the kept set is identical), and pair generation becomes a map-side
    * array transform over that row. vs the r16 plan this removes the
    * (basket,item)-distinct exchange (collect_set dedups inside the basket
    * aggregation), the rank window's sort, and the self-join entirely: the
    * only exchanges left are one by basket and one by pair. Per-group state
    * is the basket's distinct-item set — the same rows the rank window
    * shuffled to one partition, now held as a set instead of a sorted run;
    * organically bounded (a basket is one order/document/session) and
    * audited by [[basketOverflow]] beyond the cap, so no new memory class
    * at 100 TB.
    */
  def cappedBasketArrays(items: DataFrame, basketCol: String, itemCol: String,
                         maxBasketSize: Int = MaxBasketSize): DataFrame =
    items.groupBy(col(basketCol))
      .agg(slice(sort_array(collect_set(col(itemCol))), 1, maxBasketSize)
        .as("items"))

  /** All ascending in-basket pairs (part_a < part_b) from a
    * [[cappedBasketArrays]] frame — generated inside the basket row, no
    * self-join. k² stays per-basket, never corpus².
    */
  def basketPairs(baskets: DataFrame): DataFrame = baskets
    .filter(size(col("items")) >= 2)
    .select(explode(expr(
      """flatten(transform(items, (x, i) ->
           transform(slice(items, i + 2, size(items) - i - 1),
                     y -> struct(x AS part_a, y AS part_b))))""")).as("p"))
    .select(col("p.part_a"), col("p.part_b"))

  /** One row per OVERFLOWING basket — (basket, basket_size, kept, dropped).
    * Empty ⇒ the pair mining was exact. Run alongside the join (one cheap
    * count-aggregate on the identical basket key) instead of discovering a
    * hot basket by timeout.
    */
  def basketOverflow(items: DataFrame, basketCol: String,
                     maxBasketSize: Int = MaxBasketSize): DataFrame =
    items.groupBy(col(basketCol).as("basket"))
      .agg(count(lit(1)).as("basket_size"))
      .filter(col("basket_size") > maxBasketSize)
      .select(col("basket"), col("basket_size"),
        lit(maxBasketSize).cast("long").as("kept"),
        (col("basket_size") - maxBasketSize).as("dropped"))

  // ---------------------------------------------------------------- q123
  /** Frequent co-occurrence pairs (market-basket): which parts ship
    * together in the same order. The pair join is keyed by the BASKET id —
    * co-partitioned self-join, per-basket cost k² with k = basket size
    * (≤12 in this fixture, capped at [[MaxBasketSize]] with loud overflow
    * for real data), never corpus². The same shape mines n-gram
    * co-occurrence or co-cited documents at 100 TB: shuffle once on the
    * container key, explode pairs locally.
    * Deterministic counts + total tie-broken ordering → full oracle.
    */
  def q123FrequentPairs(spark: SparkSession, d: String): DataFrame = {
    val baskets = cappedBasketArrays(
      Tables.lineitem(spark, d).select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey")
    basketPairs(baskets)
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  val q123Oracle: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
       SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
       FROM li a JOIN li b
         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       GROUP BY 1, 2 ORDER BY n_orders DESC, part_a, part_b LIMIT 20"""

  // ---------------------------------------------------------------- q154
  /** Item-item co-occurrence COSINE — q123's counts normalized into the
    * similarity a recommender actually serves: sim(i,j) =
    * n_ij / √(n_i·n_j). Item marginals are a vocabulary-sized aggregate
    * broadcast onto the pair counts; √ over exact integers is a correctly
    * rounded IEEE op, so the scores are bit-identical cross-engine with
    * no decimal machinery. Same basket-keyed join as q123 — per-basket
    * k² with the [[MaxBasketSize]] hot-basket cap, never corpus².
    * Top-20 by (score, pair) total order.
    */
  def q154CooccurrenceCosine(spark: SparkSession, d: String): DataFrame = {
    val baskets = cappedBasketArrays(
      Tables.lineitem(spark, d).select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey")
    val marg = baskets.select(explode(col("items")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
    val pairs = basketPairs(baskets)
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_both"))
    // both marginal lookups join the IDENTICAL broadcast subtree (same
    // projection, same key column) so the second BroadcastExchange
    // canonicalizes into a ReusedExchange — the r16 renamed-copy form built
    // the marginal aggregate twice
    pairs
      .join(broadcast(marg), col("part_a") === col("l_partkey"))
      .withColumnRenamed("n", "na").drop("l_partkey")
      .join(broadcast(marg), col("part_b") === col("l_partkey"))
      .withColumnRenamed("n", "nb").drop("l_partkey")
      .select(col("part_a"), col("part_b"), col("n_both"),
        expr("CAST(n_both AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))").as("cosine"))
      .orderBy(col("cosine").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  val q154Oracle: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       m AS (SELECT l_partkey, count(*) AS n FROM li GROUP BY 1),
       p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_both
             FROM li a JOIN li b
               ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             GROUP BY 1, 2)
       SELECT part_a, part_b, n_both,
         CAST(n_both AS DOUBLE) / sqrt(CAST(ma.n AS DOUBLE) * CAST(mb.n AS DOUBLE)) AS cosine
       FROM p JOIN m ma ON ma.l_partkey = part_a JOIN m mb ON mb.l_partkey = part_b
       ORDER BY cosine DESC, part_a, part_b LIMIT 20"""

  // ---------------------------------------------------------------- q155
  /** Period-over-period reporting — weekly revenue per order priority with
    * absolute and percent change vs the prior week (lag window over the
    * compact (priority, week) aggregate, so the window runs over thousands
    * of rows regardless of fact size). Revenue is decimal-exact; the
    * deltas and pct are shared-text doubles over those exact inputs →
    * full oracle. The first week of each priority reports NULL change,
    * as a reporting surface should.
    */
  def q155PeriodOverPeriod(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekly = Tables.orders(spark, d)
      .groupBy(col("o_orderpriority"),
        expr("CAST(floor(unix_timestamp(o_orderdate) / 604800) AS BIGINT)").as("week"))
      .agg(dsum(col("o_totalprice")).as("revenue"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("week"))
    weekly
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .select(col("o_orderpriority"), col("week"), col("revenue"),
        expr("revenue - prev_revenue").as("wow_change"),
        expr("(revenue - prev_revenue) / prev_revenue * 100.0").as("wow_pct"))
      .orderBy(col("o_orderpriority"), col("week"))
  }

  val q155Oracle: String =
    """WITH weekly AS (
         SELECT o_orderpriority,
           CAST(floor(epoch(o_orderdate) / 604800) AS BIGINT) AS week,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1, 2),
       l AS (SELECT o_orderpriority, week, revenue,
               lag(revenue) OVER (PARTITION BY o_orderpriority ORDER BY week) AS prev_revenue
             FROM weekly)
       SELECT o_orderpriority, week, revenue,
         revenue - prev_revenue AS wow_change,
         (revenue - prev_revenue) / prev_revenue * 100.0 AS wow_pct
       FROM l ORDER BY o_orderpriority, week"""

  // ---------------------------------------------------------------- q161
  /** RFM segmentation — recency/frequency/monetary quintiles per customer,
    * the classic marketing-warehouse cube. Customer metrics reduce the
    * fact table once (latest order date, order count, exact-cents spend);
    * each quintile is a rank-defined ntile over a TOTAL order
    * (metric, custkey), so both engines bin identically (no interpolation
    * flavor, the q132/q134 rule); the final cube is ≤125 cells regardless
    * of customer count. The per-metric rank is a [[BucketRank]] rank with
    * exact ntile arithmetic — no unpartitioned window touches the
    * per-customer frame, so the plan holds at 10⁹ customers, not just
    * fixture scale.
    */
  def q161RfmSegmentation(spark: SparkSession, d: String): DataFrame = {
    // each quintile ranks independently against this frame (a BucketRank
    // rank reads its input twice); the three (custkey, quintile) columns join back
    val per = Tables.orders(spark, d)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("n_orders"),
        expr("cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint)").as("spend_c"))
      .pin(SizedBy("customer-population")) // aggregate, read by all three quintile branches
    // each metric ranks DESC, so its bucket is the negated value (day,
    // order count, spend millions); SQL ntile's exact arithmetic keeps the
    // DuckDB native-ntile oracle matching hash-for-hash
    val ranked = Seq(
      (expr("-datediff(last_order, DATE '1990-01-01')"),
        Seq(col("o_custkey").asc), "r_q"),
      (-col("n_orders"), Seq(col("o_custkey").asc), "f_q"),
      (expr("-(spend_c div 1000000)"),
        Seq(col("spend_c").desc, col("o_custkey").asc), "m_q"))
      .map { case (b, o, out) =>
        BucketRank.Running(Nil, b, o, "rank" -> lit(1L))(per)
          .select(col("o_custkey"), BucketRank.ntile(col("rank"), col("rank_total"), 5).as(out)) }
      .foldLeft(per) { case (df, q) => df.join(q, "o_custkey") }
    ranked
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"),
        expr("cast(sum(cast(spend_c as decimal(38,0))) as bigint)").as("segment_spend_c"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  val q161Oracle: String =
    """WITH per AS (
         SELECT o_custkey, max(o_orderdate) AS last_order, count(*) AS n_orders,
           cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint) AS spend_c
         FROM orders GROUP BY 1),
       q AS (
         SELECT spend_c,
           CAST(ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS BIGINT) AS r_q,
           CAST(ntile(5) OVER (ORDER BY n_orders DESC, o_custkey) AS BIGINT) AS f_q,
           CAST(ntile(5) OVER (ORDER BY spend_c DESC, o_custkey) AS BIGINT) AS m_q
         FROM per)
       SELECT r_q, f_q, m_q, count(*) AS n_customers,
         cast(sum(cast(spend_c as decimal(38,0))) as bigint) AS segment_spend_c
       FROM q GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q"""

  // ---------------------------------------------------------------- q67
  /** Generator/lateral form through SQL: LATERAL VIEW posexplode flattens
    * each document's token array with positions (the UDTF-shaped operator
    * class; explode is Spark's built-in Generator).
    */
  def q67LateralExplode(spark: SparkSession, d: String): DataFrame = {
    Tables.documents(spark, d).createOrReplaceTempView("documents_lv")
    spark.sql(
      """SELECT doc_id, CAST(pos AS INT) AS pos, word
         FROM documents_lv
         LATERAL VIEW posexplode(split(text, ' ')) t AS pos, word
         WHERE doc_id < 50 AND pos < 5
         ORDER BY doc_id, pos""")
  }

  val q67Oracle: String =
    """SELECT doc_id, CAST(t.pos - 1 AS INT) AS pos, t.word
       FROM documents,
            LATERAL (SELECT unnest(string_split(text, ' ')) AS word,
                            generate_subscripts(string_split(text, ' '), 1) AS pos) t
       WHERE doc_id < 50 AND t.pos <= 5
       ORDER BY doc_id, pos"""

  // ---------------------------------------------------------------- q91
  /** Grouped top-k through the typed UDAF (graft.functions.TopKAggregator —
    * the Aggregator extension point): per order status, the 3 highest-priced
    * order keys. Unlike the window-rank formulation (q16, which sorts every
    * row of every group), the aggregator carries a bounded k-element buffer
    * through partial aggregation — shuffled bytes are O(groups·k), not
    * O(rows). Ties break by payload id, so the result is a total order and
    * carries a full oracle (replayed as QUALIFY-style row_number in DuckDB).
    */
  def q91TopKUdaf(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val topk = new graft.functions.TopKAggregator(3).toColumn.name("ids")
    Tables.orders(spark, d)
      .select(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"))
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(topk)
      .toDF("o_orderstatus", "ids")
      .select(col("o_orderstatus"), posexplode(col("ids")).as(Seq("i", "o_orderkey")))
      .select(col("o_orderstatus"), (col("i") + 1).cast("int").as("rn"), col("o_orderkey"))
      .orderBy(col("o_orderstatus"), col("rn"))
  }

  val q91Oracle: String =
    """SELECT o_orderstatus, CAST(rn AS INT) AS rn, o_orderkey FROM (
         SELECT o_orderstatus, o_orderkey,
           row_number() OVER (PARTITION BY o_orderstatus
             ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
         FROM orders)
       WHERE rn <= 3 ORDER BY o_orderstatus, rn"""

  // ---------------------------------------------------------------- q131
  /** TPC-H Q5-shaped six-table star join: revenue per nation for one region
    * and one order year, with the customer-and-supplier-in-the-same-nation
    * twist that makes Q5 a join-graph (not a chain). The 100 TB plan story:
    * the ONLY big-big edge is lineitem⋈orders (both fact-scale → one
    * shuffle, sort-merge); supplier/customer/nation/region are all
    * broadcast, so four of the five joins are shuffle-free, and the date +
    * region predicates reach the scans (PushedFilters). Catalyst is free to
    * reorder the bushy graph — the declared plan pins only what matters
    * (which sides broadcast).
    */
  def q131StarJoin(spark: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(spark, d)
    val o = Tables.orders(spark, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val c = Tables.customer(spark, d)
    val s = Tables.supplier(spark, d)
    val n = Tables.nation(spark, d)
    val r = Tables.region(spark, d).filter(col("r_name") === "ASIA")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(c),
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_lineitems"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("n_name"))
  }

  val q131Oracle: String =
    """SELECT n_name, count(*) AS n_lineitems,
       CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS revenue
       FROM customer, orders, lineitem, supplier, nation, region
       WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
       GROUP BY n_name ORDER BY n_name"""

  // ---------------------------------------------------------------- q132
  /** Winsorization (outlier clamping at exact per-group p01/p99) — the
    * classic robust-statistics cleanup a training-data pipeline runs before
    * fitting anything. Percentile thresholds are defined by RANK, not by an
    * engine's interpolation flavor: row_number over a total order
    * (value, orderkey, linenumber) picks the elements at ceil(0.01·n) and
    * ceil(0.99·n), so both engines select the same physical rows and the
    * result is bit-reproducible (the q61 exact-median pattern). The 3-row
    * bounds table broadcasts back onto the scan, so the clamp pass is
    * map-only; the exact winsorized sum uses the repo-wide decimal contract.
    * The p01/p99 thresholds are rank selections over 3-value groups — the
    * low-cardinality window trap — so they run through the BucketRank
    * two-phase form (count per price bucket, rank only the 1-2 buckets
    * containing each target rank) instead of a 3-task corpus sort;
    * Round6Spec proves the selected rows equal the plain window's.
    */
  def q132Winsorize(spark: SparkSession, d: String): DataFrame = {
    val x = Tables.lineitem(spark, d)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"))
    val bounds = BucketRank.select(x, "l_returnflag",
        bucket = floor(col("l_extendedprice") / 1000.0).cast("long"),
        ord = Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
        targets = Seq(expr("CAST(ceil(0.01 * __n) AS BIGINT)"),
          expr("CAST(ceil(0.99 * __n) AS BIGINT)")))
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_extendedprice")).as("lo"), max(col("l_extendedprice")).as("hi"))
    Tables.lineitem(spark, d)
      .select(col("l_returnflag"), col("l_extendedprice"))
      .join(broadcast(bounds), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum((col("l_extendedprice") < col("lo") || col("l_extendedprice") > col("hi"))
          .cast("long")).as("n_clamped"),
        dsum(least(greatest(col("l_extendedprice"), col("lo")), col("hi")))
          .as("winsorized_sum"),
        min(col("lo")).as("p01"), min(col("hi")).as("p99"))
      .orderBy(col("l_returnflag"))
  }

  val q132Oracle: String =
    """WITH r AS (
         SELECT l_returnflag, l_extendedprice,
           row_number() OVER (PARTITION BY l_returnflag
             ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
           count(*) OVER (PARTITION BY l_returnflag) AS n
         FROM lineitem),
       b AS (
         SELECT l_returnflag, min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
         FROM r WHERE rn = CAST(ceil(0.01 * n) AS BIGINT) OR rn = CAST(ceil(0.99 * n) AS BIGINT)
         GROUP BY l_returnflag)
       SELECT l.l_returnflag, count(*) AS n_rows,
         CAST(sum(CASE WHEN l_extendedprice < lo OR l_extendedprice > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
         CAST(CAST(sum(CAST(least(greatest(l_extendedprice, lo), hi) AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS winsorized_sum,
         min(lo) AS p01, min(hi) AS p99
       FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
       GROUP BY l.l_returnflag ORDER BY l.l_returnflag"""

  // ---------------------------------------------------------------- q137
  /** Recursive CTE (Spark 4 `WITH RECURSIVE`) — hierarchy/graph walks as
    * declarative SQL: each recursion step is a distributed JOIN of the
    * frontier against the table (Spark plans a UnionLoop — the same
    * iterate-to-fixpoint shape q97's connected components hand-rolls, but
    * engine-managed). The walk is a binary tree over custkeys (children
    * 2k/2k+1), so depth counts/sums have a closed form the oracle pins and
    * the recursion genuinely iterates log₂(n) times.
    *
    * Scale shape (round-15 fix, caught by the sf10 rehearsal): the
    * child-edge condition is spelled `c_custkey DIV 2 = k` rather than the
    * equivalent `c_custkey = 2k OR c_custkey = 2k+1` — an OR of equalities
    * is not an equi-join to Catalyst, so every recursion step planned a
    * broadcast-NESTED-LOOP of frontier × customer: ~10¹² comparisons at
    * the sf10 replica (385 s; the widest frontier is ~half the key space
    * against 1.5M customers). The DIV form hash-joins each step —
    * 385.8 → 7.9 s at sf10, 25.8 → 8.4 s at sf1: the per-iteration fixed
    * cost now dominates and the walk is ~flat per 10×. Same predicate
    * algebraically (both keys positive; 1 DIV 2 = 0 matches no frontier);
    * the oracle keeps the OR spelling, so the two engines pin the
    * semantics from both forms.
    */
  def q137RecursiveCte(spark: SparkSession, d: String): DataFrame = {
    Tables.customer(spark, d).createOrReplaceTempView("customer_rec")
    spark.sql(
      """WITH RECURSIVE walk(k, depth) AS (
           SELECT CAST(1 AS BIGINT) AS k, 0 AS depth
           UNION ALL
           SELECT c.c_custkey, w.depth + 1
           FROM walk w JOIN customer_rec c
             ON c.c_custkey DIV 2 = w.k)
         SELECT depth, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
         FROM walk GROUP BY depth ORDER BY depth""")
  }

  val q137Oracle: String =
    """WITH RECURSIVE walk(k, depth) AS (
         SELECT CAST(1 AS BIGINT) AS k, 0 AS depth
         UNION ALL
         SELECT c.c_custkey, w.depth + 1
         FROM walk w JOIN customer c
           ON c.c_custkey = w.k * 2 OR c.c_custkey = w.k * 2 + 1)
       SELECT depth, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
       FROM walk GROUP BY depth ORDER BY depth"""

  // ---------------------------------------------------------------- q138
  /** Correlated LATERAL subquery — per-row dependent subqueries as a join:
    * top-2 orders for each customer, where the subquery references the
    * outer row (q67's LATERAL VIEW only explodes; this is the correlated
    * form). Catalyst decorrelates the LIMIT-per-key subquery into a
    * window-rank under the hood — the q16 plan — so the declarative form
    * costs what the hand-written one does. Ties broken by o_orderkey →
    * total order → full oracle (DuckDB runs the identical statement).
    */
  def q138LateralTopk(spark: SparkSession, d: String): DataFrame = {
    Tables.customer(spark, d).createOrReplaceTempView("customer_lat")
    Tables.orders(spark, d).createOrReplaceTempView("orders_lat")
    spark.sql(
      """SELECT c_custkey, o_orderkey, o_totalprice
         FROM customer_lat,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders_lat
                  WHERE o_custkey = c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
         WHERE c_custkey < 100
         ORDER BY c_custkey, o_totalprice DESC, o_orderkey""")
  }

  val q138Oracle: String =
    """SELECT c_custkey, o_orderkey, o_totalprice
       FROM customer,
       LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                WHERE o_custkey = c_custkey
                ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
       WHERE c_custkey < 100
       ORDER BY c_custkey, o_totalprice DESC, o_orderkey"""

  // ---------------------------------------------------------------- q170
  /** Skyline (Pareto frontier) — parts no other part beats on BOTH axes
    * (cheaper-or-equal price AND bigger-or-equal size, strictly better on
    * one): the multi-criteria shortlist query (best price/quality offers,
    * best latency/cost configs). The textbook formulation is the quadratic
    * NOT EXISTS self-join — the oracle runs exactly that, which keeps it
    * algorithm-independent. The engine instead sorts the price axis and
    * keeps rows whose size exceeds every preceding max:
    *   1. collapse to per-price max size (one hash aggregate — dominance
    *      within a price group is decided by the group max);
    *   2. prefix-max of size over strictly-lower prices via the TWO-PHASE
    *      pattern (bucket-local running max + broadcast cumulative bucket
    *      maxima — the q134/prefix-sum trick), so no global single-task
    *      window touches the per-price table;
    *   3. frontier rows (prefix-max < own max) joined back to part —
    *      a broadcast of the tiny frontier against the scan.
    * O(n log n) work and two corpus scans vs the oracle's O(n²) pairs; at
    * 100 TB the per-price table is |price domain| ≤ |corpus| and the only
    * full exchange is the initial aggregate.
    */
  def q170SkylinePareto(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = Tables.part(spark, d)
    // per-price group max size; equal-width price buckets (exact cents) for
    // the two-phase prefix max
    val g = p.groupBy(col("p_retailprice")).agg(max(col("p_size")).as("gmax"))
      .withColumn("bucket", expr("cast(round(p_retailprice * 100) as bigint) div 100000"))
    val wLocal = Window.partitionBy(col("bucket")).orderBy(col("p_retailprice"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = g.withColumn("lmax", max(col("gmax")).over(wLocal))
    val wBucket = Window.orderBy(col("bucket")) // bucket-summary-sized frame
      .rowsBetween(Window.unboundedPreceding, -1)
    // one row per bucket — the only globally-ordered window runs over the
    // bucket count, not the data
    val offsets = g.groupBy(col("bucket")).agg(max(col("gmax")).as("bmax"))
      .withColumn("omax", max(col("bmax")).over(wBucket))
      .select(col("bucket"), col("omax"))
    val frontier = local.join(broadcast(offsets), Seq("bucket"))
      .withColumn("prevmax",
        greatest(coalesce(col("lmax"), lit(Int.MinValue)),
          coalesce(col("omax"), lit(Int.MinValue))))
      .filter(col("prevmax") < col("gmax"))
      .select(col("p_retailprice").as("sky_price"), col("gmax"))
    p.join(broadcast(frontier),
        p("p_retailprice") === col("sky_price") && p("p_size") === col("gmax"))
      .select(col("p_partkey"), col("p_name"), col("p_size"), col("p_retailprice"))
      .orderBy(col("p_retailprice"), col("p_partkey"))
  }

  val q170Oracle: String =
    """SELECT p_partkey, p_name, p_size, p_retailprice
       FROM part p
       WHERE NOT EXISTS (
         SELECT 1 FROM part q
         WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
           AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
       ORDER BY p_retailprice, p_partkey"""

  // ---------------------------------------------------------------- q177
  /** WEIGHTED median — q61's exact median where each row carries a weight
    * (price weighted by quantity here; latency weighted by request count in
    * an ops table): the smallest value whose running weight reaches half
    * the group total. The group key has 3 values, so the running-sum window
    * runs as a [[BucketRank.Running]] sum rather than over the raw corpus
    * (the low-cardinality trap, SCALE.md): its (group, price-bucket) frame
    * holds each bucket's weight, offset and the group total; exactly ONE
    * bucket per group contains the half-weight crossing (2·offset < total
    * ≤ 2·(offset + bucket weight)), and only that bucket's rows, joined
    * with the filtered frame, get the running-sum window. All weights
    * exact integers; the 2·running ≥ total comparison never divides, so
    * there is no float boundary for the engines to disagree on. Round6Spec proves equality
    * with the plain-window form.
    */
  def q177WeightedMedian(spark: SparkSession, d: String): DataFrame = {
    val x = Tables.lineitem(spark, d).select(col("l_returnflag").as("g"),
      expr("cast(round(l_extendedprice * 100) as bigint)").as("c"),
      expr("cast(round(l_quantity) as bigint)").as("q"),
      col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
    val run = BucketRank.Running(Seq("g"), expr("c div 100000"), // $1000-wide buckets
      Seq(col("c"), col("ok"), col("ln")), "running" -> col("q"))
    val crossing = run.frame(x).filter(expr(
      "2 * running_off < running_total AND 2 * (running_off + running_bucket) >= running_total"))
    run(x, crossing)
      .filter(expr("2 * running >= running_total"))
      .groupBy(col("g"))
      .agg(expr("cast(min(running_total) as bigint)").as("total_qty"),
        expr("cast(min(c) as bigint)").as("wmedian_cents"))
      .withColumn("wmedian_price", expr("CAST(wmedian_cents AS DOUBLE) / 100.0"))
      .withColumnRenamed("g", "l_returnflag")
      .orderBy(col("l_returnflag"))
  }

  val q177Oracle: String =
    """WITH x AS (SELECT l_returnflag AS g,
                    CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
                    CAST(round(l_quantity) AS BIGINT) AS q,
                    l_orderkey AS ok, l_linenumber AS ln FROM lineitem),
       r AS (SELECT g, c, q,
               sum(q) OVER (PARTITION BY g ORDER BY c, ok, ln
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running,
               sum(q) OVER (PARTITION BY g) AS total FROM x)
       SELECT g AS l_returnflag, CAST(min(total) AS BIGINT) AS total_qty,
         CAST(min(c) AS BIGINT) AS wmedian_cents,
         CAST(CAST(min(c) AS BIGINT) AS DOUBLE) / 100.0 AS wmedian_price
       FROM r WHERE 2 * running >= total GROUP BY g ORDER BY g"""

  // ---------------------------------------------------------------- q179
  /** Gaps & islands — contiguous runs in an integer key space (the
    * completeness audit: which orderkey ranges are fully present in this
    * slice, where do the holes start). The classic formulation groups by
    * `key − row_number()` — a GLOBAL single-task window over the corpus;
    * this engine finds island BOUNDARIES by self-equi-joins instead
    * (a start is a key with no key−1, an end is a key with no key+1 —
    * two anti-joins, shuffle-partitioned like any equi-join), then ranks
    * only the |islands|-sized boundary tables and pairs the i-th start
    * with the i-th end. The window runs over the aggregated boundary
    * list, not the corpus — the same reduction-first discipline as q108.
    * The oracle IS the classic row_number formulation, so equality
    * certifies the anti-join rewrite.
    */
  def q179GapsIslands(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = Tables.orders(spark, d).filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("k"))
    val starts = k.join(k.select((col("k") + 1).as("k")), Seq("k"), "left_anti")
    val ends = k.join(k.select((col("k") - 1).as("k")), Seq("k"), "left_anti")
    val w = Window.orderBy(col("k")) // island-boundary frame (<= #gaps+1 rows)
    val s = starts.withColumn("rn", row_number().over(w))
      .select(col("rn"), col("k").as("island_start"))
    val e = ends.withColumn("rn", row_number().over(w))
      .select(col("rn"), col("k").as("island_end"))
    s.join(e, Seq("rn"))
      .select(col("island_start"), col("island_end"),
        (col("island_end") - col("island_start") + 1).as("island_len"))
      .orderBy(col("island_len").desc, col("island_start"))
      .limit(20)
  }

  val q179Oracle: String =
    """WITH k AS (SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F'),
       i AS (SELECT k, k - row_number() OVER (ORDER BY k) AS grp FROM k),
       isl AS (SELECT min(k) AS island_start, max(k) AS island_end,
                      max(k) - min(k) + 1 AS island_len
               FROM i GROUP BY grp)
       SELECT island_start, island_end, island_len FROM isl
       ORDER BY island_len DESC, island_start LIMIT 20"""

  // ---------------------------------------------------------------- q187
  /** Weekly percentile bands — exact p50/p90 of order value per week, the
    * SLA/revenue-band report. Rank-selected physical rows (the q61/q165
    * rule: rn over a total order, both engines pick the same rows — no
    * interpolation, no float boundary). Unlike q176's 3-value groups,
    * weeks are a HIGH-cardinality partition key, so the per-week window
    * parallelizes naturally — the case where the plain window IS the
    * right plan (see SCALE.md's low-cardinality note for the other case).
    * One exchange on week; exact cents end to end.
    */
  def q187WeeklyPercentiles(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = Tables.orders(spark, d)
      .select(date_trunc("WEEK", col("o_orderdate")).as("wk"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("c"),
        col("o_orderkey").as("ok"))
    val w = Window.partitionBy(col("wk")).orderBy(col("c"), col("ok"))
    x.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("wk"))))
      .filter(expr("rn = (n + 1) div 2 OR rn = CAST(ceil(0.9 * n) AS BIGINT)"))
      .groupBy(col("wk"))
      .agg(min(col("n")).as("n_orders"),
        expr("CAST(min(CASE WHEN rn = (n + 1) div 2 THEN c END) AS BIGINT)")
          .as("p50_cents"),
        expr("CAST(min(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN c END) AS BIGINT)")
          .as("p90_cents"))
      .orderBy(col("wk"))
  }

  val q187Oracle: String =
    """WITH x AS (SELECT date_trunc('week', o_orderdate) AS wk,
                    CAST(round(o_totalprice * 100) AS BIGINT) AS c,
                    o_orderkey AS ok
                  FROM orders),
       r AS (SELECT wk, c, row_number() OVER (PARTITION BY wk ORDER BY c, ok) AS rn,
               count(*) OVER (PARTITION BY wk) AS n FROM x)
       SELECT wk, min(n) AS n_orders,
         CAST(min(CASE WHEN rn = (n + 1) // 2 THEN c END) AS BIGINT) AS p50_cents,
         CAST(min(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN c END) AS BIGINT)
           AS p90_cents
       FROM r WHERE rn = (n + 1) // 2 OR rn = CAST(ceil(0.9 * n) AS BIGINT)
       GROUP BY wk ORDER BY wk"""

  // ---------------------------------------------------------------- q195
  /** Join-strategy HINT override — the escape hatch when Catalyst's choice
    * is wrong for operational reasons (a broadcastable dim whose broadcast
    * would evict a hotter one; a memory-tight cluster where sort-merge's
    * spill path is safer than a hash build). `hint("merge")` forces a
    * SortMergeJoin where the optimizer would broadcast (part IS
    * broadcast-sized here — that's the point), and the result must be
    * bit-identical to the unhinted plan: hints move WORK, never answers.
    * PlanSpec asserts the strategy actually flipped (SortMergeJoin
    * present, no BroadcastHashJoin) — driving the hint API is the test.
    */
  def q195JoinHints(spark: SparkSession, d: String): DataFrame =
    Tables.lineitem(spark, d)
      .join(Tables.part(spark, d).hint("merge"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        expr("CAST(CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE)").as("sum_qty"))
      .orderBy(col("p_brand"))

  val q195Oracle: String =
    """SELECT p_brand, count(*) AS n_items,
              CAST(CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS sum_qty
       FROM lineitem JOIN part ON l_partkey = p_partkey
       GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q201
  /** Grouped top-k WITH TIES — `dense_rank ≤ k`, the semantics q16's
    * row_number deliberately avoids: every row tied with the k-th value
    * survives ("top 2 quantity tiers and everyone on them"), so the
    * result size is data-dependent — 800-ish rows per group here, which
    * is exactly why reporting queries must choose the tie rule
    * consciously. dense_rank depends only on the DISTINCT values, so the
    * scale-safe plan never windows the corpus at all: aggregate to
    * (returnflag, quantity-tier) counts first — a vocab-sized frame
    * (≤ 3×50 rows here, bounded by the value domain at any corpus size) —
    * rank THAT, and the surviving-row count is the sum of tier counts at
    * dr ≤ 2. One ordinary hash aggregate over the data; the window runs
    * over the compact aggregate only.
    */
  def q201TopkWithTies(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tiers = Tables.lineitem(spark, d)
      .withColumn("q", expr("cast(round(l_quantity) as bigint)"))
      .groupBy(col("l_returnflag"), col("q"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("q").desc)
    tiers.withColumn("dr", dense_rank().over(w))
      .filter(col("dr") <= 2)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("cnt")).as("n_rows"),
        expr("cast(min(q) as bigint)").as("min_q"))
      .orderBy(col("l_returnflag"))
  }

  val q201Oracle: String =
    """WITH r AS (SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS q,
             dense_rank() OVER (PARTITION BY l_returnflag
               ORDER BY CAST(round(l_quantity) AS BIGINT) DESC) AS dr
           FROM lineitem)
       SELECT l_returnflag, count(*) AS n_rows, CAST(min(q) AS BIGINT) AS min_q
       FROM r WHERE dr <= 2 GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q202
  /** Share-of-parent contribution — each nation's revenue share within
    * its region and each region's share of total: the drill-down
    * contribution report behind every "which segment drives this"
    * question. Three broadcast dimension joins collapse the fact table to
    * a |nations|-row aggregate; BOTH share levels are windows over that
    * compact frame (no second corpus pass, no scalar subqueries). Exact
    * cents; each share is one correctly-rounded division of exact sums.
    */
  def q202ShareOfParent(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nr = Tables.orders(spark, d)
      .join(broadcast(Tables.customer(spark, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name").as("nation"), col("r_name").as("region"))
      .agg(expr("cast(sum(cast(cast(round(o_totalprice * 100) as bigint) as decimal(38,0))) as bigint)")
        .as("rev"))
    nr.withColumn("share_of_region", expr(
        "CAST(rev AS DOUBLE) / CAST(sum(rev) OVER (PARTITION BY region) AS DOUBLE)"))
      .withColumn("region_share", expr(
        "CAST(sum(rev) OVER (PARTITION BY region) AS DOUBLE) / CAST(sum(rev) OVER () AS DOUBLE)"))
      .orderBy(col("region"), col("nation"))
  }

  val q202Oracle: String =
    """WITH nr AS (SELECT n.n_name AS nation, r.r_name AS region,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN nation n ON c.c_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
           GROUP BY 1, 2)
       SELECT nation, region, rev,
         CAST(rev AS DOUBLE) / CAST(sum(rev) OVER (PARTITION BY region) AS DOUBLE)
           AS share_of_region,
         CAST(sum(rev) OVER (PARTITION BY region) AS DOUBLE)
           / CAST(sum(rev) OVER () AS DOUBLE) AS region_share
       FROM nr ORDER BY region, nation"""

  // ---------------------------------------------------------------- q207
  /** Collation-aware grouping (Spark 4 collations) — case-insensitive
    * GROUP BY via `collate(col, 'UTF8_LCASE')` instead of rewriting the
    * data through lower(): the collation changes COMPARISON semantics, so
    * grouping, joins, and DISTINCT all fold case without touching bytes —
    * the engine-level answer to mixed-case dimension values from sloppy
    * feeds. The fixture derives a deterministic mixed-case segment column
    * (three case styles by custkey mod 3), groups under UTF8_LCASE, and
    * emits the lower() normalization of each group so the oracle (which
    * has no collations) replays it as GROUP BY lower(...) — equality
    * certifies that collation grouping ≡ normalize-then-group.
    */
  def q207CollationGroup(spark: SparkSession, d: String): DataFrame =
    Tables.customer(spark, d)
      .withColumn("seg_mixed", expr(
        """CASE WHEN c_custkey % 3 = 0 THEN lower(c_mktsegment)
                WHEN c_custkey % 3 = 1 THEN initcap(lower(c_mktsegment))
                ELSE c_mktsegment END"""))
      .groupBy(expr("collate(seg_mixed, 'UTF8_LCASE')").as("seg"))
      .agg(count(lit(1)).as("n_customers"))
      .select(lower(col("seg")).as("segment"), col("n_customers"))
      .orderBy(col("segment"))

  val q207Oracle: String =
    """WITH m AS (SELECT CASE WHEN c_custkey % 3 = 0 THEN lower(c_mktsegment)
                              WHEN c_custkey % 3 = 1
                                THEN upper(substr(lower(c_mktsegment), 1, 1))
                                     || substr(lower(c_mktsegment), 2)
                              ELSE c_mktsegment END AS seg_mixed
                 FROM customer)
       SELECT lower(seg_mixed) AS segment, count(*) AS n_customers
       FROM m GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q215
  /** Per-group min-max feature scaling — (x − min)/(max − min) onto [0,1],
    * the feature-prep normalization every model input pass runs. Bounds
    * are a K-row broadcast (one aggregate), the scaling is map-only, and
    * the certified aggregate follows the dsum discipline: each scaled
    * value is the SAME two IEEE ops in both engines, quantized to
    * DECIMAL(25,6) before summing so the total is order-independent — a
    * raw float sum of 60k divisions would be merge-order noise.
    */
  def q215MinmaxScaling(spark: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(spark, d)
    val bounds = li.groupBy(col("l_returnflag").as("g"))
      .agg(min(col("l_extendedprice")).as("lo"), max(col("l_extendedprice")).as("hi"))
    li.join(broadcast(bounds), col("l_returnflag") === col("g"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(CAST(sum(CAST((l_extendedprice - lo) / (hi - lo) AS DECIMAL(25,6))) AS STRING) AS DOUBLE)")
          .as("scaled_sum"),
        min(col("lo")).as("lo"), max(col("hi")).as("hi"))
      .orderBy(col("l_returnflag"))
  }

  val q215Oracle: String =
    """WITH b AS (SELECT l_returnflag AS g, min(l_extendedprice) AS lo,
                    max(l_extendedprice) AS hi
                  FROM lineitem GROUP BY 1)
       SELECT l.l_returnflag, count(*) AS n,
         CAST(CAST(sum(CAST((l_extendedprice - lo) / (hi - lo) AS DECIMAL(25,6))) AS STRING) AS DOUBLE)
           AS scaled_sum,
         min(lo) AS lo, max(hi) AS hi
       FROM lineitem l JOIN b ON l.l_returnflag = b.g
       GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q418
  /** TUKEY IQR FENCES per group — THE textbook outlier rule (box-plot
    * whiskers: outside [Q1 − 1.5·IQR, Q3 + 1.5·IQR]), the rank-based
    * companion to q176's median/MAD and q132's percentile clamp, exact
    * end to end: type-7 (linear-interpolated) quartiles live on the
    * ×4 integer lattice — pos = (n−1)/4 in QUARTERS, so Q1_x4 =
    * v[lo]·(4−rem) + v[lo+1]·rem is an exact integer — and the 1.5·IQR
    * fences live on the ×8 lattice (fence_lo_x8 = 5·Q1_x4 − 3·Q3_x4),
    * so the outlier comparison v·8 < fence is pure integers, no float
    * boundary anywhere. Scale shape: quartile ROWS are selected by the
    * q134/q132 two-phase bucket rank ([[BucketRank.select]] — never a
    * single-task per-group sort), bounds broadcast back, one
    * counting pass. 3 lineitem scans total (counts + selection +
    * outlier count), plan-ceilinged. Full oracle replays rank selection
    * and both lattices.
    */
  def q418TukeyFences(spark: SparkSession, d: String): DataFrame = {
    val x = Tables.lineitem(spark, d)
      .select(col("l_returnflag"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("v"),
        col("l_orderkey"), col("l_linenumber"))
    val sel = BucketRank.select(x, "l_returnflag",
      bucket = expr("v div 100000"),
      ord = Seq(col("v"), col("l_orderkey"), col("l_linenumber")),
      targets = Seq(expr("1 + (__n - 1) div 4"), expr("2 + (__n - 1) div 4"),
        expr("1 + (3 * (__n - 1)) div 4"), expr("2 + (3 * (__n - 1)) div 4")))
    val qs = sel.groupBy(col("l_returnflag"))
      .agg(max(col("__n")).as("n_rows"),
        expr("""cast(sum(CASE WHEN __grank = 1 + (__n - 1) div 4 THEN v * (4 - (__n - 1) % 4) ELSE 0 END
             + CASE WHEN __grank = 2 + (__n - 1) div 4 THEN v * ((__n - 1) % 4) ELSE 0 END) as bigint)""").as("q1_x4"),
        expr("""cast(sum(CASE WHEN __grank = 1 + (3 * (__n - 1)) div 4 THEN v * (4 - (3 * (__n - 1)) % 4) ELSE 0 END
             + CASE WHEN __grank = 2 + (3 * (__n - 1)) div 4 THEN v * ((3 * (__n - 1)) % 4) ELSE 0 END) as bigint)""").as("q3_x4"))
    Tables.lineitem(spark, d)
      .select(col("l_returnflag"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("v"))
      .join(broadcast(qs), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(max(col("n_rows")).as("n_rows"),
        max(col("q1_x4")).as("q1_x4"), max(col("q3_x4")).as("q3_x4"),
        expr("cast(sum(CASE WHEN v * 8 < 5 * q1_x4 - 3 * q3_x4 THEN 1 ELSE 0 END) as bigint)")
          .as("n_low_outliers"),
        expr("cast(sum(CASE WHEN v * 8 > 5 * q3_x4 - 3 * q1_x4 THEN 1 ELSE 0 END) as bigint)")
          .as("n_high_outliers"))
      .withColumn("iqr_x4", expr("q3_x4 - q1_x4"))
      .select(col("l_returnflag"), col("n_rows"), col("q1_x4"), col("q3_x4"),
        col("iqr_x4"), col("n_low_outliers"), col("n_high_outliers"))
      .orderBy(col("l_returnflag"))
  }

  val q418Oracle: String =
    """WITH x AS (SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
             l_orderkey, l_linenumber FROM lineitem),
       r AS (SELECT l_returnflag, v,
               row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY v, l_orderkey, l_linenumber) AS rn,
               count(*) OVER (PARTITION BY l_returnflag) AS n
             FROM x),
       qs AS (SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN rn = 1 + (n - 1) // 4 THEN v * (4 - (n - 1) % 4) ELSE 0 END
                  + CASE WHEN rn = 2 + (n - 1) // 4 THEN v * ((n - 1) % 4) ELSE 0 END) AS BIGINT) AS q1_x4,
               CAST(sum(CASE WHEN rn = 1 + (3 * (n - 1)) // 4 THEN v * (4 - (3 * (n - 1)) % 4) ELSE 0 END
                  + CASE WHEN rn = 2 + (3 * (n - 1)) // 4 THEN v * ((3 * (n - 1)) % 4) ELSE 0 END) AS BIGINT) AS q3_x4
             FROM r GROUP BY 1)
       SELECT x.l_returnflag, qs.n_rows, qs.q1_x4, qs.q3_x4,
         CAST(qs.q3_x4 - qs.q1_x4 AS BIGINT) AS iqr_x4,
         CAST(sum(CASE WHEN x.v * 8 < 5 * qs.q1_x4 - 3 * qs.q3_x4 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
         CAST(sum(CASE WHEN x.v * 8 > 5 * qs.q3_x4 - 3 * qs.q1_x4 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
       FROM x JOIN qs ON qs.l_returnflag = x.l_returnflag
       GROUP BY 1, 2, 3, 4, 5 ORDER BY 1"""

  // ---------------------------------------------------------------- q420
  /** TOP-K WITH AN 'OTHER' ROLLUP — the universal reporting pattern no
    * single relational operator gives (top-N truncation silently DROPS
    * the tail; a report needs it accounted): per order priority, the 3
    * highest-revenue weeks keep their identity and every other week
    * folds into one 'OTHER' row carrying the residual revenue and the
    * folded week count — so each priority's rows still sum to its exact
    * total (the conservation property top-N alone breaks). Rank over
    * the |weeks|×|priorities| aggregate (tiny frame), exact cents.
    * Full oracle.
    */
  def q420TopkOthers(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekly = Tables.orders(spark, d)
      .groupBy(col("o_orderpriority").as("priority"),
        expr("cast(date_trunc('week', o_orderdate) as date)").as("week"))
      .agg(expr("cast(sum(cast(round(o_totalprice * 100) as decimal(38,0))) as decimal(38,0))").as("r"),
        count(lit(1)).as("n_orders"))
    val w = Window.partitionBy(col("priority"))
      .orderBy(col("r").desc, col("week").asc)
    weekly.withColumn("rk", row_number().over(w))
      .withColumn("bucket",
        expr("CASE WHEN rk <= 3 THEN cast(week as string) ELSE 'OTHER' END"))
      .groupBy(col("priority"), col("bucket"))
      .agg(expr("cast(sum(r) as bigint)").as("revenue_cents"),
        expr("cast(sum(n_orders) as bigint)").as("n_orders"),
        count(lit(1)).as("n_weeks"))
      .orderBy(col("priority"), col("revenue_cents").desc, col("bucket"))
  }

  val q420Oracle: String =
    """WITH weekly AS (SELECT o_orderpriority AS priority,
             date_trunc('week', o_orderdate) AS week,
             sum(CAST(round(o_totalprice * 100) AS HUGEINT)) AS r,
             CAST(count(*) AS BIGINT) AS n_orders
           FROM orders GROUP BY 1, 2),
       rk AS (SELECT *, row_number() OVER (PARTITION BY priority
                ORDER BY r DESC, week ASC) AS rk FROM weekly)
       SELECT priority,
         CASE WHEN rk <= 3 THEN CAST(week AS VARCHAR) ELSE 'OTHER' END AS bucket,
         CAST(sum(r) AS BIGINT) AS revenue_cents,
         CAST(sum(n_orders) AS BIGINT) AS n_orders,
         CAST(count(*) AS BIGINT) AS n_weeks
       FROM rk GROUP BY 1, 2
       ORDER BY priority, revenue_cents DESC, bucket"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q418_tukey_fences" -> q418TukeyFences _,
    "q420_topk_others" -> q420TopkOthers _,
    "q215_minmax_scaling" -> q215MinmaxScaling _,
    "q207_collation_group" -> q207CollationGroup _,
    "q201_topk_with_ties" -> q201TopkWithTies _,
    "q202_share_of_parent" -> q202ShareOfParent _,
    "q170_skyline_pareto" -> q170SkylinePareto _,
    "q177_weighted_median" -> q177WeightedMedian _,
    "q179_gaps_islands" -> q179GapsIslands _,
    "q187_weekly_percentiles" -> q187WeeklyPercentiles _,
    "q195_join_hints" -> q195JoinHints _,
    "q137_recursive_cte" -> q137RecursiveCte _,
    "q138_lateral_topk" -> q138LateralTopk _,
    "q154_cooccurrence_cosine" -> q154CooccurrenceCosine _,
    "q155_period_over_period" -> q155PeriodOverPeriod _,
    "q161_rfm_segmentation" -> q161RfmSegmentation _,
    "q131_star_join" -> q131StarJoin _,
    "q132_winsorize" -> q132Winsorize _,
    "q91_topk_udaf" -> q91TopKUdaf _,
    "q67_lateral_explode" -> q67LateralExplode _,
    "q61_median_exact" -> q61MedianExact _,
    "q62_approx_percentile" -> q62ApproxPercentile _,
    "q63_window_distribution" -> q63WindowDistribution _,
    "q64_window_positional" -> q64WindowPositional _,
    "q55_pivot" -> q55Pivot _,
    "q56_subqueries" -> q56Subqueries _,
    "q57_null_funcs" -> q57NullFuncs _,
    "q53_stats_agg" -> q53StatsAgg _,
    "q54_arg_agg" -> q54ArgAgg _,
    "q47_join_right_outer" -> q47JoinRightOuter _,
    "q48_grouping_sets" -> q48GroupingSets _,
    "q49_window_range_frame" -> q49WindowRangeFrame _,
    "q01_agg_pricing_summary" -> q01PricingSummary _,
    "q02_filter_project" -> q02FilterProject _,
    "q03_join_inner_broadcast" -> q03JoinBroadcast _,
    "q04_join_left_outer" -> q04JoinLeftOuter _,
    "q05_join_semi" -> q05JoinSemi _,
    "q06_join_anti" -> q06JoinAnti _,
    "q07_join_full_outer" -> q07JoinFullOuter _,
    "q08_join_theta" -> q08JoinTheta _,
    "q09_count_distinct" -> q09CountDistinct _,
    "q10_approx_count_distinct" -> q10ApproxDistinct _,
    "q11_rollup" -> q11Rollup _,
    "q12_cube" -> q12Cube _,
    "q13_window_rank" -> q13WindowRank _,
    "q14_window_running" -> q14WindowRunning _,
    "q15_topk" -> q15TopK _,
    "q16_grouped_topk" -> q16GroupedTopK _,
    "q17_set_ops" -> q17SetOps _,
    "q18_sql_values" -> q18SqlValues _,
    "q76_unpivot" -> q76Unpivot _,
    "q77_cms_heavy_hitters" -> q77CmsHeavyHitters _,
    "q120_hll_sketch_merge" -> q120HllMerge _,
    "q123_frequent_pairs" -> q123FrequentPairs _)

  val oracles: Map[String, String] = Map(
    "q418_tukey_fences" -> q418Oracle,
    "q420_topk_others" -> q420Oracle,
    "q215_minmax_scaling" -> q215Oracle,
    "q207_collation_group" -> q207Oracle,
    "q201_topk_with_ties" -> q201Oracle,
    "q202_share_of_parent" -> q202Oracle,
    "q170_skyline_pareto" -> q170Oracle,
    "q177_weighted_median" -> q177Oracle,
    "q179_gaps_islands" -> q179Oracle,
    "q187_weekly_percentiles" -> q187Oracle,
    "q195_join_hints" -> q195Oracle,
    "q137_recursive_cte" -> q137Oracle,
    "q138_lateral_topk" -> q138Oracle,
    "q154_cooccurrence_cosine" -> q154Oracle,
    "q155_period_over_period" -> q155Oracle,
    "q161_rfm_segmentation" -> q161Oracle,
    "q131_star_join" -> q131Oracle,
    "q132_winsorize" -> q132Oracle,
    "q120_hll_sketch_merge" -> q120Oracle,
    "q123_frequent_pairs" -> q123Oracle,
    "q91_topk_udaf" -> q91Oracle,
    "q67_lateral_explode" -> q67Oracle,
    "q61_median_exact" -> q61Oracle,
    "q63_window_distribution" -> q63Oracle,
    "q64_window_positional" -> q64Oracle,
    "q55_pivot" -> q55Oracle,
    "q56_subqueries" -> q56Oracle,
    "q57_null_funcs" -> q57Oracle,
    "q53_stats_agg" -> q53Oracle,
    "q54_arg_agg" -> q54Oracle,
    "q47_join_right_outer" -> q47Oracle,
    "q48_grouping_sets" -> q48Oracle,
    "q49_window_range_frame" -> q49Oracle,
    "q01_agg_pricing_summary" -> q01Oracle,
    "q02_filter_project" -> q02Oracle,
    "q03_join_inner_broadcast" -> q03Oracle,
    "q04_join_left_outer" -> q04Oracle,
    "q05_join_semi" -> q05Oracle,
    "q06_join_anti" -> q06Oracle,
    "q07_join_full_outer" -> q07Oracle,
    "q08_join_theta" -> q08Oracle,
    "q09_count_distinct" -> q09Oracle,
    "q10_approx_count_distinct" -> q10Oracle,
    "q62_approx_percentile" -> q62Oracle,
    "q11_rollup" -> q11Oracle,
    "q12_cube" -> q12Oracle,
    "q13_window_rank" -> q13Oracle,
    "q14_window_running" -> q14Oracle,
    "q15_topk" -> q15Oracle,
    "q16_grouped_topk" -> q16Oracle,
    "q17_set_ops" -> q17Oracle,
    "q18_sql_values" -> q18Oracle,
    "q76_unpivot" -> q76Oracle,
    "q77_cms_heavy_hitters" -> q77Oracle)
}
