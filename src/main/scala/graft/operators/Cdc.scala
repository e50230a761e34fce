package graft.operators

import graft.core.Pin._
import graft.sources.Tables

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Change-data-capture primitives: diff two snapshots of a table into
  * added / deleted / changed rows. The reference pipeline reloads whole
  * tables on every run (`if_exists='replace'`, /root/reference/pipeline.py:213);
  * snapshot diffing is what replaces that at warehouse scale — ship the
  * delta, not the table.
  *
  * 100 TB shape: one full-outer shuffle join on the key (both sides hash-
  * partitioned by the same key → co-located compare), change predicate
  * evaluated columnar per row, output is the (usually tiny) delta. With
  * bucketed/pre-partitioned snapshots (q101's layout) even that shuffle
  * disappears.
  */
object Cdc {

  /** Row-level diff of `newer` vs `older` keyed by `keyCol`; rows whose
    * `compareCols` all match are dropped as unchanged.
    * Output: key, change_type ∈ {added, deleted, changed}.
    */
  def snapshotDiff(older: DataFrame, newer: DataFrame, keyCol: String,
                   compareCols: Seq[String]): DataFrame = {
    val o = older.select((keyCol +: compareCols).map(col): _*).as("o")
    val n = newer.select((keyCol +: compareCols).map(col): _*).as("n")
    val joined = o.join(n, col(s"o.$keyCol") === col(s"n.$keyCol"), "full_outer")
    val changed = compareCols
      .map(c => !(col(s"o.$c") <=> col(s"n.$c")))
      .reduce(_ || _)
    joined
      .withColumn("change_type",
        when(col(s"o.$keyCol").isNull, lit("added"))
          .when(col(s"n.$keyCol").isNull, lit("deleted"))
          .when(changed, lit("changed")))
      .filter(col("change_type").isNotNull)
      .select(coalesce(col(s"o.$keyCol"), col(s"n.$keyCol")).as(keyCol),
        col("change_type"))
  }

  // ---------------------------------------------------------------- q102
  /** Snapshot diff driven end-to-end on a synthetically evolved orders
    * snapshot: every 97th order deleted, every 100th repriced (+1.00), and
    * one synthetic insert per 500th key. Fully deterministic construction →
    * full DuckDB oracle replaying the same evolution.
    */
  def q102SnapshotDiff(spark: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val evolved = orders
      .filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 100 === 0, col("o_totalprice") + 1.0d)
          .otherwise(col("o_totalprice")))
      .unionByName(orders.filter(col("o_orderkey") % 500 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice")))
    snapshotDiff(orders, evolved, "o_orderkey",
        Seq("o_orderstatus", "o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val q102Oracle: String =
    """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
       n AS (
         SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice
         FROM o WHERE o_orderkey % 97 <> 0
         UNION ALL
         SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
         FROM o WHERE o_orderkey % 500 = 0),
       j AS (
         SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'deleted'
                WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                  OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                  THEN 'changed' END AS change_type
         FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
       SELECT o_orderkey, change_type FROM j
       WHERE change_type IS NOT NULL ORDER BY o_orderkey"""

  // ---------------------------------------------------------------- q112
  /** Incremental aggregate maintenance (materialized-view refresh from CDC
    * deltas): given a maintained per-group aggregate of snapshot v1 and the
    * keyed row-level diff v1→v2, produce v2's aggregate WITHOUT rescanning
    * v2 — every diff row contributes (-1, -old value) to its old group and
    * (+1, +new value) to its new group; unchanged rows contribute nothing.
    * At 100 TB this is the difference between shuffling |delta| rows and
    * shuffling the corpus on every refresh — the standard incremental-view
    * argument. Money moves as integer cents (the q53 pattern) so increments
    * are exact: a float running sum would drift from the recomputed truth
    * and the certificate below would be unfalsifiable.
    *
    * Returns per-group (group, n_rows, total) of v2, computed incrementally.
    */
  def incrementalAggMaintain(older: DataFrame, newer: DataFrame, keyCol: String,
                             groupCol: String, valueCol: String): DataFrame = {
    def cents(c: org.apache.spark.sql.Column) = round(c * 100).cast("long")
    val v1 = older.groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n"), sum(cents(col(valueCol))).as("c"))
    val o = older.select(col(keyCol).as("k"), col(groupCol).as("og"),
      cents(col(valueCol)).as("oc"))
    val n = newer.select(col(keyCol).as("k"), col(groupCol).as("ng"),
      cents(col(valueCol)).as("nc"))
    val diff = o.join(n, Seq("k"), "full_outer")
      .filter(!(col("og") <=> col("ng")) || !(col("oc") <=> col("nc")))
    // one pass: each diff row explodes into its retract/insert increments
    // (the old two-filtered-branches union executed the diff join twice)
    val delta = diff
      .select(explode(array(
        when(col("og").isNotNull,
          struct(col("og").as("g"), lit(-1L).as("dn"), (-col("oc")).as("dc"))),
        when(col("ng").isNotNull,
          struct(col("ng").as("g"), lit(1L).as("dn"), col("nc").as("dc"))))).as("__d"))
      .filter(col("__d").isNotNull)
      .select(col("__d.*"))
      .groupBy(col("g")).agg(sum(col("dn")).as("dn"), sum(col("dc")).as("dc"))
    v1.join(delta, Seq("g"), "full_outer")
      .select(col("g"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n2"),
        (coalesce(col("c"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("c2"))
      .filter(col("n2") > 0)
      .select(col("g").as(groupCol), col("n2").as("n_rows"),
        (col("c2") / 100.0).as("total"))
  }

  /** Incremental maintenance driven end-to-end on q102's evolved snapshot,
    * CERTIFIED against the full recompute inside the query: the emitted
    * per-status rows are the incremental path's, the boolean is
    * "incremental == recomputed-from-v2" per group — exact because both
    * paths sum identical integer cents. The oracle recomputes v2's
    * aggregate directly.
    */
  def q112IncrementalAgg(spark: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val evolved = orders
      .filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 100 === 0, col("o_totalprice") + 1.0d)
          .otherwise(col("o_totalprice")))
      .unionByName(orders.filter(col("o_orderkey") % 500 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice")))
    val inc = incrementalAggMaintain(orders, evolved,
      "o_orderkey", "o_orderstatus", "o_totalprice")
    val full = evolved.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("fn"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("fc"))
    inc.join(full, "o_orderstatus")
      .select(col("o_orderstatus"), col("n_rows"), col("total"),
        (col("n_rows") === col("fn") &&
          col("total") === col("fc") / 100.0).as("incremental_ok"))
      .orderBy(col("o_orderstatus"))
  }

  val q112Oracle: String =
    """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
       n AS (
         SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice
         FROM o WHERE o_orderkey % 97 <> 0
         UNION ALL
         SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
         FROM o WHERE o_orderkey % 500 = 0),
       a AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
                    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c
             FROM n GROUP BY o_orderstatus)
       SELECT o_orderstatus, n_rows, c / 100.0 AS total, true AS incremental_ok
       FROM a ORDER BY o_orderstatus"""

  // ---------------------------------------------------------------- q126
  /** SCD Type-2 history build — turn two table snapshots into versioned
    * dimension rows with validity ranges (the warehouse-history op that
    * makes "what was this customer's segment LAST March" answerable):
    *  - unchanged row → one open version (valid_from = v1 date);
    *  - changed row → the old version CLOSED at the v2 date + a new open
    *    version;
    *  - deleted row → old version closed; added row → new open version.
    * Same one full-outer co-partitioned join as [[snapshotDiff]] — the
    * history is derived columnar from the (old, new) pair, no second pass.
    * Restricted to keys IN the delta (unchanged keys emit no new history).
    */
  def scd2Delta(older: DataFrame, newer: DataFrame, keyCol: String,
                compareCols: Seq[String], v1Date: String, v2Date: String): DataFrame = {
    val o = older.select((keyCol +: compareCols).map(col): _*).as("o")
    val n = newer.select((keyCol +: compareCols).map(col): _*).as("n")
    val joined = o.join(n, col(s"o.$keyCol") === col(s"n.$keyCol"), "full_outer")
    val changed = compareCols.map(c => !(col(s"o.$c") <=> col(s"n.$c"))).reduce(_ || _)
    val inDelta = joined.filter(
      col(s"o.$keyCol").isNull || col(s"n.$keyCol").isNull || changed)
    // ONE pass over the delta: each (old, new) pair explodes into its 1–2
    // history rows. The closed-old/open-new split used to be two filtered
    // re-reads of this subtree unioned back together — the full-outer join
    // (and everything under it) executed twice per refresh.
    def hist(side: String, from: Column, to: Column): Column = struct(
      (col(s"$side.$keyCol").as(keyCol) +:
        compareCols.map(c => col(s"$side.$c").as(c))) ++
        Seq(from.as("valid_from"), to.as("valid_to")): _*)
    inDelta
      .select(explode(array(
        when(col(s"o.$keyCol").isNotNull,
          hist("o", lit(v1Date), lit(v2Date))),
        when(col(s"n.$keyCol").isNotNull,
          hist("n", lit(v2Date), lit(null).cast("string"))))).as("__h"))
      .filter(col("__h").isNotNull)
      .select(col("__h.*"))
  }

  /** SCD2 over q102's evolved snapshot — fully deterministic → full oracle
    * replaying the same evolution and history rules.
    */
  def q126Scd2(spark: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val evolved = orders
      .filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 100 === 0, col("o_totalprice") + 1.0d)
          .otherwise(col("o_totalprice")))
      .unionByName(orders.filter(col("o_orderkey") % 500 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice")))
    scd2Delta(orders, evolved, "o_orderkey", Seq("o_orderstatus", "o_totalprice"),
        v1Date = "2024-01-01", v2Date = "2024-02-01")
      .orderBy(col("o_orderkey"), col("valid_from"))
  }

  val q126Oracle: String =
    """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
       n AS (
         SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice
         FROM o WHERE o_orderkey % 97 <> 0
         UNION ALL
         SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
         FROM o WHERE o_orderkey % 500 = 0),
       j AS (
         SELECT o.o_orderkey AS ok, n.o_orderkey AS nk,
                o.o_orderstatus AS os, o.o_totalprice AS op,
                n.o_orderstatus AS ns, n.o_totalprice AS np
         FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey),
       d AS (
         SELECT * FROM j
         WHERE ok IS NULL OR nk IS NULL
            OR os IS DISTINCT FROM ns OR op IS DISTINCT FROM np)
       SELECT ok AS o_orderkey, os AS o_orderstatus, op AS o_totalprice,
              '2024-01-01' AS valid_from, '2024-02-01' AS valid_to
       FROM d WHERE ok IS NOT NULL
       UNION ALL
       SELECT nk, ns, np, '2024-02-01', NULL FROM d WHERE nk IS NOT NULL
       ORDER BY o_orderkey, valid_from"""

  // ---------------------------------------------------------------- q219
  /** Point-in-time reconstruction over SCD2 history — the CONSUMER side of
    * q126 (building history is half the job; answering "what did this
    * table look like on date T" is the other half): a validity-range
    * filter over the history rows plus the unchanged keys anti-joined from
    * the base snapshot. Certified the strong way: the reconstruction at a
    * T inside [v1, v2) must equal the ORIGINAL snapshot and at a T after
    * v2 the EVOLVED one — the oracle computes both target snapshots
    * directly (never touching the history table), so checksum equality
    * proves round-trip fidelity including deletes (absent after v2) and
    * inserts (absent before it). Scale: the asof filter is a scan
    * predicate on validity columns — at 100 TB the history table is
    * partitioned by valid_from and the filter prunes.
    */
  def q219PointInTime(spark: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val evolved = orders
      .filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 100 === 0, col("o_totalprice") + 1.0d)
          .otherwise(col("o_totalprice")))
      .unionByName(orders.filter(col("o_orderkey") % 500 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice")))
    val hist = scd2Delta(orders, evolved, "o_orderkey",
      Seq("o_orderstatus", "o_totalprice"),
      v1Date = "2024-01-01", v2Date = "2024-02-01").pin(SizedBy("changed-rows")) // SCD2 delta; read by 3 readout legs
    val changedKeys = hist.select(col("o_orderkey")).distinct()
    def asOf(t: String): DataFrame =
      hist.filter(col("valid_from") <= lit(t) &&
          (col("valid_to").isNull || col("valid_to") > lit(t)))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .unionByName(orders.join(changedKeys, Seq("o_orderkey"), "left_anti"))
    def summarize(df: DataFrame, t: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          expr("cast(sum(o_orderkey) as bigint)").as("key_sum"),
          expr("cast(sum(cast(cast(round(o_totalprice * 100) as bigint) as decimal(38,0))) as bigint)")
            .as("cents_sum"))
        .select(lit(t).as("asof_date"), col("n_rows"), col("key_sum"), col("cents_sum"))
    summarize(asOf("2024-01-15"), "2024-01-15")
      .unionByName(summarize(asOf("2024-02-15"), "2024-02-15"))
      .orderBy(col("asof_date"))
  }

  val q219Oracle: String =
    """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
       n AS (
         SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice
         FROM o WHERE o_orderkey % 97 <> 0
         UNION ALL
         SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
         FROM o WHERE o_orderkey % 500 = 0)
       SELECT '2024-01-15' AS asof_date, count(*) AS n_rows,
         CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum
       FROM o
       UNION ALL
       SELECT '2024-02-15', count(*),
         CAST(sum(o_orderkey) AS BIGINT),
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       FROM n
       ORDER BY asof_date"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q102_snapshot_diff" -> q102SnapshotDiff _,
    "q112_incremental_agg" -> q112IncrementalAgg _,
    "q126_scd2_history" -> q126Scd2 _,
    "q219_point_in_time" -> q219PointInTime _)

  val oracles: Map[String, String] = Map(
    "q102_snapshot_diff" -> q102Oracle,
    "q112_incremental_agg" -> q112Oracle,
    "q126_scd2_history" -> q126Oracle,
    "q219_point_in_time" -> q219Oracle)
}
