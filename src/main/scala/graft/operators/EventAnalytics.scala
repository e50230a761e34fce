package graft.operators

import graft.core.Pin._
import graft.sources.Tables

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Event-analytics operators over the events table: time-series gap
  * filling, ordered-funnel conversion, and cohort retention — the batch
  * analytics a warehouse answers daily over its event stream.
  *
  * 100 TB shapes:
  *  - gap filling generates missing rows from per-key BOUNDS (one row per
  *    key, exploded to its span) joined back to the sparse aggregates —
  *    never a calendar × keys cross join of the full corpus;
  *  - the funnel is ONE user-partitioned exchange carrying three chained
  *    whole-partition window minima (each stage's first-time conditioned on
  *    the previous stage's column) — one events scan total, and no
  *    event-level self-join of view × click × purchase (that quadratic
  *    blow-up is the classic funnel mistake);
  *  - cohort retention reduces events to distinct (user, week) FIRST (the
  *    big cardinality drop), then joins the per-user cohort week and
  *    aggregates — the join carries |users × active-weeks| rows, not
  *    |events|.
  */
object EventAnalytics {

  private def dsum(c: Column): Column = sum(c.cast(DecimalType(25, 6))).cast("double")

  // ---------------------------------------------------------------- q106
  /** Per-user daily series with gaps filled: every day between a user's
    * first and last event appears, zero-filled where the user was silent.
    */
  def gapFillDaily(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("day_value"))
    val spans = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
    val allDays = spans.select(col("user_id"),
      explode(sequence(col("first_day"), col("last_day"), expr("interval 1 day")))
        .as("day"))
    allDays.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("day_value"), lit(0.0d)).as("day_value"))
  }

  def q106GapFill(spark: SparkSession, d: String): DataFrame =
    gapFillDaily(Tables.events(spark, d))
      .orderBy(col("user_id"), col("day"))

  val q106Oracle: String =
    """WITH daily AS (
         SELECT user_id, date_trunc('day', ts) AS day, count(*) AS n_events,
                CAST(CAST(sum(CAST(value AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS day_value
         FROM events GROUP BY 1, 2),
       spans AS (
         SELECT user_id, min(day) AS first_day, max(day) AS last_day
         FROM daily GROUP BY 1),
       all_days AS (
         SELECT user_id, unnest(generate_series(first_day, last_day,
                  INTERVAL '1 day')) AS day
         FROM spans)
       SELECT a.user_id, a.day,
              coalesce(d.n_events, 0) AS n_events,
              coalesce(d.day_value, 0.0) AS day_value
       FROM all_days a LEFT JOIN daily d
         ON a.user_id = d.user_id AND a.day = d.day
       ORDER BY a.user_id, a.day"""

  // ---------------------------------------------------------------- q107
  /** Ordered conversion funnel view → click → purchase: per user, the
    * first view, the first click strictly after it, the first purchase
    * strictly after that. stage = how far the user got (1, 2, 3).
    *
    * ONE scan + ONE shuffle: each stage time is a whole-partition window
    * min chained off the previous stage's column, all over the same
    * user-partitioned exchange (round 4 chained per-stage aggregates whose
    * joins re-embedded every earlier stage's lineage — events was scanned
    * 1+2+3 = 6 times, O(n²) scans in the stage count; the q150 bug class).
    * The final per-user collapse groups rows already hash-partitioned by
    * user_id, so it adds no exchange either.
    */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.size == 3, "funnel() is specified for exactly 3 stages")
    val Seq(s1, s2, s3) = stages
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
    events
      .withColumn("t1",
        min(when(col("event_type") === s1, col("ts"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === s2 && col("ts") > col("t1"), col("ts"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === s3 && col("ts") > col("t2"), col("ts"))).over(w))
      .filter(col("t1").isNotNull) // the funnel starts at stage 1
      .groupBy(col("user_id"))
      .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"), min(col("t3")).as("t3"))
      .select(col("user_id"), col("t1"), col("t2"), col("t3"),
        (lit(1) + when(col("t2").isNotNull, 1).otherwise(0)
          + when(col("t3").isNotNull, 1).otherwise(0)).as("stage"))
  }

  def q107Funnel(spark: SparkSession, d: String): DataFrame =
    funnel(Tables.events(spark, d), Seq("view", "click", "purchase"))
      .orderBy(col("user_id"))

  val q107Oracle: String =
    """WITH f1 AS (
         SELECT user_id, min(ts) AS t1 FROM events
         WHERE event_type = 'view' GROUP BY 1),
       f2 AS (
         SELECT e.user_id, min(e.ts) AS t2
         FROM events e JOIN f1 ON e.user_id = f1.user_id
         WHERE e.event_type = 'click' AND e.ts > f1.t1 GROUP BY 1),
       f3 AS (
         SELECT e.user_id, min(e.ts) AS t3
         FROM events e JOIN f2 ON e.user_id = f2.user_id
         WHERE e.event_type = 'purchase' AND e.ts > f2.t2 GROUP BY 1)
       SELECT f1.user_id, t1, t2, t3,
              1 + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)
                + (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS stage
       FROM f1 LEFT JOIN f2 ON f1.user_id = f2.user_id
               LEFT JOIN f3 ON f1.user_id = f3.user_id
       ORDER BY f1.user_id"""

  // ---------------------------------------------------------------- q108
  /** Cohort retention: users grouped by the week of their first event;
    * for each cohort and week offset, how many distinct users were active.
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    val activity = events
      .select(col("user_id"), date_trunc("WEEK", col("ts")).as("week"))
      .distinct()
    val cohorts = activity.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    activity.join(cohorts, "user_id")
      .withColumn("week_offset",
        (datediff(col("week"), col("cohort_week")) / 7).cast("int"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  def q108CohortRetention(spark: SparkSession, d: String): DataFrame =
    cohortRetention(Tables.events(spark, d))
      .orderBy(col("cohort_week"), col("week_offset"))

  val q108Oracle: String =
    """WITH activity AS (
         SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events),
       cohorts AS (
         SELECT user_id, min(week) AS cohort_week FROM activity GROUP BY 1)
       SELECT c.cohort_week,
              CAST(datediff('day', c.cohort_week, a.week) / 7 AS INT) AS week_offset,
              count(DISTINCT a.user_id) AS n_active
       FROM activity a JOIN cohorts c ON a.user_id = c.user_id
       GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---------------------------------------------------------------- q124
  /** Rolling-window anomaly detection (monitoring over the event stream):
    * per user, each event's value is compared against the trailing-7-day
    * mean + 3σ. Cross-engine determinism uses the q53 discipline inside a
    * RANGE window: the only windowed aggregations are exact integer-cents
    * moments (n, Σc, Σc² — DECIMAL(38,0) sums of long products), and mean/
    * variance derive from them with textually identical double formulas on
    * both sides, so the 3σ comparison lands on identical bits. One
    * event-time RANGE frame per user — no self-join; at scale this is a
    * single window pass over user-partitioned data.
    */
  def q124RollingAnomaly(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, d)
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("tus"),
        expr("cast(round(value * 100) as bigint)").as("vc"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
      .rangeBetween(-604800000000L, 0L)
    val dec = "decimal(38,0)"
    ev.withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("vc").cast(dec)).over(w))
      .withColumn("sxx", sum((col("vc") * col("vc")).cast(dec)).over(w))
      .withColumn("mean_c", col("sx").cast("double") / col("n"))
      .withColumn("var_c",
        col("sxx").cast("double") / col("n") - col("mean_c") * col("mean_c"))
      .withColumn("is_anomaly",
        col("n") >= 5 &&
          col("vc").cast("double") > col("mean_c") + lit(3.0) * sqrt(greatest(col("var_c"), lit(0.0))))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), count_if(col("is_anomaly")).as("n_anomalies"))
      .orderBy(col("user_id"))
  }

  val q124Oracle: String =
    """WITH ev AS (
         SELECT user_id, epoch_us(ts) AS tus,
                CAST(round(value * 100) AS BIGINT) AS vc
         FROM events),
       win AS (
         SELECT user_id, vc,
                count(*) OVER w AS n,
                sum(CAST(vc AS DECIMAL(38,0))) OVER w AS sx,
                sum(CAST(vc * vc AS DECIMAL(38,0))) OVER w AS sxx
         FROM ev
         WINDOW w AS (PARTITION BY user_id ORDER BY tus
                      RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)),
       flags AS (
         SELECT user_id,
                n >= 5 AND CAST(vc AS DOUBLE) >
                  CAST(sx AS DOUBLE) / n +
                  3.0 * sqrt(greatest(CAST(sxx AS DOUBLE) / n -
                    (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n), 0.0))
                AS is_anomaly
         FROM win)
       SELECT user_id, count(*) AS n_events,
              CAST(count_if(is_anomaly) AS BIGINT) AS n_anomalies
       FROM flags GROUP BY user_id ORDER BY user_id"""

  // ---------------------------------------------------------------- q135
  /** A/B experiment readout — per-variant spend moments and the Welch
    * t-statistic, the decision metric of every online experiment. Unit of
    * analysis is the USER (per-user spend first, then variant moments —
    * variant assignment `user_id % 2` is a pure function of the id, so
    * assignment is reproducible and consistent across every event a user
    * emits). Exactness is the q53 integer-cents discipline: per-user cents
    * sums, variant-level Σx/Σx² as DECIMAL(38,0) (order-independent), and
    * the mean/variance/t doubles derived with TEXTUALLY IDENTICAL formulas
    * in both engines — the t-statistic is computed in cents space where the
    * scale cancels, so not even a /100 separates the engines. Plan: two
    * hash aggregates (events→users→variants) + a 2-row final pivot; the
    * events→users shuffle is the only corpus-scale exchange.
    */
  private val q135Wide: Seq[(String, String)] = Seq(
    "n0" -> "max(CASE WHEN variant = 0 THEN n END)",
    "n1" -> "max(CASE WHEN variant = 1 THEN n END)",
    "s1_0" -> "max(CASE WHEN variant = 0 THEN s1 END)",
    "s1_1" -> "max(CASE WHEN variant = 1 THEN s1 END)",
    "s2_0" -> "max(CASE WHEN variant = 0 THEN s2 END)",
    "s2_1" -> "max(CASE WHEN variant = 1 THEN s2 END)")

  private val q135Derived: Seq[(String, String)] = Seq(
    "n_control" -> "cast(n0 as bigint)",
    "n_treatment" -> "cast(n1 as bigint)",
    "mean_control" -> "s1_0 / n0 / 100.0",
    "mean_treatment" -> "s1_1 / n1 / 100.0",
    "var_control" -> "(n0 * s2_0 - s1_0 * s1_0) / (n0 * (n0 - 1)) / 10000.0",
    "var_treatment" -> "(n1 * s2_1 - s1_1 * s1_1) / (n1 * (n1 - 1)) / 10000.0",
    "welch_t" ->
      ("(s1_1 / n1 - s1_0 / n0) / sqrt(" +
        "(n1 * s2_1 - s1_1 * s1_1) / (n1 * (n1 - 1)) / n1 + " +
        "(n0 * s2_0 - s1_0 * s1_0) / (n0 * (n0 - 1)) / n0)"))

  def q135AbTest(spark: SparkSession, d: String): DataFrame = {
    val users = Tables.events(spark, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("cast(round(value * 100) as bigint)").as("vc"))
      .groupBy(col("user_id"))
      .agg(expr("cast(sum(cast(vc as decimal(38,0))) as bigint)").as("spend"))
      .withColumn("variant", expr("user_id % 2"))
    val m = users.groupBy(col("variant")).agg(
      expr("cast(count(*) as double)").as("n"),
      expr("cast(sum(cast(spend as decimal(38,0))) as double)").as("s1"),
      expr("cast(sum(cast(spend * spend as decimal(38,0))) as double)").as("s2"))
    m.agg(q135Wide.head match { case (a, e) => expr(e).as(a) },
        q135Wide.tail.map { case (a, e) => expr(e).as(a) }: _*)
      .select(q135Derived.map { case (a, e) => expr(e).as(a) }: _*)
  }

  val q135Oracle: String = {
    val wide = q135Wide.map { case (a, e) => s"$e AS $a" }.mkString(",\n           ")
    val derived = q135Derived.map { case (a, e) => s"$e AS $a" }.mkString(",\n         ")
    s"""WITH c AS (
         SELECT user_id, cast(round(value * 100) as bigint) AS vc
         FROM events WHERE event_type = 'purchase'),
       u AS (
         SELECT user_id, user_id % 2 AS variant,
           cast(sum(cast(vc as decimal(38,0))) as bigint) AS spend
         FROM c GROUP BY user_id),
       m AS (
         SELECT variant, cast(count(*) as double) AS n,
           cast(sum(cast(spend as decimal(38,0))) as double) AS s1,
           cast(sum(cast(spend * spend as decimal(38,0))) as double) AS s2
         FROM u GROUP BY variant),
       w AS (
         SELECT $wide
         FROM m)
       SELECT $derived
       FROM w"""
  }

  // ---------------------------------------------------------------- q141
  /** Time-series LINEAR INTERPOLATION fill — the sensor/metrics upgrade of
    * q106's zero-fill: missing hours take the line between their known
    * neighbors. No IGNORE-NULLS window (not portable, and Spark's
    * last_value(ignoreNulls) forces a second sort): the previous/next known
    * hour are a running max/min of `CASE WHEN known THEN h END` — PRIMITIVE
    * long window aggregates (a struct-valued max(struct(h,v)) window would
    * avoid the joins but loses the primitive codegen path and measured 2×
    * SLOWER than everything else combined) — and the neighbor VALUES come
    * back via two joins on (user, hour) against the sparse points table.
    * The points aggregate feeds four consumers (bounds, grid join, both
    * value joins), so it is pinned once (~20k rows at sf0.1)
    * instead of re-aggregated four times — the q97 lineage-truncation
    * pattern; this took the query from 12 s to ~4 s. The grid is
    * generated from per-user bounds (q106's span-explode rule — never
    * calendar × corpus); interpolation arithmetic stays INTEGER end to end
    * — the interpolated series is quantized to milli-cents by floor
    * division (numerator vp·(hn−h)+vn·(h−hp) is an exact long, ≤7·10¹⁰),
    * because a double series sum rounds differently at the DECIMAL
    * boundary in the two engines (Java's shortest-string double→decimal
    * vs DuckDB's true-binary — a 1e-6 flip per boundary row). Integer in,
    * integer out → bit-exact, full oracle. Spark spells integer division
    * `div`, DuckDB `//` (the q61 dialect split).
    */
  private def q141Interp(idiv: String): String =
    "CASE WHEN v IS NOT NULL THEN v * 1000 " +
      s"ELSE ((vp * (hn - h) + vn * (h - hp)) * 1000) $idiv (hn - hp) END"

  def q141InterpolateFill(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = Tables.events(spark, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("CAST(floor(unix_timestamp(ts) / 3600) AS BIGINT)").as("h"),
        expr("cast(round(value * 100) as bigint)").as("vc"))
      .groupBy(col("user_id"), col("h"))
      .agg(expr("cast(sum(cast(vc as decimal(38,0))) as bigint)").as("v"))
      .pin(SizedBy("user-hour")) // aggregate
    val grid = pts.groupBy(col("user_id"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("user_id"), explode(expr("sequence(h0, h1)")).as("h"))
    // Both neighbor scans are RUNNING (unbounded-preceding) frames: Spark
    // streams those in O(n) per partition, while an UNBOUNDED FOLLOWING
    // frame re-scans the partition tail per row — O(n²), measured 4× the
    // whole query's cost on the 920k-row grid. The "next known hour" is
    // therefore a running min over the REVERSED order (h DESC), which is
    // the same value by symmetry, at the price of one extra sort.
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNextRev = Window.partitionBy(col("user_id")).orderBy(col("h").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // r17: the neighbor VALUE rides the same window as the neighbor hour —
    // max/min over struct(h, v) (h is unique per user, so struct order is h
    // order and the struct carries that row's v) — instead of re-joining
    // `pts` once per side. Same running-frame O(n) windows; the two
    // (user_id, h*)-keyed joins (and their exchanges + two more pts
    // lineages) drop out of the plan. Value-identical: hp/hn are the same
    // rank selections, vp/vn the values the joins previously fetched.
    val bounded = grid.join(pts, Seq("user_id", "h"), "left")
      .withColumn("prev",
        max(expr("CASE WHEN v IS NOT NULL THEN struct(h, v) END")).over(wPrev))
      .withColumn("next",
        min(expr("CASE WHEN v IS NOT NULL THEN struct(h, v) END")).over(wNextRev))
    bounded
      .withColumn("hp", col("prev.h")).withColumn("vp", col("prev.v"))
      .withColumn("hn", col("next.h")).withColumn("vn", col("next.v"))
      .withColumn("vmc", expr(q141Interp("div")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_hours"),
        count(col("v")).as("n_known"),
        (count(lit(1)) - count(col("v"))).as("n_interp"),
        expr("cast(sum(cast(vmc as decimal(38,0))) as bigint)").as("series_mc"))
      .orderBy(col("user_id"))
  }

  val q141Oracle: String =
    s"""WITH pts AS (
         SELECT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
           cast(sum(cast(cast(round(value * 100) as bigint) as decimal(38,0))) as bigint) AS v
         FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
       grid AS (
         SELECT user_id, unnest(range(h0, h1 + 1)) AS h
         FROM (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM pts GROUP BY 1)),
       bounded AS (
         SELECT g.user_id, g.h, p.v,
           max(CASE WHEN p.v IS NOT NULL THEN g.h END) OVER
             (PARTITION BY g.user_id ORDER BY g.h
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hp,
           min(CASE WHEN p.v IS NOT NULL THEN g.h END) OVER
             (PARTITION BY g.user_id ORDER BY g.h
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS hn
         FROM grid g LEFT JOIN pts p ON p.user_id = g.user_id AND p.h = g.h),
       filled AS (
         SELECT user_id, v, ${q141Interp("//")} AS vmc FROM (
           SELECT b.user_id AS user_id, b.v AS v, pp.v AS vp, pn.v AS vn,
                  b.h AS h, b.hp AS hp, b.hn AS hn
           FROM bounded b
           JOIN pts pp ON pp.user_id = b.user_id AND pp.h = b.hp
           JOIN pts pn ON pn.user_id = b.user_id AND pn.h = b.hn))
       SELECT user_id, count(*) AS n_hours, count(v) AS n_known,
         count(*) - count(v) AS n_interp,
         cast(sum(cast(vmc as decimal(38,0))) as bigint) AS series_mc
       FROM filled GROUP BY user_id ORDER BY user_id"""

  // ---------------------------------------------------------------- q142
  /** Time-weighted average (TWAP) — the metric that weights each reading by
    * how long it was current, immune to irregular sampling (a burst of
    * events no longer dominates the mean the way q135's per-event mean
    * would). Interval weights are exact integer microseconds from
    * lead(ts); weighted sums are cents·µs long products (≤5·10¹⁶, no
    * overflow) accumulated as DECIMAL(38,0); one window pass + one
    * aggregate, shuffled once on user_id. Final doubles by shared-text
    * formulas → full oracle.
    */
  private val q142Twap: String =
    "CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE) / 100.0"

  def q142TimeWeightedAvg(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    Tables.events(spark, d)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("t"),
        expr("cast(round(value * 100) as bigint)").as("vc"))
      .withColumn("dt", lead(col("t"), 1).over(w) - col("t"))
      .filter(col("dt").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        expr("cast(sum(cast(vc * dt as decimal(38,0))) as decimal(38,0))").as("swv"),
        expr("cast(sum(cast(dt as decimal(38,0))) as decimal(38,0))").as("sw"))
      .select(col("user_id"), col("n_intervals"),
        (col("sw") / lit(3600000000L)).cast(DecimalType(25, 6)).cast("double").as("span_hours"),
        expr(q142Twap).as("twap"))
      .orderBy(col("user_id"))
  }

  val q142Oracle: String =
    s"""WITH e AS (
         SELECT user_id, event_id, epoch_us(ts) AS t,
           cast(round(value * 100) as bigint) AS vc
         FROM events),
       iv AS (
         SELECT user_id, vc,
           lead(t, 1) OVER (PARTITION BY user_id ORDER BY t, event_id) - t AS dt
         FROM e),
       m AS (
         SELECT user_id, count(*) AS n_intervals,
           cast(sum(cast(vc * dt as decimal(38,0))) as decimal(38,0)) AS swv,
           cast(sum(cast(dt as decimal(38,0))) as decimal(38,0)) AS sw
         FROM iv WHERE dt IS NOT NULL GROUP BY user_id)
       SELECT user_id, n_intervals,
         CAST(CAST(sw / 3600000000 AS DECIMAL(25,6)) AS DOUBLE) AS span_hours,
         $q142Twap AS twap
       FROM m ORDER BY user_id"""

  // ---------------------------------------------------------------- q144
  /** Event-transition matrix (first-order Markov counts + probabilities):
    * per user, each event's successor by time; counts per (from → to) pair
    * over the whole corpus — the session-flow mining behind "what do users
    * do after a click". One window pass (lead over the per-user time
    * order, ties broken by event_id → deterministic) + one vocabulary-
    * sized aggregate; probabilities are integer-count ratios derived with
    * shared-text division → bit-exact, full oracle.
    */
  def q144TransitionMatrix(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(spark, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy(col("event_type"))
      .agg(expr("cast(sum(n) as bigint)").as("tot"))
    trans.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("next_type"), col("n"),
        expr("CAST(n AS DOUBLE) / tot").as("p"))
      .orderBy(col("event_type"), col("next_type"))
  }

  val q144Oracle: String =
    """WITH t AS (
         SELECT event_type,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
         FROM events),
       c AS (SELECT event_type, next_type, count(*) AS n
             FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2),
       tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
       SELECT c.event_type, c.next_type, c.n, CAST(n AS DOUBLE) / tot AS p
       FROM c JOIN tot ON c.event_type = tot.event_type
       ORDER BY c.event_type, c.next_type"""

  // ---------------------------------------------------------------- q145
  /** Per-user OLS trend slope — "is this user's spend rising?" — from the
    * q53 exact-integer-moment machinery: x = whole minutes since the
    * user's first event (integer, ≤43k over the 30-day span — squares stay
    * tiny), y = integer cents; n/Σx/Σy/Σxy/Σx² accumulate as
    * DECIMAL(38,0), and slope/intercept come from textually identical
    * double formulas → bit-exact at any parallelism. Degenerate users
    * (all events in one minute) are filtered by an exact decimal
    * denominator test, not a double epsilon. One window (per-user min) +
    * one aggregate; shuffles on user_id once.
    */
  private val q145Derived: Seq[(String, String)] = Seq(
    "slope_cents_per_min" -> "(n * sxy - sx * sy) / (n * sxx - sx * sx)",
    "intercept_cents" -> "(sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n")

  def q145TrendSlope(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    val m = Tables.events(spark, d)
      .select(col("user_id"), expr("unix_micros(ts)").as("t"),
        expr("cast(round(value * 100) as bigint)").as("y"))
      .withColumn("x", expr("(t - min(t) OVER (PARTITION BY user_id)) div 60000000"))
      .groupBy(col("user_id"))
      .agg(
        expr("cast(count(*) as double)").as("n"),
        expr("cast(sum(cast(x as decimal(38,0))) as double)").as("sx"),
        expr("cast(sum(cast(y as decimal(38,0))) as double)").as("sy"),
        expr("cast(sum(cast(x * y as decimal(38,0))) as double)").as("sxy"),
        expr("cast(sum(cast(x * x as decimal(38,0))) as double)").as("sxx"),
        expr("cast(sum(cast(x as decimal(38,0))) as decimal(38,0))").as("sxd"),
        expr("cast(sum(cast(x * x as decimal(38,0))) as decimal(38,0))").as("sxxd"),
        count(lit(1)).as("n_events"))
      .filter(expr("n_events * sxxd <> sxd * sxd"))
    m.select(col("user_id") +: col("n_events") +:
        q145Derived.map { case (a, e) => expr(e).as(a) }: _*)
      .orderBy(col("user_id"))
  }

  val q145Oracle: String = {
    val derived = q145Derived.map { case (a, e) => s"$e AS $a" }.mkString(",\n         ")
    s"""WITH e AS (
         SELECT user_id, epoch_us(ts) AS t, cast(round(value * 100) as bigint) AS y
         FROM events),
       x AS (
         SELECT user_id, y,
           (t - min(t) OVER (PARTITION BY user_id)) // 60000000 AS x
         FROM e),
       m AS (
         SELECT user_id,
           cast(count(*) as double) AS n,
           cast(sum(cast(x as decimal(38,0))) as double) AS sx,
           cast(sum(cast(y as decimal(38,0))) as double) AS sy,
           cast(sum(cast(x * y as decimal(38,0))) as double) AS sxy,
           cast(sum(cast(x * x as decimal(38,0))) as double) AS sxx,
           cast(sum(cast(x as decimal(38,0))) as decimal(38,0)) AS sxd,
           cast(sum(cast(x * x as decimal(38,0))) as decimal(38,0)) AS sxxd,
           count(*) AS n_events
         FROM x GROUP BY user_id)
       SELECT user_id, n_events,
         $derived
       FROM m WHERE n_events * sxxd <> sxd * sxd
       ORDER BY user_id"""
  }

  // ---------------------------------------------------------------- q158
  /** Session entry/exit matrix with bounce counts — the landing-page
    * analytics view: sessions are 30-minute-gap islands (the q87 batch
    * rule: lag + running sum of new-session flags, all RUNNING frames),
    * each session contributes its first and last event type, and a bounce
    * is a 1-event session. Three window passes over per-user order + two
    * aggregates, everything shuffles on user_id once; the output is an
    * event-type × event-type matrix regardless of corpus size. Fully
    * deterministic (ties broken by event_id) → full oracle.
    */
  def q158SessionMatrix(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val g = Tables.events(spark, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      // the gap compares in EXACT µs — cast-to-long truncates each side to
      // whole seconds first, so a 1799.7s gap could read as 1800 and split
      // a session the oracle keeps (latent at sf0.01; the round-6 10×
      // gate caught it on sf0.1-shaped data)
      .withColumn("t", expr("unix_micros(ts)"))
      .withColumn("is_new",
        when(lag(col("t"), 1).over(w).isNull ||
          col("t") - lag(col("t"), 1).over(w) >= 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("is_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ws = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("ts"), col("event_id"))
    val wsD = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val sessions = g
      .withColumn("rn_a", row_number().over(ws))
      .withColumn("rn_d", row_number().over(wsD))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"),
        max(when(col("rn_a") === 1, col("event_type"))).as("entry_type"),
        max(when(col("rn_d") === 1, col("event_type"))).as("exit_type"))
    sessions.groupBy(col("entry_type"), col("exit_type"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"),
        expr("CAST(sum(n_events) AS DOUBLE) / count(*)").as("avg_events"))
      .orderBy(col("entry_type"), col("exit_type"))
  }

  val q158Oracle: String =
    """WITH g AS (
         SELECT user_id, ts, event_id, event_type,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS is_new
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       s AS (
         SELECT user_id, ts, event_id, event_type,
           sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM g),
       r AS (
         SELECT user_id, sid, event_type,
           row_number() OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS rn_a,
           row_number() OVER (PARTITION BY user_id, sid ORDER BY ts DESC, event_id DESC) AS rn_d
         FROM s),
       sess AS (
         SELECT user_id, sid, count(*) AS n_events,
           max(CASE WHEN rn_a = 1 THEN event_type END) AS entry_type,
           max(CASE WHEN rn_d = 1 THEN event_type END) AS exit_type
         FROM r GROUP BY 1, 2)
       SELECT entry_type, exit_type, count(*) AS n_sessions,
         CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
         CAST(sum(n_events) AS DOUBLE) / count(*) AS avg_events
       FROM sess GROUP BY 1, 2 ORDER BY entry_type, exit_type"""

  // ---------------------------------------------------------------- q160
  /** Chi-square independence over the event-transition contingency table
    * (q144's counts): is the next event independent of the current one?
    * The statistic Σ(observed − expected)²/expected is computed entirely
    * in EXACT integer arithmetic: expected = rt·ct/nn makes each cell's
    * term (o·nn − rt·ct)²/(rt·ct·nn), whose numerator and denominator are
    * exact integers — quantized to micro-units by floor division in the
    * DECIMAL(38,0) lane (a per-cell double term would hit the
    * double→DECIMAL boundary-rounding divergence that bit q141). The
    * summed statistic is therefore a BIGINT, bit-exact by construction;
    * a convenience double divides once at the end. This is
    * the category-drift test a pipeline runs between snapshots (swap one
    * margin for last week's and the same machinery tests homogeneity).
    * Output: one row with N, the statistic, and the degrees of freedom.
    */
  def q160ChiSquare(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val obs = Tables.events(spark, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("o"))
    // marginals as windows over the CONTINGENCY TABLE, not re-aggregations
    // of the raw transitions: the old three-branch join re-executed the
    // events scan + per-user window once per margin (4 scans total). The
    // windows run over |event_types|² rows — single-partitioning that frame
    // is free, and events is scanned exactly once.
    obs
      .withColumn("rt", sum(col("o")).over(Window.partitionBy(col("event_type"))))
      .withColumn("ct", sum(col("o")).over(Window.partitionBy(col("next_type"))))
      .withColumn("nn", sum(col("o")).over(Window.partitionBy())) // |types|^2-row transition frame
      .withColumn("num", expr(
        "cast(o as decimal(38,0)) * cast(nn as decimal(38,0)) - cast(rt as decimal(38,0)) * cast(ct as decimal(38,0))"))
      .withColumn("term_micro", expr(
        "cast((num * num * 1000000) div (cast(rt as decimal(38,0)) * cast(ct as decimal(38,0)) * cast(nn as decimal(38,0))) as bigint)"))
      .agg(max(col("nn")).as("n_transitions"),
        expr("cast(sum(cast(term_micro as decimal(38,0))) as bigint)").as("chi2_micro"),
        expr("cast((count(distinct event_type) - 1) * (count(distinct next_type) - 1) as bigint)")
          .as("dof"))
      .withColumn("chi2", expr("CAST(chi2_micro AS DOUBLE) / 1000000.0"))
  }

  val q160Oracle: String =
    """WITH t AS (
         SELECT event_type,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
         FROM events),
       obs AS (SELECT event_type, next_type, count(*) AS o
               FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2),
       rm AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt FROM obs GROUP BY 1),
       cm AS (SELECT next_type, CAST(sum(o) AS BIGINT) AS ct FROM obs GROUP BY 1),
       tot AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM obs),
       terms AS (
         SELECT obs.event_type, obs.next_type, nn,
           CAST((CAST(o AS HUGEINT) * nn - CAST(rt AS HUGEINT) * ct)
                * (CAST(o AS HUGEINT) * nn - CAST(rt AS HUGEINT) * ct)
                * 1000000
                // (CAST(rt AS HUGEINT) * ct * nn) AS BIGINT) AS term_micro
         FROM obs JOIN rm USING (event_type) JOIN cm USING (next_type) CROSS JOIN tot)
       SELECT max(nn) AS n_transitions,
         CAST(sum(term_micro) AS BIGINT) AS chi2_micro,
         CAST((count(DISTINCT event_type) - 1) * (count(DISTINCT next_type) - 1) AS BIGINT) AS dof,
         CAST(CAST(sum(term_micro) AS BIGINT) AS DOUBLE) / 1000000.0 AS chi2
       FROM terms"""

  // ---------------------------------------------------------------- q165
  /** Funnel LATENCY — q107 counts who converts; this measures how fast:
    * per converting user, exact µs from first view to the first purchase
    * after it (two chained per-user min-aggregates, the no-self-join
    * funnel shape), then the exact median and p90 latency selected by
    * RANK over the total order (latency, user_id) — the q61 rule, so both
    * engines pick the same physical rows and the percentiles are
    * bit-exact. Integer µs end to end; the output converts to seconds by
    * one shared-text division.
    *
    * The rank selection runs in the [[BucketRank]] two-phase form (1000 s
    * latency buckets): a plain `row_number() OVER (ORDER BY …)` would sort
    * every converting user in ONE task — corpus-sized at 100 TB. Here only
    * the 1-2 buckets arithmetically containing the median/p90 ranks are
    * sorted, each ~1/buckets of the population. Equality with the plain
    * window is proven in Round8Spec; the oracle keeps the plain form.
    */
  def q165FunnelLatency(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
      .select(col("user_id"), col("event_type"), expr("unix_micros(ts)").as("t"))
    val v1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("t")).as("t1"))
    val p2 = ev.filter(col("event_type") === "purchase")
      .join(v1, Seq("user_id"))
      .filter(col("t") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("t")).as("t2"), min(col("t1")).as("t1m"))
      .select(col("user_id"), (col("t2") - col("t1m")).as("lat_us"))
      .pin(SizedBy("converting-users")) // latency frame (r17: BucketRank reads it twice; unpinned each read re-ran the two funnel joins — events x4)
    BucketRank.select(p2.withColumn("__g", lit(1)), "__g",
        bucket = expr("lat_us div 1000000000"),
        ord = Seq(col("lat_us"), col("user_id")),
        targets = Seq(expr("(__n + 1) div 2"),
          expr("CAST(ceil(0.9 * __n) AS BIGINT)")))
      .groupBy()
      .agg(max(col("__n")).as("n_converted"),
        expr("CAST(min(CASE WHEN __grank = (__n + 1) div 2 THEN lat_us END) AS DOUBLE) / 1000000.0")
          .as("median_latency_s"),
        expr("CAST(min(CASE WHEN __grank = CAST(ceil(0.9 * __n) AS BIGINT) THEN lat_us END) AS DOUBLE) / 1000000.0")
          .as("p90_latency_s"))
  }

  val q165Oracle: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
       v1 AS (SELECT user_id, min(t) AS t1 FROM ev
              WHERE event_type = 'view' GROUP BY 1),
       p2 AS (SELECT e.user_id, min(e.t) - min(v1.t1) AS lat_us
              FROM ev e JOIN v1 ON e.user_id = v1.user_id
              WHERE e.event_type = 'purchase' AND e.t > v1.t1 GROUP BY 1),
       r AS (SELECT lat_us, user_id,
               row_number() OVER (ORDER BY lat_us, user_id) AS rn,
               count(*) OVER () AS n
             FROM p2)
       SELECT max(n) AS n_converted,
         CAST(min(CASE WHEN rn = (n + 1) // 2 THEN lat_us END) AS DOUBLE) / 1000000.0
           AS median_latency_s,
         CAST(min(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN lat_us END) AS DOUBLE) / 1000000.0
           AS p90_latency_s
       FROM r WHERE rn = (n + 1) // 2 OR rn = CAST(ceil(0.9 * n) AS BIGINT)"""

  // ---------------------------------------------------------------- q171
  /** Interval-union coverage per user — total wall-clock time covered by
    * the union of per-event activity intervals [ts, ts+5min), the
    * "active time" metric behind engagement dashboards and billing meters.
    * Naive interval union is a self-join; this is the sweep-line as ONE
    * window pass: with intervals sorted by start inside each user
    * partition, the running max of preceding interval ENDS tells how far
    * coverage already extends, so each interval contributes
    * max(0, e − max(s, prev_end)) — overlap-free by construction. Exact
    * integer µs end to end (sum in DECIMAL(38,0)); one user-keyed
    * exchange, no join. At 100 TB: shuffle = |events| keyed by user, the
    * same exchange every other per-user operator here rides.
    *
    * This helper is the sweep-line interval union over (user_id, s, e)
    * rows: per user, the total length covered by the union of [s, e)
    * intervals. Arbitrary containment/overlap/duplication is handled by
    * the greatest(0, ·) clamp — a contained interval's contribution is
    * exactly 0.
    */
  def intervalCoverage(iv: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("s"), col("e"))
      .rowsBetween(Window.unboundedPreceding, -1)
    iv.withColumn("prev_end", max(col("e")).over(w))
      .withColumn("cov_us",
        expr("greatest(0, e - greatest(s, coalesce(prev_end, s)))"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        expr("cast(sum(cast(cov_us as decimal(38,0))) as bigint)").as("covered_us"))
  }

  def q171IntervalCoverage(spark: SparkSession, d: String): DataFrame =
    intervalCoverage(
      Tables.events(spark, d)
        .select(col("user_id"), expr("unix_micros(ts)").as("s"))
        .withColumn("e", col("s") + lit(300000000L)))
      .withColumn("covered_s", expr("CAST(covered_us AS DOUBLE) / 1000000.0"))
      .orderBy(col("user_id"))

  val q171Oracle: String =
    """WITH iv AS (SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
                   FROM events),
       sw AS (SELECT user_id, s, e,
                max(e) OVER (PARTITION BY user_id ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
              FROM iv)
       SELECT user_id, count(*) AS n_intervals,
         CAST(sum(greatest(0, e - greatest(s, coalesce(prev_end, s)))) AS BIGINT)
           AS covered_us,
         CAST(CAST(sum(greatest(0, e - greatest(s, coalesce(prev_end, s)))) AS BIGINT)
              AS DOUBLE) / 1000000.0 AS covered_s
       FROM sw GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q172
  /** Last-touch revenue attribution — every purchase's value credited to
    * the channel of the user's most recent preceding touch (view/click),
    * 'direct' when the purchase had no prior touch. The marketing-analytics
    * staple, and the textbook use of `last(..., ignoreNulls)` over a
    * running frame: the touch channel rides the SAME user-partitioned
    * exchange as the events themselves — no events⋈events self-join, no
    * as-of join against a touches table (which would shuffle the corpus
    * twice). Revenue in exact cents (q53 discipline); the /100 display
    * division is one correctly-rounded IEEE op with identical text in both
    * engines.
    */
  def q172LastTouchAttribution(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, d)
      .withColumn("touch",
        last(when(col("event_type").isin("view", "click"), col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(coalesce(col("touch"), lit("direct")).as("channel"),
        expr("cast(round(value * 100) as bigint)").as("vc"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        expr("cast(sum(cast(vc as decimal(38,0))) as bigint)").as("revenue_cents"))
      .withColumn("revenue", expr("CAST(revenue_cents AS DOUBLE) / 100.0"))
      .orderBy(col("channel"))
  }

  val q172Oracle: String =
    """WITH t AS (
         SELECT user_id, event_type, value,
           last_value(CASE WHEN event_type IN ('view','click') THEN event_type END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
         FROM events)
       SELECT coalesce(touch, 'direct') AS channel, count(*) AS n_purchases,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
         CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0
           AS revenue
       FROM t WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q175
  /** Trailing-7-day active users per day (sliding MAU/WAU) — the
    * engagement health curve. Sliding-window COUNT DISTINCT cannot ride a
    * window frame (distinct isn't frame-decomposable), and the naive
    * days⋈events range join re-scans the corpus per day. Shape here:
    * reduce events to distinct (user, day) FIRST — the big cardinality
    * drop, one exchange — then explode each user-day to the ≤7 window ends
    * it contributes to (bounded 7× blowup of the REDUCED table, never the
    * corpus) and count distinct users per window end. Window ends are
    * semi-joined to observed days so the curve has no phantom tail. The
    * oracle computes the same curve by the algorithm-independent range
    * join, so equality certifies the explode+distinct rewrite.
    */
  def q175SlidingMau(spark: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(spark, d)
      .select(col("user_id"), date_trunc("DAY", col("ts")).as("day")).distinct()
    val days = ud.select(col("day").as("wend")).distinct()
    ud.select(col("user_id"),
        explode(sequence(col("day"), col("day") + expr("interval 6 days"))).as("wend"))
      .join(days, Seq("wend"), "left_semi")
      .groupBy(col("wend"))
      .agg(countDistinct(col("user_id")).as("mau_7d"))
      .orderBy(col("wend"))
  }

  val q175Oracle: String =
    """WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
       days AS (SELECT DISTINCT day FROM ud)
       SELECT d.day AS wend, count(DISTINCT ud.user_id) AS mau_7d
       FROM days d JOIN ud ON ud.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
       GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q181
  /** Behavioral trigram paths — the top 3-step event sequences users
    * actually take (q144's transition matrix is the 2-step view; product
    * analytics reads the 3-step one for "where do users go after
    * view→click"). Two lead() columns over the SAME user-partitioned
    * window exchange — no self-joins of events×events×events (the cubic
    * blow-up); the sequence count aggregate is |event-types|³-sized.
    * Deterministic ties (count desc, then lexicographic) → full oracle.
    */
  def q181TrigramPaths(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, d)
      .select(col("event_type").as("t1"),
        lead(col("event_type"), 1).over(w).as("t2"),
        lead(col("event_type"), 2).over(w).as("t3"))
      .filter(col("t3").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
      .limit(20)
  }

  val q181Oracle: String =
    """WITH t AS (
         SELECT event_type AS t1,
           lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
           lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
         FROM events)
       SELECT t1, t2, t3, count(*) AS n FROM t WHERE t3 IS NOT NULL
       GROUP BY 1, 2, 3 ORDER BY n DESC, t1, t2, t3 LIMIT 20"""

  // ---------------------------------------------------------------- q184
  /** SESSION-scoped funnel — q107 measures lifetime conversion; product
    * teams read the within-visit one (did the view→click→purchase happen
    * in the SAME session?). Sessions are 24h-gap islands (the q158 running
    * sum of break flags), then the q107 chained window minima re-run per
    * (user, session). Plan note: the session windows partition by
    * (user_id, sid), but HashPartitioning(user_id) already satisfies that
    * clustering — sid is a function of the user's own timeline — so the
    * whole query rides ONE user-keyed exchange; only a sort is added.
    * Output: sessions reaching each stage, full-funnel share.
    */
  def q184SessionFunnel(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val ws = Window.partitionBy(col("user_id"), col("sid"))
    Tables.events(spark, d)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("t"), col("event_id"))
      .withColumn("brk",
        when(col("t") - lag(col("t"), 1).over(w) > 86400000000L, 1).otherwise(0))
      .withColumn("sid",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("t1",
        min(when(col("event_type") === "view", col("t"))).over(ws))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("t") > col("t1"), col("t"))).over(ws))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("t") > col("t2"), col("t"))).over(ws))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"), min(col("t3")).as("t3"))
      .groupBy()
      .agg(count(lit(1)).as("sessions_total"),
        expr("cast(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) as bigint)")
          .as("reached_view"),
        expr("cast(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) as bigint)")
          .as("reached_click"),
        expr("cast(sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) as bigint)")
          .as("reached_purchase"))
      .withColumn("full_funnel_share",
        expr("CAST(reached_purchase AS DOUBLE) / CAST(sessions_total AS DOUBLE)"))
  }

  val q184Oracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id FROM events),
       g AS (SELECT *, CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                                 > 86400000000 THEN 1 ELSE 0 END AS brk FROM e),
       s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             FROM g),
       f AS (SELECT user_id, sid, min(CASE WHEN event_type = 'view' THEN t END) AS t1
             FROM s GROUP BY 1, 2),
       f2 AS (SELECT s.user_id, s.sid, min(s.t) AS t2
              FROM s JOIN f ON s.user_id = f.user_id AND s.sid = f.sid
              WHERE s.event_type = 'click' AND s.t > f.t1 GROUP BY 1, 2),
       f3 AS (SELECT s.user_id, s.sid, min(s.t) AS t3
              FROM s JOIN f2 ON s.user_id = f2.user_id AND s.sid = f2.sid
              WHERE s.event_type = 'purchase' AND s.t > f2.t2 GROUP BY 1, 2)
       SELECT count(*) AS sessions_total,
         CAST(sum(CASE WHEN f.t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS reached_view,
         (SELECT count(*) FROM f2) AS reached_click,
         (SELECT count(*) FROM f3) AS reached_purchase,
         CAST((SELECT count(*) FROM f3) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           AS full_funnel_share
       FROM f"""

  // ---------------------------------------------------------------- q185
  /** Conversion-latency CDF buckets — q165 gives the median/p90 point
    * estimates; operations wants the cumulative buckets ("what share
    * converts within the hour / the day / the week"). Same no-self-join
    * chained-min latency table, then ONE conditional aggregation over
    * exact integer µs thresholds — counts exact, the three shares each a
    * single correctly-rounded division.
    */
  def q185LatencyCdf(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
      .select(col("user_id"), col("event_type"), expr("unix_micros(ts)").as("t"))
    val v1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("t")).as("t1"))
    ev.filter(col("event_type") === "purchase")
      .join(v1, Seq("user_id"))
      .filter(col("t") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("t")).as("t2"), min(col("t1")).as("t1m"))
      .select((col("t2") - col("t1m")).as("lat"))
      .groupBy()
      .agg(count(lit(1)).as("n_converted"),
        expr("cast(sum(CASE WHEN lat <= 3600000000 THEN 1 ELSE 0 END) as bigint)")
          .as("within_1h"),
        expr("cast(sum(CASE WHEN lat <= 86400000000 THEN 1 ELSE 0 END) as bigint)")
          .as("within_1d"),
        expr("cast(sum(CASE WHEN lat <= 604800000000 THEN 1 ELSE 0 END) as bigint)")
          .as("within_7d"))
      .withColumn("share_1h", expr("CAST(within_1h AS DOUBLE) / CAST(n_converted AS DOUBLE)"))
      .withColumn("share_1d", expr("CAST(within_1d AS DOUBLE) / CAST(n_converted AS DOUBLE)"))
      .withColumn("share_7d", expr("CAST(within_7d AS DOUBLE) / CAST(n_converted AS DOUBLE)"))
  }

  val q185Oracle: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
       v1 AS (SELECT user_id, min(t) AS t1 FROM ev
              WHERE event_type = 'view' GROUP BY 1),
       p2 AS (SELECT e.user_id, min(e.t) - min(v1.t1) AS lat
              FROM ev e JOIN v1 ON e.user_id = v1.user_id
              WHERE e.event_type = 'purchase' AND e.t > v1.t1 GROUP BY 1)
       SELECT count(*) AS n_converted,
         CAST(sum(CASE WHEN lat <= 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS within_1h,
         CAST(sum(CASE WHEN lat <= 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS within_1d,
         CAST(sum(CASE WHEN lat <= 604800000000 THEN 1 ELSE 0 END) AS BIGINT) AS within_7d,
         CAST(CAST(sum(CASE WHEN lat <= 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS share_1h,
         CAST(CAST(sum(CASE WHEN lat <= 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS share_1d,
         CAST(CAST(sum(CASE WHEN lat <= 604800000000 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS share_7d
       FROM p2"""

  // ---------------------------------------------------------------- q186
  /** Cumulative LTV curve — average spend per purchasing user by
    * days-since-first-purchase, the revenue twin of q108's retention.
    * Reduction first: purchases → per (user, day-offset) cents, then a
    * per-offset aggregate (days-span-sized), then the cumulative window
    * over THAT compact table. Cohort size never needs a separate scalar
    * pass: every user owns an offset-0 row (their first purchase day), so
    * n_users = first_value(users-at-offset) over the offset order — the
    * whole curve is two events scans, no crossJoin'd scalar subquery.
    * Exact cents throughout; the per-user division is one rounded op.
    */
  def q186LtvCurve(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = Tables.events(spark, d).filter(col("event_type") === "purchase")
      .select(col("user_id"), date_trunc("DAY", col("ts")).as("day"),
        expr("cast(round(value * 100) as bigint)").as("vc"))
    val f = p.groupBy(col("user_id")).agg(min(col("day")).as("f0"))
    val byOff = p.join(f, Seq("user_id"))
      .select(col("user_id"),
        datediff(col("day"), col("f0")).cast("long").as("day_offset"), col("vc"))
      .groupBy(col("day_offset"))
      .agg(expr("cast(sum(cast(vc as decimal(38,0))) as bigint)").as("spend"),
        countDistinct(col("user_id")).as("users_at_offset"))
    byOff
      .withColumn("cum_cents",
        expr("""cast(sum(cast(spend as decimal(38,0))) over
               (order by day_offset rows between unbounded preceding and current row)
               as bigint)"""))
      .withColumn("n_users", first(col("users_at_offset")).over(
        Window.orderBy(col("day_offset")) // |day-offsets|-sized frame
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("day_offset"), col("cum_cents"),
        expr("CAST(cum_cents AS DOUBLE) / CAST(n_users AS DOUBLE) / 100.0")
          .as("ltv_per_user"))
      .orderBy(col("day_offset"))
  }

  val q186Oracle: String =
    """WITH p AS (SELECT user_id, date_trunc('day', ts) AS day,
                    CAST(round(value * 100) AS BIGINT) AS vc
                  FROM events WHERE event_type = 'purchase'),
       f AS (SELECT user_id, min(day) AS f0 FROM p GROUP BY 1),
       agg AS (SELECT date_diff('day', f.f0, p.day) AS day_offset,
                 CAST(sum(vc) AS BIGINT) AS spend,
                 count(DISTINCT p.user_id) AS users_at_offset
               FROM p JOIN f ON p.user_id = f.user_id GROUP BY 1),
       c AS (SELECT day_offset,
               CAST(sum(spend) OVER (ORDER BY day_offset
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents,
               first_value(users_at_offset) OVER (ORDER BY day_offset
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS n_users
             FROM agg)
       SELECT day_offset, cum_cents,
         CAST(cum_cents AS DOUBLE) / CAST(n_users AS DOUBLE) / 100.0 AS ltv_per_user
       FROM c ORDER BY day_offset"""

  // ---------------------------------------------------------------- q193
  /** Inter-event gap histogram — the instrumentation-health report (are
    * heartbeats arriving? is there a daily batch spike? did a client start
    * double-firing?): per-user consecutive gaps from one lag() over the
    * user exchange, binned into exact integer µs bands, counted in one
    * aggregate. The bin thresholds are integers so both engines bin
    * identically; the share division is one rounded op.
    */
  def q193GapHistogram(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    Tables.events(spark, d)
      .select(col("user_id"), expr("unix_micros(ts)").as("t"), col("event_id"))
      .withColumn("gap", col("t") - lag(col("t"), 1).over(w))
      .filter(col("gap").isNotNull)
      .withColumn("bin", expr(
        """CASE WHEN gap < 60000000 THEN 'a_under_1m'
                WHEN gap < 600000000 THEN 'b_1m_10m'
                WHEN gap < 3600000000 THEN 'c_10m_1h'
                WHEN gap < 21600000000 THEN 'd_1h_6h'
                WHEN gap < 86400000000 THEN 'e_6h_24h'
                ELSE 'f_over_24h' END"""))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_gaps"),
        expr("cast(min(gap) as bigint)").as("min_gap_us"),
        expr("cast(max(gap) as bigint)").as("max_gap_us"))
      .withColumn("share", expr(
        "CAST(n_gaps AS DOUBLE) / CAST(sum(n_gaps) OVER () AS DOUBLE)"))
      .orderBy(col("bin"))
  }

  val q193Oracle: String =
    """WITH g AS (
         SELECT t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap
         FROM (SELECT user_id, epoch_us(ts) AS t, event_id FROM events)),
       b AS (SELECT CASE WHEN gap < 60000000 THEN 'a_under_1m'
                         WHEN gap < 600000000 THEN 'b_1m_10m'
                         WHEN gap < 3600000000 THEN 'c_10m_1h'
                         WHEN gap < 21600000000 THEN 'd_1h_6h'
                         WHEN gap < 86400000000 THEN 'e_6h_24h'
                         ELSE 'f_over_24h' END AS bin, gap
             FROM g WHERE gap IS NOT NULL)
       SELECT bin, count(*) AS n_gaps,
         CAST(min(gap) AS BIGINT) AS min_gap_us,
         CAST(max(gap) AS BIGINT) AS max_gap_us,
         CAST(count(*) AS DOUBLE) / CAST(sum(count(*)) OVER () AS DOUBLE) AS share
       FROM b GROUP BY bin ORDER BY bin"""

  // ---------------------------------------------------------------- q196
  /** Events-between-purchases histogram — the "how much browsing buys a
    * purchase" engagement metric, and the general conditional-segmentation
    * window pattern (distance-since-marker): a running sum of the marker
    * flag over the EXCLUSIVE preceding frame assigns every event to the
    * segment after its k-th purchase; completed segments (seg < total
    * purchases) aggregate their non-marker counts; one more tiny aggregate
    * histograms the segment lengths. Everything rides the single user
    * exchange; all counts exact integers.
    */
  def q196EventsBetweenPurchases(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    Tables.events(spark, d)
      .select(col("user_id"), expr("unix_micros(ts)").as("t"), col("event_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("is_p"))
      .withColumn("seg", coalesce(
        sum(col("is_p")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("total_p",
        sum(col("is_p")).over(Window.partitionBy(col("user_id"))))
      .filter(col("seg") < col("total_p"))
      .groupBy(col("user_id"), col("seg"))
      .agg(expr("cast(sum(1 - is_p) as bigint)").as("between_events"))
      .groupBy(col("between_events"))
      .agg(count(lit(1)).as("n_segments"))
      .orderBy(col("between_events"))
  }

  val q196Oracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id,
                    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
                  FROM events),
       s AS (SELECT *, coalesce(sum(is_p) OVER (PARTITION BY user_id
                         ORDER BY t, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg,
                sum(is_p) OVER (PARTITION BY user_id) AS total_p
             FROM e),
       segs AS (SELECT user_id, seg, CAST(sum(1 - is_p) AS BIGINT) AS between_events
                FROM s WHERE seg < total_p GROUP BY 1, 2)
       SELECT between_events, count(*) AS n_segments
       FROM segs GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q200
  /** CAPSTONE marketing readout — q150's event-side twin: sessionization
    * (q184's 24h-gap islands), last-touch attribution (q172's running
    * ignoreNulls window), and the in-session path check (q184's chained
    * session minima) COMPOSED over ONE user-partitioned exchange, then
    * collapsed to a per-channel readout: purchases, distinct buyers,
    * exact-cents revenue, and how many purchases had the full
    * view→click→purchase path inside their own session. Every window
    * (break flags, session ids, touch channel, session-scoped stage
    * minima) is clustered by user_id or (user_id, sid) — which
    * HashPartitioning(user_id) already satisfies — so the whole
    * composition adds sorts, never exchanges, until the final
    * channel-sized aggregate.
    */
  def q200MarketingReadout(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val wSes = Window.partitionBy(col("user_id"), col("sid"))
    val e = Tables.events(spark, d)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("t"), col("event_id"),
        expr("cast(round(value * 100) as bigint)").as("vc"))
      .withColumn("brk",
        when(col("t") - lag(col("t"), 1).over(wOrd) > 86400000000L, 1).otherwise(0))
      .withColumn("sid", sum(col("brk")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("touch",
        last(when(col("event_type").isin("view", "click"), col("event_type")),
          ignoreNulls = true).over(wPrev))
      .withColumn("v1",
        min(when(col("event_type") === "view", col("t"))).over(wSes))
      .withColumn("c1",
        min(when(col("event_type") === "click" && col("t") > col("v1"), col("t")))
          .over(wSes))
    e.filter(col("event_type") === "purchase")
      .select(coalesce(col("touch"), lit("direct")).as("channel"),
        col("user_id"), col("vc"),
        (col("c1").isNotNull && col("t") > col("c1")).as("full_path"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_buyers"),
        expr("cast(sum(cast(vc as decimal(38,0))) as bigint)").as("revenue_cents"),
        expr("cast(sum(CASE WHEN full_path THEN 1 ELSE 0 END) as bigint)")
          .as("n_full_path"))
      .withColumn("revenue", expr("CAST(revenue_cents AS DOUBLE) / 100.0"))
      .orderBy(col("channel"))
  }

  val q200Oracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id,
                    CAST(round(value * 100) AS BIGINT) AS vc
                  FROM events),
       g AS (SELECT *, CASE WHEN t - lag(t) OVER (PARTITION BY user_id
                                 ORDER BY t, event_id) > 86400000000
                            THEN 1 ELSE 0 END AS brk FROM e),
       s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
               last_value(CASE WHEN event_type IN ('view','click')
                               THEN event_type END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY t, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
             FROM g),
       v AS (SELECT *, min(CASE WHEN event_type = 'view' THEN t END)
                         OVER (PARTITION BY user_id, sid) AS v1 FROM s),
       c AS (SELECT *, min(CASE WHEN event_type = 'click' AND t > v1 THEN t END)
                         OVER (PARTITION BY user_id, sid) AS c1 FROM v)
       SELECT coalesce(touch, 'direct') AS channel,
         count(*) AS n_purchases,
         count(DISTINCT user_id) AS n_buyers,
         CAST(sum(vc) AS BIGINT) AS revenue_cents,
         CAST(sum(CASE WHEN c1 IS NOT NULL AND t > c1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_full_path,
         CAST(CAST(sum(vc) AS BIGINT) AS DOUBLE) / 100.0 AS revenue
       FROM c WHERE event_type = 'purchase'
       GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q203
  /** Cumulative reach curve — distinct users ever seen, by day: the
    * audience-growth health metric (q164's vocab-growth shape applied to
    * users). Reduction first (per-user first day — one exchange), then a
    * running sum over the days-span-sized aggregate. Exact counts.
    */
  def q203ReachCurve(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.events(spark, d)
      .groupBy(col("user_id"))
      .agg(min(date_trunc("DAY", col("ts"))).as("d0"))
      .groupBy(col("d0")).agg(count(lit(1)).as("new_users"))
      .withColumn("reach", expr(
        """cast(sum(new_users) over
           (order by d0 rows between unbounded preceding and current row) as bigint)"""))
      .withColumnRenamed("d0", "day")
      .orderBy(col("day"))
  }

  val q203Oracle: String =
    """WITH f AS (SELECT user_id, min(date_trunc('day', ts)) AS d0 FROM events GROUP BY 1),
       a AS (SELECT d0, count(*) AS new_users FROM f GROUP BY 1)
       SELECT d0 AS day, new_users,
         CAST(sum(new_users) OVER (ORDER BY d0
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS reach
       FROM a ORDER BY d0"""

  // ---------------------------------------------------------------- q205
  /** Weekday × hour activity heatmap — the 7×24 load matrix behind
    * capacity planning and anomaly eyeballing. One conditional-free
    * aggregate; the only subtlety is CROSS-ENGINE WEEKDAY NUMBERING
    * (Spark's dayofweek is 1-based Sunday-first, DuckDB's 0-based) —
    * aligned explicitly, because a silent off-by-one here would still
    * produce a plausible-looking heatmap.
    */
  def q205ActivityHeatmap(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .groupBy(expr("cast(dayofweek(ts) - 1 as bigint)").as("dow"),
        expr("cast(hour(ts) as bigint)").as("hr"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("dow"), col("hr"))

  val q205Oracle: String =
    """SELECT CAST(dayofweek(ts) AS BIGINT) AS dow, CAST(hour(ts) AS BIGINT) AS hr,
              count(*) AS n
       FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---------------------------------------------------------------- q206
  /** Transition LATENCY matrix — q144 counts from→to transitions; this
    * measures how long each takes (mean gap per pair in exact µs sums,
    * one rounded division for display). Two lead() columns over the same
    * user exchange, |event-types|²-sized aggregate.
    */
  def q206TransitionLatency(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, d)
      .select(col("event_type").as("t1"),
        lead(col("event_type"), 1).over(w).as("t2"),
        (lead(expr("unix_micros(ts)"), 1).over(w) - expr("unix_micros(ts)")).as("gap"))
      .filter(col("t2").isNotNull)
      .groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("n"),
        expr("cast(sum(cast(gap as decimal(38,0))) as bigint)").as("total_gap_us"))
      .withColumn("mean_gap_s",
        expr("CAST(total_gap_us AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0"))
      .orderBy(col("t1"), col("t2"))
  }

  val q206Oracle: String =
    """WITH t AS (SELECT event_type AS t1,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               - epoch_us(ts) AS gap
           FROM events)
       SELECT t1, t2, count(*) AS n,
         CAST(sum(gap) AS BIGINT) AS total_gap_us,
         CAST(CAST(sum(gap) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0
           AS mean_gap_s
       FROM t WHERE t2 IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---------------------------------------------------------------- q218
  /** Time-proximity debounce dedup — at-least-once delivery and retry
    * storms produce repeats of the same logical event close in time; the
    * debounce rule keeps an event only if the previous SAME-KEY event is
    * more than 30 minutes older (the streaming twin is q45's
    * dropDuplicates; this is the batch/backfill version where exact-id
    * dedup can't help because retries get fresh event_ids). One lag()
    * over a (user, type)-keyed exchange, exact integer µs bound — no
    * self-join, no state.
    */
  def q218DebounceDedup(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("t"), col("event_id"))
    Tables.events(spark, d)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("t"), col("event_id"))
      .withColumn("gap", col("t") - lag(col("t"), 1).over(w))
      .groupBy()
      .agg(count(lit(1)).as("n_events"),
        expr("cast(sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END) as bigint)")
          .as("n_kept"),
        expr("cast(sum(CASE WHEN gap IS NOT NULL AND gap <= 1800000000 THEN 1 ELSE 0 END) as bigint)")
          .as("n_debounced"))
  }

  val q218Oracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id FROM events),
       g AS (SELECT *, t - lag(t) OVER (PARTITION BY user_id, event_type
                                        ORDER BY t, event_id) AS gap FROM e)
       SELECT count(*) AS n_events,
         CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
         CAST(sum(CASE WHEN gap IS NOT NULL AND gap <= 1800000000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_debounced
       FROM g"""

  // ---------------------------------------------------------------- q220
  /** Cross-series correlation — does click volume move with purchase
    * revenue day to day (the "do these metrics co-move" question behind
    * every leading-indicator claim): both daily series come out of ONE
    * conditional-aggregation scan (no per-series forked lineage), and the
    * Pearson r follows the q53 discipline — integer daily values, moments
    * as DECIMAL(38,0) sums, the final r derived by textually identical
    * double formulas in both engines. One scan, one days-sized aggregate,
    * one row out.
    */
  def q220CrossCorrelation(spark: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(spark, d)
      .groupBy(date_trunc("DAY", col("ts")).as("day"))
      .agg(expr("""cast(sum(CASE WHEN event_type = 'purchase'
                   THEN cast(round(value * 100) as bigint) ELSE 0 END) as bigint)""")
          .as("x"),
        expr("cast(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) as bigint)")
          .as("y"))
    daily.groupBy()
      .agg(count(lit(1)).as("n_days"),
        expr("cast(sum(cast(x as decimal(38,0))) as bigint)").as("sx"),
        expr("cast(sum(cast(y as decimal(38,0))) as bigint)").as("sy"),
        // squared moments reduce to DOUBLE: at 100 TB a daily-cents
        // square is ~1e20 and a BIGINT cast would overflow (NULL in
        // non-ANSI Spark, an error in DuckDB). The exact DECIMAL(38,0)
        // sum is bridged through STRING before the DOUBLE cast on BOTH
        // engine sides — above 2^53 the engines' direct decimal→double
        // conversions round differently (DuckDB double-rounds the
        // int128-scaled value), while text→double is correctly rounded
        // everywhere (the 37b63fa hardening, applied here too)
        expr("cast(cast(sum(cast(x as decimal(38,0)) * cast(y as decimal(38,0))) as string) as double)")
          .as("sxy"),
        expr("cast(cast(sum(cast(x as decimal(38,0)) * cast(x as decimal(38,0))) as string) as double)")
          .as("sxx"),
        expr("cast(cast(sum(cast(y as decimal(38,0)) * cast(y as decimal(38,0))) as string) as double)")
          .as("syy"))
      .withColumn("r", expr(
        """(CAST(n_days AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / sqrt((CAST(n_days AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * (CAST(n_days AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))"""))
  }

  val q220Oracle: String =
    """WITH daily AS (
         SELECT date_trunc('day', ts) AS day,
           CAST(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS y
         FROM events GROUP BY 1),
       m AS (SELECT count(*) AS n_days,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(CAST(sum(CAST(x AS HUGEINT) * y) AS VARCHAR) AS DOUBLE) AS sxy,
               CAST(CAST(sum(CAST(x AS HUGEINT) * x) AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(sum(CAST(y AS HUGEINT) * y) AS VARCHAR) AS DOUBLE) AS syy
             FROM daily)
       SELECT n_days, sx, sy, sxy, sxx, syy,
         (CAST(n_days AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / sqrt((CAST(n_days AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * (CAST(n_days AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS r
       FROM m"""

  // ---------------------------------------------------------------- q221
  /** CUSUM changepoint detection — where did the daily revenue level
    * shift: the classic CUSUM statistic kept in EXACT integers by scaling
    * out the mean (S_i = n·cum_i − i·T has the same argmax as
    * Σ(x−mean) but needs no division), so the detected changepoint is
    * bit-deterministic with ties broken by date. One corpus scan reduces
    * to the days-span table; the prefix sums are windows over THAT
    * compact series. The at-scale version of "when did the metric move".
    */
  def q221ChangepointCusum(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, d)
      .groupBy(date_trunc("DAY", col("ts")).as("day"))
      .agg(expr("""cast(sum(CASE WHEN event_type = 'purchase'
                   THEN cast(round(value * 100) as bigint) ELSE 0 END) as bigint)""")
        .as("x"))
    val wOrd = Window.orderBy(col("day")) // |days|-sized daily frame
    daily
      .withColumn("i", row_number().over(wOrd))
      .withColumn("cum", sum(col("x")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy())) // |days|-sized daily frame
      .withColumn("tot", sum(col("x")).over(Window.partitionBy())) // |days|-sized daily frame
      .withColumn("dev", expr(
        "abs(cast(n as decimal(38,0)) * cum - cast(i as decimal(38,0)) * tot)"))
      .orderBy(col("dev").desc, col("day"))
      .limit(1)
      .select(col("day").as("changepoint_day"),
        expr("cast(i as bigint)").as("position"),
        expr("cast(n as bigint)").as("n_days"),
        expr("cast(dev as bigint)").as("cusum_dev"))
  }

  val q221Oracle: String =
    """WITH daily AS (
         SELECT date_trunc('day', ts) AS day,
           CAST(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x
         FROM events GROUP BY 1),
       r AS (SELECT day, x, row_number() OVER (ORDER BY day) AS i,
               sum(x) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               count(*) OVER () AS n, sum(x) OVER () AS tot FROM daily),
       s AS (SELECT day, i, n,
               abs(CAST(n AS HUGEINT) * cum - CAST(i AS HUGEINT) * tot) AS dev
             FROM r)
       SELECT day AS changepoint_day, CAST(i AS BIGINT) AS position,
         CAST(n AS BIGINT) AS n_days, CAST(dev AS BIGINT) AS cusum_dev
       FROM s ORDER BY dev DESC, day LIMIT 1"""

  // ---------------------------------------------------------------- q222
  /** Lag-1 autocorrelation of daily revenue — is today's level predictive
    * of tomorrow's (serial dependence; q220 measures co-movement BETWEEN
    * series, this measures memory WITHIN one): lag() over the compact
    * daily series, then Pearson r on (x_t, x_{t−1}) pairs from
    * DECIMAL(38,0)-exact moments with the shared-text double derivation.
    */
  def q222Autocorrelation(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, d)
      .groupBy(date_trunc("DAY", col("ts")).as("day"))
      .agg(expr("""cast(sum(CASE WHEN event_type = 'purchase'
                   THEN cast(round(value * 100) as bigint) ELSE 0 END) as bigint)""")
        .as("x"))
    daily
      .withColumn("px", lag(col("x"), 1).over(Window.orderBy(col("day")))) // |days|-sized daily frame
      .filter(col("px").isNotNull)
      .groupBy()
      .agg(count(lit(1)).as("n_pairs"),
        expr("cast(sum(cast(x as decimal(38,0))) as bigint)").as("sx"),
        expr("cast(sum(cast(px as decimal(38,0))) as bigint)").as("sy"),
        // DOUBLE moments, not BIGINT — see q220: squared cents overflow
        // a BIGINT cast far below the target scale; same STRING bridge as
        // q220 so both engines round the >2^53 sums identically
        expr("cast(cast(sum(cast(x as decimal(38,0)) * cast(px as decimal(38,0))) as string) as double)").as("sxy"),
        expr("cast(cast(sum(cast(x as decimal(38,0)) * cast(x as decimal(38,0))) as string) as double)").as("sxx"),
        expr("cast(cast(sum(cast(px as decimal(38,0)) * cast(px as decimal(38,0))) as string) as double)").as("syy"))
      .select(col("n_pairs"), expr(
        """(CAST(n_pairs AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / sqrt((CAST(n_pairs AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * (CAST(n_pairs AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))""")
        .as("r1"))
  }

  val q222Oracle: String =
    """WITH daily AS (
         SELECT date_trunc('day', ts) AS day,
           CAST(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x
         FROM events GROUP BY 1),
       p AS (SELECT x, lag(x) OVER (ORDER BY day) AS px FROM daily),
       m AS (SELECT count(*) AS n_pairs,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(px) AS BIGINT) AS sy,
               CAST(CAST(sum(CAST(x AS HUGEINT) * px) AS VARCHAR) AS DOUBLE) AS sxy,
               CAST(CAST(sum(CAST(x AS HUGEINT) * x) AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(sum(CAST(px AS HUGEINT) * px) AS VARCHAR) AS DOUBLE) AS syy
             FROM p WHERE px IS NOT NULL)
       SELECT n_pairs,
         (CAST(n_pairs AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / sqrt((CAST(n_pairs AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * (CAST(n_pairs AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS r1
       FROM m"""

  // ---------------------------------------------------------------- q225
  /** SKEW-SAFE sessionization — the escape hatch for the one per-user
    * operation AQE cannot rescue. Every q184–q206 query shuffles on
    * user_id; for JOINS a hot key is handled by AQE's skew split, and for
    * per-user AGGREGATES by map-side partial aggregation (the hot user's
    * rows collapse to one row per map partition before the exchange, see
    * Round6Spec). But a per-user WINDOW (sessionize = lag + running sum)
    * needs every row of the key in ONE sorted partition — a user with 50%
    * of 100 TB serializes half the corpus into one task, and no AQE rule
    * splits it. What does split it is time-range decomposition, the
    * window cousin of salting:
    *
    *   1. chunk events by (user_id, time bucket) and sessionize LOCALLY —
    *      the hot user now spreads across as many tasks as buckets;
    *   2. per (user, chunk): first/last timestamp and local session count
    *      — a compact frame (one row per user-chunk);
    *   3. on that frame, mark chunks whose first event continues the
    *      previous chunk's last session (gap ≤ threshold) and prefix-sum
    *      the merged-session offsets;
    *   4. global session id = chunk offset + local id − merge flag; a
    *      session spanning chunks keeps one id (chains merge
    *      transitively because every spanned boundary carries the flag).
    *
    * Identical output to the plain single-window form (proven on a
    * hot-user fixture in Round6Spec); the only corpus-level window
    * partitions by (user_id, chunk).
    */
  def sessionizeSkewSafe(ev: DataFrame, gapUs: Long, bucketUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wLoc = Window.partitionBy(col("user_id"), col("chunk"))
      .orderBy(col("t"), col("event_id"))
    val loc = ev
      .withColumn("chunk", expr(s"t div ${bucketUs}L")) // exact integer division
      .withColumn("prev_t", lag(col("t"), 1).over(wLoc))
      .withColumn("is_start",
        (col("prev_t").isNull || col("t") - col("prev_t") > gapUs).cast("long"))
      .withColumn("lsid",
        sum(col("is_start")).over(wLoc.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("prev_t", "is_start")
    val wChunks = Window.partitionBy(col("user_id")).orderBy(col("chunk"))
    val merged = loc.groupBy(col("user_id"), col("chunk"))
      .agg(min(col("t")).as("first_t"), max(col("t")).as("last_t"),
        max(col("lsid")).as("n_sessions"))
      .withColumn("prev_last", lag(col("last_t"), 1).over(wChunks))
      .withColumn("m",
        (col("prev_last").isNotNull && col("first_t") - col("prev_last") <= gapUs)
          .cast("long"))
      .withColumn("before", coalesce(
        sum(col("n_sessions") - col("m"))
          .over(wChunks.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("user_id"), col("chunk"), col("m"), col("before"))
    loc.join(merged, Seq("user_id", "chunk"))
      .withColumn("session_id", col("before") + col("lsid") - col("m"))
      .drop("chunk", "lsid", "m", "before")
  }

  /** Skew-safe sessionize driven end-to-end: 1-hour session gap, 1-day
    * chunks, per-user session stats. The oracle replays the PLAIN
    * single-window sessionization in SQL — equality is the correctness
    * proof that the decomposition changes the plan, not the answer.
    */
  val Q225GapUs: Long = 3600L * 1000000L
  val Q225BucketUs: Long = 86400L * 1000000L

  def q225SessionizeSkewSafe(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
      .select(col("user_id"), expr("unix_micros(ts)").as("t"), col("event_id"))
    sessionizeSkewSafe(ev, Q225GapUs, Q225BucketUs)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(max(col("session_id")).as("n_sessions"),
        expr("cast(sum(n) as bigint)").as("n_events"),
        max(col("n")).as("max_session_events"))
      .orderBy(col("user_id"))
  }

  val q225Oracle: String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id FROM events),
       r AS (SELECT user_id, t, event_id,
               CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
                      OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) > $Q225GapUs
                    THEN 1 ELSE 0 END AS s
             FROM e),
       sid AS (SELECT user_id,
                 sum(s) OVER (PARTITION BY user_id ORDER BY t, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
               FROM r),
       per AS (SELECT user_id, session_id, count(*) AS n
               FROM sid GROUP BY 1, 2)
       SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
         CAST(sum(n) AS BIGINT) AS n_events,
         CAST(max(n) AS BIGINT) AS max_session_events
       FROM per GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q246
  /** Two-proportion z-test on conversion — the significance readout that
    * closes the experimentation trio (q244 adjusts the metric, q160
    * checks independence, this tests the arm difference): per-arm
    * converted-user counts (a user converts if they have ≥1 purchase),
    * pooled-proportion z statistic by the standard formula, computed from
    * exact integer counts with one textually shared double derivation.
    * Two corpus passes (per-user conversion flags, arm-sized rollup).
    */
  def q246ConversionZtest(spark: SparkSession, d: String): DataFrame = {
    val u = Tables.events(spark, d)
      .groupBy(col("user_id"), (col("user_id") % 2).as("arm"))
      .agg(expr("max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)").as("conv"))
    val arms = u.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), expr("cast(sum(conv) as bigint)").as("k"))
    val wide = arms.groupBy()
      .agg(expr("max(CASE WHEN arm = 0 THEN n END)").as("n0"),
        expr("max(CASE WHEN arm = 0 THEN k END)").as("k0"),
        expr("max(CASE WHEN arm = 1 THEN n END)").as("n1"),
        expr("max(CASE WHEN arm = 1 THEN k END)").as("k1"))
    wide.select(col("n0"), col("k0"), col("n1"), col("k1"),
      expr("round(CAST(k0 AS DOUBLE) / n0, 6)").as("conv0"),
      expr("round(CAST(k1 AS DOUBLE) / n1, 6)").as("conv1"),
      // degenerate pooled rate (0 or 1) has zero variance: z is undefined
      // — NULL, identically in both engines (ANSI Spark would throw on /0)
      expr("""CASE WHEN k0 + k1 = 0 OR k0 + k1 = n0 + n1 THEN CAST(NULL AS DOUBLE)
             ELSE round((CAST(k1 AS DOUBLE) / n1 - CAST(k0 AS DOUBLE) / n0) /
             sqrt((CAST(k0 + k1 AS DOUBLE) / (n0 + n1))
                  * (1.0 - CAST(k0 + k1 AS DOUBLE) / (n0 + n1))
                  * (1.0 / n0 + 1.0 / n1)), 6) END""").as("z"))
  }

  val q246Oracle: String =
    """WITH u AS (SELECT user_id, user_id % 2 AS arm,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
           FROM events GROUP BY 1, 2),
       arms AS (SELECT arm, count(*) AS n, CAST(sum(conv) AS BIGINT) AS k
                FROM u GROUP BY 1),
       wide AS (SELECT
           max(CASE WHEN arm = 0 THEN n END) AS n0,
           max(CASE WHEN arm = 0 THEN k END) AS k0,
           max(CASE WHEN arm = 1 THEN n END) AS n1,
           max(CASE WHEN arm = 1 THEN k END) AS k1
         FROM arms)
       SELECT n0, k0, n1, k1,
         round(CAST(k0 AS DOUBLE) / n0, 6) AS conv0,
         round(CAST(k1 AS DOUBLE) / n1, 6) AS conv1,
         CASE WHEN k0 + k1 = 0 OR k0 + k1 = n0 + n1 THEN CAST(NULL AS DOUBLE)
         ELSE round((CAST(k1 AS DOUBLE) / n1 - CAST(k0 AS DOUBLE) / n0) /
               sqrt((CAST(k0 + k1 AS DOUBLE) / (n0 + n1))
                    * (1.0 - CAST(k0 + k1 AS DOUBLE) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)), 6) END AS z
       FROM wide"""

  // ---------------------------------------------------------------- q244
  /** CUPED variance-reduced experiment readout — the industry-standard
    * A/B adjustment (Deng et al., WSDM'13): per-user PRE-period revenue
    * is the covariate, θ = cov(pre, post)/var(pre) is fit on the pooled
    * users, and each arm's post-period mean is reported raw AND
    * CUPED-adjusted (mean_adj = mean_post − θ·(mean_pre_arm −
    * mean_pre_pooled)) — the adjustment that makes a true effect visible
    * with ~30–50% fewer users. Deterministic end to end: revenue in
    * exact integer cents, the pre/post boundary data-derived (first half
    * of the observed day span), arm assignment by user-id parity, all
    * moments as exact DECIMAL(38,0) sums bridged to DOUBLE through
    * STRING (the >2⁵³ discipline — pre·post products cross 2⁵³ at sf1),
    * θ and the adjusted means by textually identical formulas in both
    * engines. Two corpus passes (bounds + one per-user aggregate, pinned
    * users-sized); everything else is arm-sized.
    */
  def q244CupedReadout(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
      .select(col("user_id"),
        date_trunc("DAY", col("ts")).as("day"),
        expr("""CASE WHEN event_type = 'purchase'
                THEN cast(round(value * 100) as bigint) ELSE 0 END""").as("cents"))
    val bounds = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("d0"),
        expr("cast(floor(0.5 * (datediff(d1, d0) + 1)) as bigint)").as("c"))
    val u = ev.crossJoin(broadcast(bounds))
      .withColumn("d", datediff(col("day"), col("d0")).cast("long"))
      .groupBy(col("user_id"), (col("user_id") % 2).as("arm"))
      .agg(expr("cast(sum(CASE WHEN d < c THEN cents ELSE 0 END) as bigint)").as("pre"),
        expr("cast(sum(CASE WHEN d >= c THEN cents ELSE 0 END) as bigint)").as("post"))
      .pin(SizedBy("users")) // moments and arm rollups derive from it
    val th = u.agg(
        count(lit(1)).as("n"),
        expr("cast(sum(cast(pre as decimal(38,0))) as bigint)").as("sp"),
        expr("cast(sum(cast(post as decimal(38,0))) as bigint)").as("so"),
        expr("cast(cast(sum(cast(pre as decimal(38,0)) * cast(pre as decimal(38,0))) as string) as double)").as("spp"),
        expr("cast(cast(sum(cast(pre as decimal(38,0)) * cast(post as decimal(38,0))) as string) as double)").as("spo"))
      .select(col("n"), col("sp"),
        expr("""(CAST(n AS DOUBLE) * spo - CAST(sp AS DOUBLE) * so) /
                (CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp)""").as("theta"))
    u.crossJoin(broadcast(th))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        expr("cast(sum(cast(post as decimal(38,0))) as bigint)").as("post_cents"),
        expr("round(CAST(sum(cast(post as decimal(38,0))) AS DOUBLE) / count(*) / 100.0, 4)")
          .as("mean_post_raw"),
        expr("""round((CAST(sum(cast(post as decimal(38,0))) AS DOUBLE) / count(*)
                - any_value(theta) * (CAST(sum(cast(pre as decimal(38,0))) AS DOUBLE) / count(*)
                              - CAST(any_value(sp) AS DOUBLE) / any_value(n))) / 100.0, 4)""")
          .as("mean_post_cuped"),
        expr("round(any_value(theta), 6)").as("theta"))
      .orderBy(col("arm"))
  }

  val q244Oracle: String =
    """WITH e AS (SELECT user_id,
             CAST(datediff('day', (SELECT min(date_trunc('day', ts)) FROM events),
                  date_trunc('day', ts)) AS BIGINT) AS d,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS cents
           FROM events),
       span AS (SELECT CAST(floor(0.5 * (max(d) + 1)) AS BIGINT) AS c FROM e),
       u AS (SELECT user_id, user_id % 2 AS arm,
               CAST(sum(CASE WHEN d < span.c THEN cents ELSE 0 END) AS BIGINT) AS pre,
               CAST(sum(CASE WHEN d >= span.c THEN cents ELSE 0 END) AS BIGINT) AS post
             FROM e, span GROUP BY 1, 2),
       m AS (SELECT count(*) AS n,
               CAST(sum(CAST(pre AS HUGEINT)) AS BIGINT) AS sp,
               CAST(sum(CAST(post AS HUGEINT)) AS BIGINT) AS so,
               CAST(CAST(sum(CAST(pre AS HUGEINT) * pre) AS VARCHAR) AS DOUBLE) AS spp,
               CAST(CAST(sum(CAST(pre AS HUGEINT) * post) AS VARCHAR) AS DOUBLE) AS spo
             FROM u),
       th AS (SELECT n, sp,
                (CAST(n AS DOUBLE) * spo - CAST(sp AS DOUBLE) * so) /
                (CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp) AS theta
              FROM m)
       SELECT u.arm,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(CAST(u.post AS HUGEINT)) AS BIGINT) AS post_cents,
         round(CAST(sum(CAST(u.post AS HUGEINT)) AS DOUBLE) / count(*) / 100.0, 4) AS mean_post_raw,
         round((CAST(sum(CAST(u.post AS HUGEINT)) AS DOUBLE) / count(*)
                - th.theta * (CAST(sum(CAST(u.pre AS HUGEINT)) AS DOUBLE) / count(*)
                              - CAST(th.sp AS DOUBLE) / th.n)) / 100.0, 4) AS mean_post_cuped,
         round(th.theta, 6) AS theta
       FROM u, th GROUP BY u.arm, th.theta, th.sp, th.n ORDER BY u.arm"""

  // ---------------------------------------------------------------- q258
  /** Late-arrival (watermark) audit — the batch readout that sizes a
    * streaming watermark BEFORE the stream exists. The generator's events
    * are globally ts-ordered, so the audit replays the arrival pattern a
    * real collector sees: per-producer buffers that flush once a minute —
    * arrival order is (minute-of-ts, user_id, event_id). Each event's
    * lateness is how far its event-time ts sits behind the high-water mark
    * (max ts among strictly-earlier arrivals); for candidate delays D the
    * audit counts the events a `withWatermark(D)` would have dropped —
    * q43/q87's knob, chosen from data instead of folklore (at sf0.01:
    * ~3.5% of events are >10 s late, none >60 s).
    *
    * The prefix-max is the scalable two-phase shape (the q225 discipline,
    * applied to a GLOBAL running aggregate): a single global ORDER BY
    * window would serialize the corpus into one task. Instead the minute
    * bucket is the chunk (bounded rows per chunk, chunk count grows with
    * the time span — no low-NDV trap); per-chunk maxima roll up small, an
    * aggregate-sized window turns them into exclusive carry-ins, and the
    * per-event running max runs INSIDE each chunk, riding the same chunk
    * exchange the carry join planted. Lateness math is exact µs longs; the
    * sentinel keeps the first-ever arrival at lateness 0 on both engines
    * (greatest/NULL semantics differ between them).
    */
  val LateDelaysSec: Seq[Int] = Seq(10, 30, 60)
  private val LateSentinel = Long.MinValue / 4

  def q258LateArrivalAudit(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, d).select(
      col("event_id"), col("user_id"), unix_micros(col("ts")).as("tus"),
      date_trunc("MINUTE", col("ts")).as("chunk"))
    val carry = ev.groupBy(col("chunk")).agg(max(col("tus")).as("cmax"))
      .withColumn("carry_in", coalesce(
        max(col("cmax")).over(Window.orderBy(col("chunk")) // |minutes|-sized chunk frame
          .rowsBetween(Window.unboundedPreceding, -1)),
        lit(LateSentinel)))
      .select(col("chunk"), col("carry_in"))
    val wIn = Window.partitionBy(col("chunk"))
      .orderBy(col("user_id"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = ev.join(carry, "chunk")
      .withColumn("hwm", greatest(
        coalesce(max(col("tus")).over(wIn), lit(LateSentinel)), col("carry_in")))
      .withColumn("late_us", greatest(lit(0L),
        when(col("hwm") === lit(LateSentinel), lit(0L))
          .otherwise(col("hwm") - col("tus"))))
      .select(col("late_us"))
    val delays = spark.createDataFrame(LateDelaysSec.map(Tuple1(_))).toDF("delay_s")
    late.crossJoin(broadcast(delays))
      .groupBy(col("delay_s"))
      .agg(count(lit(1)).as("n_events"),
        count_if(col("late_us") > col("delay_s").cast("long") * lit(1000000L))
          .as("n_dropped"),
        expr("cast(max(late_us) as bigint)").as("max_late_us"))
      .orderBy(col("delay_s"))
  }

  val q258Oracle: String = {
    val delayRows = LateDelaysSec.map(s => s"($s)").mkString(", ")
    s"""WITH e AS (SELECT event_id, user_id, date_trunc('minute', ts) AS mb,
             epoch_us(ts) AS tus FROM events),
       h AS (SELECT tus,
               max(tus) OVER (ORDER BY mb, user_id, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
             FROM e),
       l AS (SELECT greatest(0, CASE WHEN hwm IS NULL THEN 0
                                     ELSE hwm - tus END) AS late_us FROM h),
       d AS (SELECT delay_s FROM (VALUES $delayRows) AS t(delay_s))
       SELECT delay_s, count(*) AS n_events,
              CAST(sum(CASE WHEN late_us > CAST(delay_s AS BIGINT) * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
              CAST(max(late_us) AS BIGINT) AS max_late_us
       FROM l, d GROUP BY 1 ORDER BY 1"""
  }

  // ---------------------------------------------------------------- q260
  /** Two-sample Kolmogorov–Smirnov test, EXACT: D = max |F̂₁ − F̂₂| over the
    * pooled support, computed on integer numerators — |c₁·n₂ − c₂·n₁| with
    * c₁,c₂ the cumulative counts — so the maximizing point (and the reject
    * decision) never hinges on float CDF subtraction. Values quantize to
    * exact cents (the repo-wide convention); the cumulative windows run
    * over the distinct-cents AGGREGATE (bounded support, never the corpus —
    * the Round6Spec barrier rule). The α=0.05 rejection compares
    * 10⁶·D_num² against 1.358²·(n₁+n₂)·n₁·n₂ in DECIMAL(38,0) — the
    * asymptotic KS threshold as an exact rational (1.358² = 1844164/10⁶),
    * bit-identical across engines. d_stat is the presentational round-6
    * double; the decision never reads it below the exactness bound.
    * Overflow safety: 10⁶·D_num² needs ~2·(digits of n₁n₂)+6 digits, so
    * the exact-decimal branch guards on n₁·n₂ ≤ 10¹⁵ (far beyond any
    * bench SF); past it BOTH engines fall back to the same
    * textually-identical double comparison — deterministic, never an ANSI
    * decimal-overflow throw, and at that scale the threshold sits ~10⁻⁷
    * where doubles carry ~10⁻¹⁶ relative error.
    */
  def q260KsTest(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, d)
      .filter(col("event_type").isin("view", "purchase"))
      // NULL values are excluded explicitly: the cumulative window orders
      // by c, and Spark (NULLS FIRST) and the oracle engine (NULLS LAST)
      // would place a NULL cents row at opposite ends of the support
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("c"))
    val per = ev.groupBy(col("c")).agg(
      count_if(col("event_type") === "view").as("a1"),
      count_if(col("event_type") === "purchase").as("a2"))
    val wc = Window.orderBy(col("c")).rowsBetween(Window.unboundedPreceding, 0) // value-domain-sized per-cent count frame
    val wAll = Window.partitionBy() // value-domain-sized per-cent count frame
    val stepped = per
      .withColumn("cum1", sum(col("a1")).over(wc))
      .withColumn("cum2", sum(col("a2")).over(wc))
      .withColumn("n1", sum(col("a1")).over(wAll))
      .withColumn("n2", sum(col("a2")).over(wAll))
    stepped
      .groupBy(col("n1"), col("n2"))
      .agg(max(abs(col("cum1") * col("n2") - col("cum2") * col("n1"))).as("d_num"))
      .select(col("n1"), col("n2"), expr("cast(d_num as bigint)").as("d_num"),
        expr("round(CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6)")
          .as("d_stat"),
        expr("""CASE WHEN CAST(n1 AS DECIMAL(38,0)) * n2 <= 1000000000000000
                THEN CAST(1000000 AS DECIMAL(38,0)) * d_num * d_num >
                     CAST(1844164 AS DECIMAL(38,0)) * (n1 + n2) * n1 * n2
                ELSE CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                     > 1.358 * sqrt(CAST(n1 + n2 AS DOUBLE)
                                    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
                END""")
          .as("reject_05"))
  }

  val q260Oracle: String =
    """WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
           FROM events
           WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL),
       per AS (SELECT c,
                 sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS a1,
                 sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS a2
               FROM e GROUP BY 1),
       st AS (SELECT
                sum(a1) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
                sum(a2) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
                sum(a1) OVER () AS n1, sum(a2) OVER () AS n2
              FROM per),
       agg AS (SELECT CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
                 CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num
               FROM st)
       SELECT n1, n2, d_num,
         round(CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS d_stat,
         CASE WHEN n1::HUGEINT * n2 <= 1000000000000000
         THEN 1000000::HUGEINT * d_num * d_num >
              1844164::HUGEINT * (n1 + n2) * n1 * n2
         ELSE CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
              > 1.358 * sqrt(CAST(n1 + n2 AS DOUBLE)
                             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
         END AS reject_05
       FROM agg"""

  // ---------------------------------------------------------------- q262
  /** Position-based (U-shaped) multi-touch attribution — the standard
    * 40/20/40 generalization of q172's last-touch: each purchase's credit
    * splits 40% to the first touch, 40% to the last, 20% across the
    * middle touches of its attribution window (the user's view/click
    * events since the previous purchase). Credit is EXACT integer
    * micro-shares (ppm of the cents value): the middle pool divides by
    * largest-remainder (earliest touches take the remainder — q256's
    * discipline), so per-conversion credits sum to exactly 10⁶ ppm and the
    * corpus-wide credit mass equals purchase revenue to the micro-cent —
    * an invariant float weights cannot hold. Touch→conversion assignment
    * is one per-user ordered pass (running purchase count), then all
    * per-window math partitions by (user, conversion) — high-NDV keys,
    * no corpus-wide window.
    */
  def q262PositionAttribution(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, d).select(col("user_id"), col("event_id"),
      col("ts"), col("event_type"),
      expr("cast(round(value * 100) as bigint)").as("vc"))
    val wRun = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tagged = ev.withColumn("pb",
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).over(wRun))
    val touches = tagged.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), (col("pb") + 1L).as("k"),
        col("ts"), col("event_id"), col("event_type").as("channel"))
    val convs = tagged.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("pb").as("k"), col("vc"))
    val wPos = Window.partitionBy(col("user_id"), col("k"))
      .orderBy(col("ts"), col("event_id"))
    val weighted = touches
      .withColumn("rn", row_number().over(wPos))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy(col("user_id"), col("k"))))
      .withColumn("ppm", expr(
        """CASE WHEN m = 1 THEN 1000000L
                WHEN m = 2 THEN 500000L
                WHEN rn = 1 OR rn = m THEN 400000L
                ELSE 200000L div (m - 2)
                     + (CASE WHEN rn - 1 <= 200000L % (m - 2) THEN 1L ELSE 0L END)
           END"""))
    // r17: one LEFT join replaces the inner join + anti-join + union (a
    // conversion with no touches keeps its row with null channel/ppm and
    // coalesces to the direct credit) — the tagged running-window corpus
    // pass embeds twice instead of four times
    val credited = convs.join(weighted, Seq("user_id", "k"), "left")
      .select(coalesce(col("channel"), lit("direct")).as("channel"),
        (col("vc") * coalesce(col("ppm"), lit(1000000L))).as("credit_micro"))
    credited
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_credits"),
        expr("cast(sum(cast(credit_micro as decimal(38,0))) as bigint)")
          .as("credit_micro_cents"))
      .withColumn("credit",
        expr("CAST(credit_micro_cents AS DOUBLE) / 100000000.0"))
      .orderBy(col("channel"))
  }

  val q262Oracle: String =
    """WITH e AS (SELECT user_id, event_id, ts, event_type,
             CAST(round(value * 100) AS BIGINT) AS vc,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb
           FROM events),
       touches AS (SELECT user_id, pb + 1 AS k, ts, event_id,
                     event_type AS channel
                   FROM e WHERE event_type IN ('view', 'click')),
       convs AS (SELECT user_id, pb AS k, vc FROM e WHERE event_type = 'purchase'),
       pos AS (SELECT user_id, k, channel,
                 row_number() OVER (PARTITION BY user_id, k ORDER BY ts, event_id) AS rn,
                 count(*) OVER (PARTITION BY user_id, k) AS m
               FROM touches),
       wt AS (SELECT user_id, k, channel,
                CASE WHEN m = 1 THEN 1000000
                     WHEN m = 2 THEN 500000
                     WHEN rn = 1 OR rn = m THEN 400000
                     ELSE 200000 // (m - 2)
                          + (CASE WHEN rn - 1 <= 200000 % (m - 2) THEN 1 ELSE 0 END)
                END AS ppm
              FROM pos),
       credited AS (SELECT channel, vc * ppm AS credit_micro
                    FROM wt JOIN convs USING (user_id, k)
                    UNION ALL
                    SELECT 'direct', vc * 1000000
                    FROM convs c
                    WHERE NOT EXISTS (SELECT 1 FROM touches t
                                      WHERE t.user_id = c.user_id AND t.k = c.k))
       SELECT channel, count(*) AS n_credits,
              CAST(sum(credit_micro) AS BIGINT) AS credit_micro_cents,
              CAST(CAST(sum(credit_micro) AS BIGINT) AS DOUBLE) / 100000000.0 AS credit
       FROM credited GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q264
  /** Theil–Sen robust trend — the median of pairwise slopes between daily
    * revenue points, the estimator that shrugs off the outlier days that
    * drag q145's OLS line around (up to 29% contamination tolerated). The
    * corpus collapses to ONE day-sized aggregate (exact integer cents);
    * the O(days²) pair generation and the median rank-select all run on
    * that ~30-row frame — self-joining an aggregate is free, the corpus
    * never cross-joins. Slopes order by their correctly-rounded double
    * (identical IEEE division in both engines), ties broken by the exact
    * (Δcents, Δdays) pair so the ranked sequence is total; the median of
    * an even count averages the two central slopes. OLS from the same
    * exact moments is emitted alongside — the robustness delta is the
    * readout.
    */
  def q264TheilSen(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, d)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("datediff(date_trunc('DAY', ts), DATE '2024-01-01')").as("day"))
      .agg(expr("cast(sum(cast(round(value * 100) as bigint)) as bigint)").as("rc"))
      .pin(SizedBy("day")) // pairs, ranks, and moments all read it
    val a = daily.select(col("day").as("d1"), col("rc").as("c1"))
    val b = daily.select(col("day").as("d2"), col("rc").as("c2"))
    val pairs = a.join(b, col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        (col("c2") - col("c1")).as("dc"), (col("d2") - col("d1")).as("dd"))
      .withColumn("slope", expr("CAST(dc AS DOUBLE) / CAST(dd AS DOUBLE)"))
    val wr = Window.orderBy(col("slope").asc, col("dc").asc, col("dd").asc, // |days|^2-row slope-pair frame
      col("d1").asc, col("d2").asc)
    val ranked = pairs.withColumn("rn", row_number().over(wr))
      .withColumn("np", count(lit(1)).over(Window.partitionBy())) // |days|^2-row slope-pair frame
    val median = ranked
      .filter(expr("rn = (np + 1) div 2 OR rn = np div 2 + 1"))
      .agg(avg(col("slope")).as("ts_slope_raw"), max(col("np")).as("n_pairs"))
    val mom = daily.agg(count(lit(1)).as("n"),
      expr("cast(sum(day) as decimal(38,0))").as("sx"),
      expr("cast(sum(rc) as decimal(38,0))").as("sy"),
      expr("cast(sum(cast(day as decimal(38,0)) * day) as decimal(38,0))").as("sxx"),
      expr("cast(sum(cast(day as decimal(38,0)) * rc) as decimal(38,0))").as("sxy"))
    median.crossJoin(broadcast(mom))
      .select(col("n").as("n_days"), col("n_pairs"),
        expr("round(ts_slope_raw / 100.0, 6)").as("ts_slope"),
        expr("""round(CAST(CAST(n * sxy - sx * sy AS STRING) AS DOUBLE)
                / CAST(CAST(n * sxx - sx * sx AS STRING) AS DOUBLE) / 100.0, 6)""")
          .as("ols_slope"))
  }

  val q264Oracle: String =
    """WITH daily AS (SELECT datediff('day', DATE '2024-01-01', date_trunc('day', ts)) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rc
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
       pairs AS (SELECT a.day AS d1, b.day AS d2, b.rc - a.rc AS dc,
                   b.day - a.day AS dd,
                   CAST(b.rc - a.rc AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS slope
                 FROM daily a JOIN daily b ON a.day < b.day),
       ranked AS (SELECT slope,
                    row_number() OVER (ORDER BY slope ASC, dc ASC, dd ASC, d1 ASC, d2 ASC) AS rn,
                    count(*) OVER () AS np
                  FROM pairs),
       med AS (SELECT avg(slope) AS ts_slope_raw, max(np) AS n_pairs
               FROM ranked WHERE rn = (np + 1) // 2 OR rn = np // 2 + 1),
       mom AS (SELECT count(*) AS n,
                 CAST(sum(day) AS HUGEINT) AS sx, CAST(sum(rc) AS HUGEINT) AS sy,
                 CAST(sum(day::HUGEINT * day) AS HUGEINT) AS sxx,
                 CAST(sum(day::HUGEINT * rc) AS HUGEINT) AS sxy
               FROM daily)
       SELECT n AS n_days, CAST(n_pairs AS BIGINT) AS n_pairs,
              round(ts_slope_raw / 100.0, 6) AS ts_slope,
              round(CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
                / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) / 100.0, 6) AS ols_slope
       FROM med, mom"""

  // ---------------------------------------------------------------- q269
  /** Collection-outage report — the pipeline-health twin of q106's
    * per-user gap fill: over the observed [min ts, max ts] span, how many
    * MINUTES saw zero events, and where is the longest silence? An
    * ingestion owner reads this before trusting any daily aggregate. The
    * corpus collapses to the distinct-observed-minutes aggregate in one
    * pass; consecutive-minute deltas (one lag over that aggregate —
    * calendar-sized, never the corpus) yield missing counts and the
    * longest gap with a deterministic earliest-start tie-break. No
    * calendar×corpus join, no minute-explode of the span.
    */
  def q269OutageReport(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mins = Tables.events(spark, d)
      .select(date_trunc("MINUTE", col("ts")).as("m")).distinct()
    val lagged = mins
      .withColumn("prev", lag(col("m"), 1).over(Window.orderBy(col("m")))) // |minutes|-sized frame
      .withColumn("gap_min",
        when(col("prev").isNull, lit(0L))
          .otherwise(expr("(unix_micros(m) - unix_micros(prev)) div 60000000 - 1")))
    lagged.agg(
        count(lit(1)).as("n_observed"),
        expr("cast(min(unix_micros(m)) as bigint)").as("lo"),
        expr("cast(max(unix_micros(m)) as bigint)").as("hi"),
        expr("cast(sum(gap_min) as bigint)").as("n_missing"),
        expr("cast(max(gap_min) as bigint)").as("longest_gap_min"))
      .select(
        expr("cast((hi - lo) div 60000000 + 1 as bigint)").as("n_minutes_span"),
        col("n_observed"), col("n_missing"), col("longest_gap_min"))
  }

  val q269Oracle: String =
    """WITH m AS (SELECT DISTINCT date_trunc('minute', ts) AS m FROM events),
       l AS (SELECT m, lag(m) OVER (ORDER BY m) AS prev FROM m),
       g AS (SELECT m, CASE WHEN prev IS NULL THEN 0
                            ELSE (epoch_us(m) - epoch_us(prev)) // 60000000 - 1
                       END AS gap_min FROM l)
       SELECT CAST((max(epoch_us(m)) - min(epoch_us(m))) // 60000000 + 1 AS BIGINT) AS n_minutes_span,
              count(*) AS n_observed,
              CAST(sum(gap_min) AS BIGINT) AS n_missing,
              CAST(max(gap_min) AS BIGINT) AS longest_gap_min
       FROM g"""

  // ---------------------------------------------------------------- q271
  /** Audience-OVERLAP matrix — for every pair of event types, how many
    * users do both (the segment-intersection readout behind retargeting
    * and cannibalization questions), computed BOTH ways: exactly, and via
    * mergeable HLL sketches with inclusion–exclusion
    * (|A∩B| = est(A) + est(B) − est(A∪B)), the only route at 100 TB where
    * per-segment user sets don't fit a join — per-day/per-source sketches
    * union in KB, the exact self-join does not. The exact side reduces to
    * DISTINCT (type, user) FIRST (the q108 rule: the corpus never
    * self-joins, the compact frame does), so the intersect join is
    * users-sized. The sketch side certifies q120-style: lgK=12 ⇒ ~1.6%
    * standard error per estimate; inclusion–exclusion compounds three
    * estimates, so the certified band is 8% of the larger set + 8 —
    * comfortably >3σ, and FALSE on any real divergence. Pairs with zero
    * exact overlap still emit (left join from the type-pair frame).
    */
  def q271AudienceOverlap(spark: SparkSession, d: String): DataFrame = {
    // ua is read by the per-type rollup and both self-join sides, perType
    // by two
    val ua = Tables.events(spark, d)
      .select(col("event_type"), col("user_id")).distinct()
      .pin(SizedBy("|users|x|types|")) // distinct audience frame
    val perType = ua.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), expr("hll_sketch_agg(user_id, 12)").as("sk"))
      .pin(SizedBy("|types|")) // sketch frame
    val exact = ua.as("a").join(ua.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_intersect"))
    perType.as("a").join(perType.as("b"),
        col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        (expr("hll_sketch_estimate(a.sk)") + expr("hll_sketch_estimate(b.sk)")
          - expr("hll_sketch_estimate(hll_union(a.sk, b.sk))")).as("est_intersect"))
      .join(exact, Seq("type_a", "type_b"), "left")
      .na.fill(0L, Seq("n_intersect"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_intersect"),
        (col("n_a") + col("n_b") - col("n_intersect")).as("n_union"),
        (abs(col("est_intersect") - col("n_intersect")) <=
          lit(0.08) * greatest(col("n_a"), col("n_b")) + lit(8.0)).as("sketch_ok"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val q271Oracle: String =
    """WITH ua AS (SELECT DISTINCT event_type, user_id FROM events),
       c AS (SELECT event_type, count(*) AS n FROM ua GROUP BY 1),
       i AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) AS n_intersect
             FROM ua a JOIN ua b
               ON a.user_id = b.user_id AND a.event_type < b.event_type
             GROUP BY 1, 2)
       SELECT ca.event_type AS type_a, cb.event_type AS type_b,
         CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
         CAST(coalesce(i.n_intersect, 0) AS BIGINT) AS n_intersect,
         CAST(ca.n + cb.n - coalesce(i.n_intersect, 0) AS BIGINT) AS n_union,
         true AS sketch_ok
       FROM c ca JOIN c cb ON ca.event_type < cb.event_type
       LEFT JOIN i ON i.type_a = ca.event_type AND i.type_b = cb.event_type
       ORDER BY type_a, type_b"""

  // ---------------------------------------------------------------- q304
  /** PageRank over the event-type transition graph — the graph-centrality
    * readout behind "which state actually anchors the user journey"
    * (markov centrality of the q144 transition matrix, not raw visit
    * counts). Three power iterations with damping 0.85 in EXACT integer
    * arithmetic: ranks live as pico-units (Σ≈10¹²), every step is BIGINT
    * multiply + integral division (`div` here, `//` in the oracle — both
    * truncate, and all values are non-negative so truncation and floor
    * agree), so the iterate is bit-identical at any parallelism and in
    * DuckDB. Scale shape: the 100 TB part is the ONE events scan that
    * aggregates transitions to the K×K edge frame (K = event types);
    * every iteration after that joins K-row rank frames against the K²
    * edge frame with both sides broadcast — iteration cost is independent
    * of corpus size, which is exactly why PageRank-style centrality is
    * computed on the aggregated transition graph and never on raw events.
    * Nodes with no out-edges would leak rank (documented simplification;
    * none exist in a lead-derived transition graph, where only the last
    * event of a user emits no edge).
    */
  def q304Pagerank(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // the K²-row edge frame and K-row node frame feed every iteration
    val edges = Tables.events(spark, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("src"))
      .withColumn("dst", lead(col("src"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .pin(SizedBy("K^2")) // transition counts
    val nodes = Tables.events(spark, d).select(col("event_type").as("node"))
      .distinct().pin(SizedBy("K")) // node list
    val nn = nodes.agg(count(lit(1)).as("n_nodes"))
    val tot = edges.groupBy(col("src")).agg(expr("cast(sum(n) as bigint)").as("tot"))
      .pin(SizedBy("K")) // out-degree frame (read by every iteration)
    val r0 = nodes.crossJoin(broadcast(nn))
      .select(col("node"), expr("cast(1000000000000 div n_nodes as bigint)").as("r"))
    // r17: each iterate is pinned — the foldLeft otherwise chains iteration
    // N's whole lineage into iteration N+1 (inflow aggregates re-ran 1+2+3
    // times across the three steps, 12 exchanges for what is three K-row
    // broadcast joins). K-sized pin, the q298 rule.
    val rFinal = (1 to 3).foldLeft(r0) { (rank, _) =>
      val inflow = edges
        .join(broadcast(rank.withColumnRenamed("node", "src")), "src")
        .join(tot, "src")
        .withColumn("c", expr("(85 * ((r * n) div tot)) div 100"))
        .groupBy(col("dst").as("node"))
        .agg(expr("cast(sum(c) as bigint)").as("inflow"))
      nodes.join(broadcast(inflow), Seq("node"), "left")
        .na.fill(0L, Seq("inflow"))
        .crossJoin(broadcast(nn))
        .select(col("node"), expr(
          "cast((1000000000000 * 15) div (100 * n_nodes) + inflow as bigint)").as("r"))
        .pin(SizedBy("K")) // rank iterate
    }
    val wr = Window.orderBy(col("r").desc, col("node").asc) // |nodes|-sized rank frame (event-type graph)
    rFinal.join(tot.withColumnRenamed("src", "node"), Seq("node"), "left")
      .na.fill(0L, Seq("tot"))
      .select(col("node"), col("tot").as("out_transitions"),
        col("r").as("pr_pico"),
        row_number().over(wr).cast("long").as("rnk"))
      .orderBy(col("rnk"))
  }

  val q304Oracle: String =
    """WITH t AS (SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
         FROM events),
       e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
             FROM t WHERE dst IS NOT NULL GROUP BY 1, 2),
       nodes AS (SELECT DISTINCT event_type AS node FROM events),
       nn AS (SELECT count(*) AS n_nodes FROM nodes),
       tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS tot FROM e GROUP BY 1),
       r0 AS (SELECT node, CAST(1000000000000 // n_nodes AS BIGINT) AS r
              FROM nodes CROSS JOIN nn),
       c1 AS (SELECT e.dst AS node,
                CAST(sum((85 * ((r0.r * e.n) // tot.tot)) // 100) AS BIGINT) AS inflow
              FROM e JOIN r0 ON r0.node = e.src JOIN tot ON tot.src = e.src
              GROUP BY 1),
       r1 AS (SELECT n.node,
                CAST((1000000000000 * 15) // (100 * nn.n_nodes)
                     + coalesce(c1.inflow, 0) AS BIGINT) AS r
              FROM nodes n CROSS JOIN nn LEFT JOIN c1 ON c1.node = n.node),
       c2 AS (SELECT e.dst AS node,
                CAST(sum((85 * ((r1.r * e.n) // tot.tot)) // 100) AS BIGINT) AS inflow
              FROM e JOIN r1 ON r1.node = e.src JOIN tot ON tot.src = e.src
              GROUP BY 1),
       r2 AS (SELECT n.node,
                CAST((1000000000000 * 15) // (100 * nn.n_nodes)
                     + coalesce(c2.inflow, 0) AS BIGINT) AS r
              FROM nodes n CROSS JOIN nn LEFT JOIN c2 ON c2.node = n.node),
       c3 AS (SELECT e.dst AS node,
                CAST(sum((85 * ((r2.r * e.n) // tot.tot)) // 100) AS BIGINT) AS inflow
              FROM e JOIN r2 ON r2.node = e.src JOIN tot ON tot.src = e.src
              GROUP BY 1),
       r3 AS (SELECT n.node,
                CAST((1000000000000 * 15) // (100 * nn.n_nodes)
                     + coalesce(c3.inflow, 0) AS BIGINT) AS r
              FROM nodes n CROSS JOIN nn LEFT JOIN c3 ON c3.node = n.node)
       SELECT r3.node, CAST(coalesce(tot.tot, 0) AS BIGINT) AS out_transitions,
         r3.r AS pr_pico,
         CAST(row_number() OVER (ORDER BY r3.r DESC, r3.node ASC) AS BIGINT) AS rnk
       FROM r3 LEFT JOIN tot ON tot.src = r3.node
       ORDER BY rnk"""

  // ---------------------------------------------------------------- q313
  /** Sequence-PATTERN matching over per-user event journeys — the
    * MATCH_RECOGNIZE gap (SQL:2016 row pattern matching, which Spark
    * lacks as an operator): each user's journey becomes the string of
    * event-type initials in (ts, event_id) order, and patterns are
    * counted as non-overlapping greedy regex matches — `v+c*p` (a
    * browse run converting to purchase, optional clicks between) and
    * `e{2,}` (a repeated-error run, the rage-click signal). Initials are
    * distinct across this fixture's five event types, so the encoding is
    * faithful. Determinism: collect_list order is fixed by array_sort on
    * (ts, event_id, initial) structs; both engines' regex engines (Java
    * util.regex, RE2) agree on leftmost greedy matching for these
    * backreference-free patterns. Scale shape: one events scan, one
    * user-keyed exchange; per-user journey strings are session-bounded
    * (thousands of chars, not GB) — the same per-key-bounded contract as
    * q87 sessionize; a per-session variant splits the key first. Output:
    * per pattern, users matched, total matches, and the max per-user
    * match count.
    */
  def q313PatternMatch(spark: SparkSession, d: String): DataFrame = {
    val seqs = Tables.events(spark, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("c0"))
      .groupBy(col("user_id"))
      .agg(expr(
        "array_join(transform(array_sort(collect_list(struct(ts, event_id, c0))), x -> x.c0), '')")
        .as("s"))
    val pats = seqs.select(col("user_id"),
        explode(expr("""array(
          struct('browse_to_buy' as pattern, cast(regexp_count(s, 'v+c*p') as bigint) as m),
          struct('error_run' as pattern, cast(regexp_count(s, 'e{2,}') as bigint) as m))"""))
          .as("x"))
      .select(col("user_id"), col("x.pattern").as("pattern"), col("x.m").as("m"))
    pats.groupBy(col("pattern"))
      .agg(expr("cast(count_if(m > 0) as bigint)").as("n_users_matched"),
        expr("cast(sum(m) as bigint)").as("n_matches"),
        expr("cast(max(m) as bigint)").as("max_per_user"))
      .orderBy(col("pattern"))
  }

  val q313Oracle: String =
    """WITH s AS (SELECT user_id,
           string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
         FROM events GROUP BY user_id),
       m AS (SELECT user_id, 'browse_to_buy' AS pattern,
               CAST(len(regexp_extract_all(s, 'v+c*p')) AS BIGINT) AS m FROM s
             UNION ALL
             SELECT user_id, 'error_run' AS pattern,
               CAST(len(regexp_extract_all(s, 'e{2,}')) AS BIGINT) AS m FROM s)
       SELECT pattern, CAST(count(*) FILTER (m > 0) AS BIGINT) AS n_users_matched,
         CAST(sum(m) AS BIGINT) AS n_matches,
         CAST(max(m) AS BIGINT) AS max_per_user
       FROM m GROUP BY pattern ORDER BY pattern"""

  // ---------------------------------------------------------------- q331
  /** Time-INTERVAL range frame — the window feature q49's numeric RANGE
    * frame doesn't exercise: a per-user rolling 7-day spend where the
    * frame is defined by TIME distance, not row count (sparse activity
    * makes ROWS frames wrong: 10 events in an hour and 10 across a year
    * both span "10 rows"). The frame rides epoch seconds —
    * `rangeBetween(−7·86400, 0)` over `ts` cast to long — which is the
    * same RANGE-peers semantics in both engines (equal timestamps are
    * peers; exact integer cents make the peer-group sum
    * order-independent). Readout per user: events, total spend, and the
    * PEAK rolling-week spend — the burst detector a spend-limit alarm
    * watches. One user-keyed exchange (high-NDV, the sweep-safe
    * direction); the rolling sum is a single sorted pass per user.
    */
  def q331IntervalFrame(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("es")).rangeBetween(-7L * 86400, 0)
    Tables.events(spark, d)
      .select(col("user_id"), col("ts"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .withColumn("es", expr("cast(ts as long)"))
      .withColumn("w7", sum(col("cents")).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        expr("cast(sum(cents) as bigint)").as("total_cents"),
        expr("cast(max(w7) as bigint)").as("max_7d_cents"))
      .orderBy(col("user_id"))
  }

  val q331Oracle: String =
    """WITH e AS (SELECT user_id, epoch(ts) AS es,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
       r AS (SELECT user_id, cents,
               CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY es
                 RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS BIGINT) AS w7
             FROM e)
       SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(cents) AS BIGINT) AS total_cents,
         CAST(max(w7) AS BIGINT) AS max_7d_cents
       FROM r GROUP BY user_id ORDER BY user_id"""

  // ---------------------------------------------------------------- q381
  /** KAPLAN–MEIER survival estimate of the customer REORDER interval —
    * survival analysis, the censoring-aware class none of the SPC/test
    * family covers: "how long until a customer orders again" where the
    * final open interval (last order → end of window) is CENSORED, not a
    * death — averaging raw gaps would bias toward short intervals because
    * long ones are still open. Each consecutive-order gap is an observed
    * event at t = gap days; the open tail is censored at its current
    * length. The product-limit estimator stays cross-engine exact under
    * the µ-nat quantized-ln discipline (q341/q250): each factor
    * ln((n_i−d_i)/n_i) is one correctly-rounded ln of an exact integer
    * ratio quantized to µ-nats, and the survival curve is their exact
    * BIGINT prefix sum — S(t) = exp(surv_munat·10⁻⁶). One orders scan →
    * per-customer lead() gaps → |distinct-gap| frame (the q343 argument);
    * readout = the 20 earliest event times with at-risk/death counts and
    * the interval totals riding. Terminal times where d_i = n_i (S hits
    * exact 0, ln −∞) are excluded — only ever the maximal t, outside the
    * 20-row head. Full oracle.
    */
  def q381KaplanMeier(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, d)
      .select(col("o_custkey"), expr("CAST(o_orderdate AS DATE)").as("dd"),
        col("o_orderkey"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("dd").asc, col("o_orderkey").asc)
    val mx = o.agg(max(col("dd")).as("md"))
    val iv = o.withColumn("nxt", lead(col("dd"), 1).over(w))
      .crossJoin(broadcast(mx)) // 1-row window end
      .select(
        when(col("nxt").isNotNull, datediff(col("nxt"), col("dd")))
          .otherwise(datediff(col("md"), col("dd"))).cast("long").as("t"),
        col("nxt").isNotNull.as("death"))
      .pin(SizedBy("order-count")) // narrow (t, death) intervals (r17: the totals and by-t rollups each re-ran the window pass — orders x4)
    val tot = iv.agg(count(lit(1)).as("n_intervals"),
      expr("cast(count_if(NOT death) as bigint)").as("n_censored"))
    val byT = iv.groupBy(col("t")).agg(count(lit(1)).as("c_all"),
      expr("cast(count_if(death) as bigint)").as("d"))
    val wDesc = Window.orderBy(col("t").desc) // duration-domain-sized frame
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("t").asc) // duration-domain-sized frame
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT.withColumn("n_risk", expr("cast(0 as bigint)") + sum(col("c_all")).over(wDesc))
      .filter(col("d") > 0).filter(col("n_risk") > col("d"))
      .withColumn("term_munat", expr(
        "CAST(round(ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)) * 1000000) AS BIGINT)"))
      .withColumn("surv_munat", expr("cast(0 as bigint)") + sum(col("term_munat")).over(wAsc))
      .orderBy(col("t").asc).limit(20)
      .crossJoin(broadcast(tot)) // 1-row totals
      .select(col("t"), col("n_risk"), col("d").as("n_deaths"),
        col("term_munat"), col("surv_munat"), col("n_intervals"),
        col("n_censored"))
      .orderBy(col("t").asc)
  }

  val q381Oracle: String =
    """WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS dd, o_orderkey
                  FROM orders),
       mx AS (SELECT max(dd) AS md FROM o),
       g AS (SELECT o_custkey, dd,
               lead(dd) OVER (PARTITION BY o_custkey ORDER BY dd ASC, o_orderkey ASC) AS nxt
             FROM o),
       iv AS (SELECT CASE WHEN nxt IS NOT NULL THEN date_diff('day', dd, nxt)
                       ELSE date_diff('day', dd, (SELECT md FROM mx)) END AS t,
                nxt IS NOT NULL AS death FROM g),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n_intervals,
                 CAST(count(*) FILTER (NOT death) AS BIGINT) AS n_censored FROM iv),
       byt AS (SELECT t, count(*) AS c_all,
                 CAST(count(*) FILTER (death) AS BIGINT) AS d
               FROM iv GROUP BY 1),
       r AS (SELECT t, d,
               CAST(sum(c_all) OVER (ORDER BY t DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
             FROM byt),
       km AS (SELECT t, n_risk, d,
               CAST(round(ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)) * 1000000) AS BIGINT) AS term_munat
             FROM r WHERE d > 0 AND n_risk > d),
       s AS (SELECT t, n_risk, d AS n_deaths, term_munat,
               CAST(sum(term_munat) OVER (ORDER BY t ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS surv_munat
             FROM km)
       SELECT s.t, s.n_risk, s.n_deaths, s.term_munat, s.surv_munat,
         tot.n_intervals, tot.n_censored
       FROM s, tot ORDER BY s.t ASC LIMIT 20"""

  // ---------------------------------------------------------------- q382
  /** MANN–WHITNEY U (Wilcoxon rank-sum) two-sample test — the
    * nonparametric location test between q246's parametric z-test and
    * q260's KS distribution test: are URGENT order values stochastically
    * larger than LOW ones, decided on RANKS so no normality assumption
    * and no data-side doubles. Average ranks with ties never materialize
    * half-integers: 2·R₁ = Σ_v c1(v)·(2·C(<v) + c(v) + 1) is exact
    * BIGINT, U₁ follows as 2U₁ = 2R₁ − n₁(n₁+1), and the normal
    * approximation's decision is one DECIMAL(38,0) cross-multiplication
    * (2U₁−n₁n₂)²·3·10⁴ > 38416·n₁n₂·var_q against z=1.96 (38416 =
    * 1.96²·10⁴), where var_q = (N(N−1)(N+1) − Σ(t³−t)) div N(N−1) is the
    * tie-corrected variance quotient — the one truncating div, identical
    * in both engines, error ≤1 part in ~N². The rank machinery is a
    * |distinct-values|-sized frame (value-domain-bounded, the q260
    * shape), never a row-level sort. CLES ppm = U₁/(n₁n₂) — the
    * probability a random URGENT order exceeds a random LOW one (ties
    * half) — rides as the effect size. Full oracle.
    */
  def q382MannWhitney(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(expr("cast(round(o_totalprice * 100) as bigint)").as("v"),
        (col("o_orderpriority") === "1-URGENT").cast("long").as("g1"))
    val byV = o.groupBy(col("v")).agg(expr("cast(sum(g1) as bigint)").as("c1"),
      count(lit(1)).as("c"))
    val w = Window.orderBy(col("v").asc) // value-domain-sized per-value count frame
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byV.withColumn("cum", sum(col("c")).over(w))
    ranked.agg(
        expr("cast(sum(c1) as bigint)").as("n1"),
        expr("cast(sum(c - c1) as bigint)").as("n2"),
        expr("cast(sum(c1 * (2 * (cum - c) + c + 1)) as bigint)").as("r1_x2"),
        expr("cast(sum(cast(c as decimal(38,0)) * c * c - c) as decimal(38,0))").as("t3"))
      .withColumn("nn", col("n1") + col("n2"))
      .withColumn("u1_x2", expr("r1_x2 - n1 * (n1 + 1)"))
      .withColumn("var_q", expr(
        "CAST((CAST(nn AS DECIMAL(38,0)) * (nn - 1) * (nn + 1) - t3) div (CAST(nn AS DECIMAL(38,0)) * (nn - 1)) AS BIGINT)"))
      .withColumn("cles_ppm", expr(
        "CAST(CAST(u1_x2 AS DECIMAL(38,0)) * 1000000 div (2 * CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"))
      .withColumn("reject_95", expr(
        """CAST(CAST(u1_x2 AS DECIMAL(38,0)) - CAST(n1 AS DECIMAL(38,0)) * n2 AS DECIMAL(38,0))
           * (CAST(u1_x2 AS DECIMAL(38,0)) - CAST(n1 AS DECIMAL(38,0)) * n2) * 3 * 10000
           > CAST(38416 AS DECIMAL(38,0)) * n1 * n2 * var_q"""))
      .select(col("n1"), col("n2"), col("u1_x2"), col("var_q"),
        col("cles_ppm"), col("reject_95"))
  }

  val q382Oracle: String =
    """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1
           FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
       byv AS (SELECT v, CAST(sum(g1) AS BIGINT) AS c1, count(*) AS c
               FROM o GROUP BY 1),
       rk AS (SELECT *, sum(c) OVER (ORDER BY v ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM byv),
       a AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c - c1) AS BIGINT) AS n2,
               CAST(sum(c1 * (2 * (cum - c) + c + 1)) AS BIGINT) AS r1_x2,
               CAST(sum(CAST(c AS HUGEINT) * c * c - c) AS HUGEINT) AS t3
             FROM rk),
       b AS (SELECT *, n1 + n2 AS nn,
               CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2 FROM a),
       cte AS (SELECT *,
               CAST((CAST(nn AS HUGEINT) * (nn - 1) * (nn + 1) - t3) //
                    (CAST(nn AS HUGEINT) * (nn - 1)) AS BIGINT) AS var_q
             FROM b)
       SELECT n1, n2, u1_x2, var_q,
         CAST(CAST(u1_x2 AS HUGEINT) * 1000000 // (2 * CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS cles_ppm,
         (CAST(u1_x2 AS HUGEINT) - CAST(n1 AS HUGEINT) * n2)
           * (CAST(u1_x2 AS HUGEINT) - CAST(n1 AS HUGEINT) * n2) * 3 * 10000
           > CAST(38416 AS HUGEINT) * n1 * n2 * var_q AS reject_95
       FROM cte"""

  /** Staged exact r²_ppm over DECIMAL(38,0) moment columns `cov_n`,
    * `var_a`, `var_b` — shared by q414 (autocorrelation spectrum) and
    * q386 (correlation matrix). Two divisions on |cov| (never cov²·10⁶
    * in one term): the single-division form needs |cov|²·10⁶ and
    * var_a·var_b to both fit 38 digits — dead at ~3 days of 10⁹-event
    * volume. abs() keeps every operand nonnegative so Spark `div`
    * (trunc) and DuckDB `//` agree by construction.
    *
    * LOUD envelope guard (round-13 ADVICE): Spark's `div` narrows its
    * result to BIGINT while DuckDB's `//` stays HUGEINT, so beyond the
    * envelope the engines would silently DIVERGE (Spark nulls/wraps the
    * staged quotient, DuckDB keeps truncating). The guard raises instead.
    * Safety proof when both guards pass:
    *  - every moment < 1e32 ⇒ |cov|·10⁶ < 1e38 fits DECIMAL(38,0);
    *  - t1 = |cov|·10⁶ div var_a fits BIGINT: for var_a < 1e25 the
    *    second guard pins |cov| ≤ 9·10¹²·var_a ⇒ t1 ≤ 9·10¹⁸ < 2⁶³
    *    (and 9·10¹²·var_a < 9·10³⁷ so the guard's own multiply cannot
    *    overflow); for var_a ≥ 1e25, t1 < 1e32·10⁶/1e25 = 10¹³;
    *  - t1·|cov| ≤ 10⁶·cov²/var_a ≤ 10⁶·var_b < 10³⁸ by Cauchy–Schwarz
    *    (an identity for genuine moments n·Σxy−ΣxΣy / n·Σx²−(Σx)²).
    * The old documented envelope (days·daily_volume ≲ 9e12) sits far
    * inside both guards — they never fire on data the formula is exact
    * for, and an out-of-envelope run now fails with a named error
    * instead of a hash mismatch. Round14Spec replays both directions.
    */
  private[graft] val R2PpmStagedSql: String =
    """CAST(CASE WHEN var_a = 0 OR var_b = 0 THEN 0
       WHEN var_a >= CAST('100000000000000000000000000000000' AS DECIMAL(38,0))
         OR var_b >= CAST('100000000000000000000000000000000' AS DECIMAL(38,0))
         OR abs(cov_n) >= CAST('100000000000000000000000000000000' AS DECIMAL(38,0))
         THEN CAST(raise_error('r2_ppm envelope exceeded: a second moment is beyond 1e32; the staged DECIMAL(38,0) r2 readout would overflow — rescale the series (see EventAnalytics.R2PpmStagedSql)') AS BIGINT)
       WHEN var_a < CAST('10000000000000000000000000' AS DECIMAL(38,0))
         AND abs(cov_n) > CAST(9000000000000 AS DECIMAL(38,0)) * var_a
         THEN CAST(raise_error('r2_ppm envelope exceeded: |cov|/var_a is beyond the BIGINT div range; the staged quotient would wrap — rescale the series (see EventAnalytics.R2PpmStagedSql)') AS BIGINT)
       ELSE CAST(abs(cov_n) * 1000000 div var_a AS DECIMAL(38,0))
            * abs(cov_n) div var_b END AS BIGINT)"""

  // ---------------------------------------------------------------- q414
  /** AUTOCORRELATION SPECTRUM (correlogram, lags 1–14) of the daily event
    * volume — q222 measures lag-1; capacity planning needs the whole
    * first two weeks of lags to see the weekly cycle (a lag-7 peak) and
    * distinguish trend from seasonality. Per lag k: Pearson r between
    * y(t) and y(t+k) over the paired days, decided entirely in
    * DECIMAL(38,0) (the q386 discipline): n, Σx, Σy, Σxy, Σx², Σy² per
    * lag, r²_ppm staged as (|cov|·10⁶ div varx)·|cov| div vary + cov's
    * exact sign. One
    * events scan → |days|-row daily frame → 14× explode → per-lag
    * self-join on the tiny frame. Full oracle.
    */
  def q414AcfSpectrum(spark: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(spark, d)
      .groupBy(expr("CAST(ts AS DATE)").as("day"))
      .agg(count(lit(1)).as("x"))
      .pin(SizedBy("|days|")) // daily frame, both join sides
    val lags = spark.range(1, 15).select(col("id").as("lag"))
    val a = daily.select(col("day"), col("x").as("xa"))
    val b = daily.select(col("day").as("day2"), col("x").as("xb"))
    broadcast(lags).crossJoin(a)
      .withColumn("day2", expr("date_add(day, cast(lag as int))"))
      .join(b, "day2")
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        expr("cast(sum(xa) as bigint)").as("sa"),
        expr("cast(sum(xb) as bigint)").as("sb"),
        expr("cast(sum(cast(xa as decimal(38,0)) * xb) as decimal(38,0))").as("sab"),
        expr("cast(sum(cast(xa as decimal(38,0)) * xa) as decimal(38,0))").as("saa"),
        expr("cast(sum(cast(xb as decimal(38,0)) * xb) as decimal(38,0))").as("sbb"))
      .withColumn("cov_n", expr("CAST(CAST(n AS DECIMAL(38,0)) * sab - CAST(sa AS DECIMAL(38,0)) * sb AS DECIMAL(38,0))"))
      .withColumn("var_a", expr("CAST(CAST(n AS DECIMAL(38,0)) * saa - CAST(sa AS DECIMAL(38,0)) * sa AS DECIMAL(38,0))"))
      .withColumn("var_b", expr("CAST(CAST(n AS DECIMAL(38,0)) * sbb - CAST(sb AS DECIMAL(38,0)) * sb AS DECIMAL(38,0))"))
      .select(col("lag"), col("n"),
        expr("CAST(sign(cov_n) AS BIGINT)").as("cov_sign"),
        // staged two-division r²_ppm with the LOUD envelope guard — the
        // full overflow argument lives on R2PpmStagedSql above
        expr(R2PpmStagedSql).as("r2_ppm"))
      .orderBy(col("lag"))
  }

  val q414Oracle: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY 1),
       lags AS (SELECT unnest(generate_series(1, 14)) AS lag),
       p AS (SELECT l.lag, a.x AS xa, b.x AS xb
             FROM lags l
             JOIN daily a ON true
             JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER)),
       m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xa) AS BIGINT) AS sa, CAST(sum(xb) AS BIGINT) AS sb,
               sum(CAST(xa AS HUGEINT) * xb) AS sab,
               sum(CAST(xa AS HUGEINT) * xa) AS saa,
               sum(CAST(xb AS HUGEINT) * xb) AS sbb
             FROM p GROUP BY 1),
       c AS (SELECT lag, n,
               CAST(n AS HUGEINT) * sab - CAST(sa AS HUGEINT) * sb AS cov_n,
               CAST(n AS HUGEINT) * saa - CAST(sa AS HUGEINT) * sa AS var_a,
               CAST(n AS HUGEINT) * sbb - CAST(sb AS HUGEINT) * sb AS var_b
             FROM m)
       SELECT CAST(lag AS BIGINT) AS lag, n,
         CAST(sign(cov_n) AS BIGINT) AS cov_sign,
         CAST(CASE WHEN var_a = 0 OR var_b = 0 THEN 0
           ELSE (abs(cov_n) * 1000000 // var_a) * abs(cov_n) // var_b
           END AS BIGINT) AS r2_ppm
       FROM c ORDER BY lag"""

  // ---------------------------------------------------------------- q417
  /** WEEK-OVER-WEEK REVENUE BRIDGE (price/volume waterfall) per order
    * priority — the finance decomposition q155's period-over-period
    * deltas feed but never split: did revenue move because we sold MORE
    * orders or BIGGER orders? Exact integer decomposition scaled by
    * n_prev so no division appears: volume effect = Δn·R₀, price effect
    * = n₀·R₁ − n₁·R₀, and the identity volume + price = n₀·ΔR is
    * checked as a riding boolean — a real structural certificate (a
    * mis-lagged join breaks it loudly), all in DECIMAL(38,0). One
    * orders scan → |weeks|×|priorities| frame → lag window on the tiny
    * frame. Full oracle.
    */
  def q417RevenueBridge(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekly = Tables.orders(spark, d)
      .groupBy(col("o_orderpriority").as("priority"),
        expr("cast(date_trunc('week', o_orderdate) as date)").as("week"))
      .agg(count(lit(1)).as("n"),
        expr("cast(sum(cast(round(o_totalprice * 100) as decimal(38,0))) as decimal(38,0))").as("r"))
    val w = Window.partitionBy(col("priority")).orderBy(col("week").asc)
    weekly
      .withColumn("n0", lag(col("n"), 1).over(w))
      .withColumn("r0", lag(col("r"), 1).over(w))
      .filter(col("n0").isNotNull)
      .withColumn("volume_x", expr("CAST((n - n0) AS DECIMAL(38,0)) * r0"))
      .withColumn("price_x", expr("CAST(n0 AS DECIMAL(38,0)) * r - CAST(n AS DECIMAL(38,0)) * r0"))
      .select(col("priority"), expr("cast(week as string)").as("week"),
        col("n0"), col("n").as("n1"),
        expr("cast(r0 as bigint)").as("rev_prev"),
        expr("cast(r as bigint)").as("rev_cur"),
        expr("cast(volume_x as bigint)").as("volume_x"),
        expr("cast(price_x as bigint)").as("price_x"),
        expr("volume_x + price_x = CAST(n0 AS DECIMAL(38,0)) * (r - r0)").as("bridge_exact"))
      .orderBy(col("priority"), col("week"))
  }

  val q417Oracle: String =
    """WITH weekly AS (SELECT o_orderpriority AS priority,
             date_trunc('week', o_orderdate) AS week,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(round(o_totalprice * 100) AS HUGEINT)) AS r
           FROM orders GROUP BY 1, 2),
       lg AS (SELECT *, lag(n) OVER (PARTITION BY priority ORDER BY week ASC) AS n0,
                lag(r) OVER (PARTITION BY priority ORDER BY week ASC) AS r0
              FROM weekly)
       SELECT priority, CAST(week AS VARCHAR) AS week, n0, n AS n1,
         CAST(r0 AS BIGINT) AS rev_prev, CAST(r AS BIGINT) AS rev_cur,
         CAST((n - n0) * r0 AS BIGINT) AS volume_x,
         CAST(n0 * r - n * r0 AS BIGINT) AS price_x,
         (n - n0) * r0 + (n0 * r - n * r0) = n0 * (r - r0) AS bridge_exact
       FROM lg WHERE n0 IS NOT NULL
       ORDER BY priority, week"""

  // ---------------------------------------------------------------- q415
  /** EVENT-ORDER INVERSION AUDIT — the log-pipeline health check a 100 TB
    * event landing zone runs nightly: within a user's stream ordered by
    * event time, assigned event_ids should be non-decreasing (ids are
    * allocated at ingest); every ADJACENT inversion (id drops between
    * consecutive events) is a reordering introduced by the transport —
    * the number that decides whether downstream sessionization can trust
    * arrival order. One events scan, per-user lag window (high-NDV
    * partition — the sweep-safe direction), readout per event_type plus
    * exact global ppm. Full oracle.
    */
  def q415InversionAudit(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val flagged = Tables.events(spark, d)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("inv",
        when(col("event_id") < lag(col("event_id"), 1).over(w), lit(1))
          .otherwise(lit(0)))
    val byType = flagged.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        expr("cast(sum(inv) as bigint)").as("n_inversions"))
      .pin(SizedBy("|types|")) // rollup, read by totals + final join
    val g = byType.agg(expr("cast(sum(n_events) as bigint)").as("tn"),
      expr("cast(sum(n_inversions) as bigint)").as("ti"))
    byType.crossJoin(broadcast(g)) // 1-row global totals
      .select(col("event_type"), col("n_events"), col("n_inversions"),
        expr("n_inversions * 1000000 div n_events").as("type_ppm"),
        expr("ti * 1000000 div tn").as("global_ppm"))
      .orderBy(col("event_type"))
  }

  val q415Oracle: String =
    """WITH f AS (SELECT event_type,
             CASE WHEN event_id < lag(event_id) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
               THEN 1 ELSE 0 END AS inv
           FROM events),
       bt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(inv) AS BIGINT) AS n_inversions
              FROM f GROUP BY 1),
       g AS (SELECT CAST(sum(n_events) AS BIGINT) AS tn,
               CAST(sum(n_inversions) AS BIGINT) AS ti FROM bt)
       SELECT bt.event_type, bt.n_events, bt.n_inversions,
         CAST(bt.n_inversions * 1000000 // bt.n_events AS BIGINT) AS type_ppm,
         CAST(g.ti * 1000000 // g.tn AS BIGINT) AS global_ppm
       FROM bt, g ORDER BY bt.event_type"""

  // ---------------------------------------------------------------- q407
  /** ALLEN INTERVAL-RELATION CENSUS between per-user activity spans —
    * the full 13-relation temporal-logic vocabulary (before/meets/
    * overlaps/starts/during/finishes/equals + inverses) counted over
    * every user's (event-type, event-type) span pair: q259 asks WHETHER
    * intervals overlap, this asks HOW — the disjoint-vs-containment
    * split is what separates "clicking stopped before errors began"
    * (causal candidate) from "errors lived inside the click span"
    * (correlated noise). Span = [first, last] event µs per (user, type);
    * the classifier is one total, mutually-exclusive CASE over exact µs
    * comparisons evaluated top-down IDENTICALLY in both engines
    * (degenerate single-event point spans included — 'meets' on a point
    * boundary is declared by CASE order, not left undefined). Scale
    * shape: the pair generator is a user-keyed EQUI-join of the
    * |users|×|types| span frame with itself — ≤ C(|types|,2) = 10 pairs
    * per user, never corpus×corpus; one events scan, then K-sized
    * census rows. Full oracle.
    */
  def q407AllenCensus(spark: SparkSession, d: String): DataFrame = {
    val iv = Tables.events(spark, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(expr("min(unix_micros(ts))").as("s"),
        expr("max(unix_micros(ts))").as("e"))
      .pin(SizedBy("|users|x|types|")) // span frame, both join sides
    val a = iv.select(col("user_id"), col("event_type").as("ta"),
      col("s").as("s1"), col("e").as("e1"))
    val b = iv.select(col("user_id"), col("event_type").as("tb"),
      col("s").as("s2"), col("e").as("e2"))
    val rel =
      """CASE
           WHEN e1 < s2 THEN 'before'
           WHEN s1 > e2 THEN 'after'
           WHEN e1 = s2 THEN 'meets'
           WHEN s1 = e2 THEN 'met_by'
           WHEN s1 = s2 AND e1 = e2 THEN 'equals'
           WHEN s1 = s2 AND e1 < e2 THEN 'starts'
           WHEN s1 = s2 THEN 'started_by'
           WHEN e1 = e2 AND s1 > s2 THEN 'finishes'
           WHEN e1 = e2 THEN 'finished_by'
           WHEN s1 > s2 AND e1 < e2 THEN 'during'
           WHEN s1 < s2 AND e1 > e2 THEN 'contains'
           WHEN s1 < s2 THEN 'overlaps'
           ELSE 'overlapped_by' END"""
    a.join(b, "user_id").filter(col("ta") < col("tb"))
      .withColumn("relation", expr(rel))
      .groupBy(col("ta"), col("tb"), col("relation"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("ta"), col("tb"), col("relation"))
  }

  val q407Oracle: String =
    """WITH iv AS (SELECT user_id, event_type,
             min(epoch_us(ts)) AS s, max(epoch_us(ts)) AS e
           FROM events GROUP BY 1, 2),
       p AS (SELECT a.user_id, a.event_type AS ta, b.event_type AS tb,
               a.s AS s1, a.e AS e1, b.s AS s2, b.e AS e2
             FROM iv a JOIN iv b ON b.user_id = a.user_id
             WHERE a.event_type < b.event_type),
       r AS (SELECT ta, tb,
               CASE
                 WHEN e1 < s2 THEN 'before'
                 WHEN s1 > e2 THEN 'after'
                 WHEN e1 = s2 THEN 'meets'
                 WHEN s1 = e2 THEN 'met_by'
                 WHEN s1 = s2 AND e1 = e2 THEN 'equals'
                 WHEN s1 = s2 AND e1 < e2 THEN 'starts'
                 WHEN s1 = s2 THEN 'started_by'
                 WHEN e1 = e2 AND s1 > s2 THEN 'finishes'
                 WHEN e1 = e2 THEN 'finished_by'
                 WHEN s1 > s2 AND e1 < e2 THEN 'during'
                 WHEN s1 < s2 AND e1 > e2 THEN 'contains'
                 WHEN s1 < s2 THEN 'overlaps'
                 ELSE 'overlapped_by' END AS relation
             FROM p)
       SELECT ta, tb, relation, CAST(count(*) AS BIGINT) AS n_pairs
       FROM r GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""

  // ---------------------------------------------------------------- q405
  /** KRUSKAL–WALLIS H TEST across the five market segments on customer
    * balance — q382's Mann–Whitney generalized to k groups (the one-way
    * ANOVA-on-ranks a curation stack runs before trusting any per-segment
    * difference): midrank ties (rank2 = twice the average rank, exact
    * integers), twice-rank sums R2_g per segment, and the quantized-exact
    * pipeline H_milli = 3000·Σ(R2_g² div 4n_g) div (N(N+1)) − 3000(N+1),
    * tie-corrected by ·(N³−N) div (N³−N−Σ(t³−t)) — every division a
    * truncating integer division REPLAYED identically by the oracle (the
    * q382 var_q discipline: exact-replayable, each step deterministic in
    * both engines), clamped at 0 before correction so the truncation
    * noise floor on null data cannot flip signs between engines. Readout
    * per segment: n_g, R2_g, with H, H′ and the α=0.05 decision against
    * χ²₄ = 9.488 riding every row. Scale shape: ranks are a
    * [[BucketRank.Running]] count of per-value counts over ≤1,100
    * domain-bounded cent bands — never a global corpus window; the value
    * frame is bounded by the cents domain at any corpus size. Full
    * oracle.
    */
  def q405KruskalWallis(spark: SparkSession, d: String): DataFrame = {
    val cust = graft.sources.Tables.customer(spark, d)
      .select(col("c_mktsegment").as("seg"),
        expr("cast(round(c_acctbal * 100) as bigint)").as("x"))
    val cs = cust.groupBy(col("x"), col("seg")).agg(count(lit(1)).as("cg"))
      .pin(SizedBy("value-domain")) // ≤1.1M cent values × 5 segs
    val xcnt = cs.groupBy(col("x")).agg(expr("cast(sum(cg) as bigint)").as("c"))
      .pin(SizedBy("value-domain")) // ≤1.1M distinct cent values
    // midranks: a BucketRank running count over ≤1,100 cent bands
    val rank2 = BucketRank.Running(Nil, expr("x div 10000"), Seq(col("x")), "cum" -> col("c"))(xcnt)
      .select(col("x"), expr("2 * (cum - c + 1) + c - 1").as("r2"))
    // the rank frame is cents-domain-bounded at any corpus size (the q402
    // rule), so the per-value count frame never shuffles on x; perSeg is
    // read by the H aggregate and the final readout
    val perSeg = cs.join(broadcast(rank2), "x")
      .groupBy(col("seg"))
      .agg(expr("cast(sum(cg) as bigint)").as("n_g"),
        expr("cast(sum(cast(cg as decimal(38,0)) * r2) as decimal(38,0))").as("r2s"))
      .pin(Rows(5)) // one per market segment
    val ties = xcnt.agg(
      expr("cast(sum(c) as bigint)").as("n"),
      expr("cast(sum(cast(c as decimal(38,0)) * c * c - c) as decimal(38,0))").as("t3"))
    val h = perSeg
      .agg(expr("cast(sum(r2s * r2s div (4 * cast(n_g as decimal(38,0)))) as decimal(38,0))").as("s"))
      .crossJoin(broadcast(ties)) // 1-row totals
      .withColumn("h_milli", expr(
        """greatest(cast(3000 * s div (cast(n as decimal(38,0)) * (n + 1)) - 3000 * (n + 1) as bigint),
           cast(0 as bigint))"""))
      .withColumn("hp_milli", expr(
        """cast(cast(h_milli as decimal(38,0)) * (cast(n as decimal(38,0)) * n * n - n)
           div (cast(n as decimal(38,0)) * n * n - n - t3) as bigint)"""))
      .select(col("n"), expr("cast(t3 as bigint)").as("t3"),
        col("h_milli"), col("hp_milli"),
        (col("hp_milli") > 9488L).as("reject_95"))
    perSeg.crossJoin(broadcast(h)) // 1-row statistic attaches to 5 rows
      .select(col("seg"), col("n_g"), expr("cast(r2s as bigint)").as("r2_sum"),
        col("n"), col("t3"), col("h_milli"), col("hp_milli"), col("reject_95"))
      .orderBy(col("seg"))
  }

  val q405Oracle: String =
    """WITH base AS (SELECT c_mktsegment AS seg,
             CAST(round(c_acctbal * 100) AS BIGINT) AS x FROM customer),
       r AS (SELECT seg,
               2 * rank() OVER (ORDER BY x ASC) + count(*) OVER (PARTITION BY x) - 1 AS r2
             FROM base),
       ps AS (SELECT seg, CAST(count(*) AS BIGINT) AS n_g,
                sum(CAST(r2 AS HUGEINT)) AS r2s
              FROM r GROUP BY 1),
       t AS (SELECT CAST(sum(c) AS BIGINT) AS n,
               sum(CAST(c AS HUGEINT) * c * c - c) AS t3
             FROM (SELECT count(*) AS c FROM base GROUP BY x)),
       hh AS (SELECT t.n, t.t3,
                greatest(CAST(3000 * (SELECT sum(r2s * r2s // (4 * CAST(n_g AS HUGEINT))) FROM ps)
                  // (CAST(t.n AS HUGEINT) * (t.n + 1)) - 3000 * (t.n + 1) AS BIGINT),
                  0) AS h_milli
              FROM t),
       hp AS (SELECT n, CAST(t3 AS BIGINT) AS t3, h_milli,
                CAST(CAST(h_milli AS HUGEINT) * (CAST(n AS HUGEINT) * n * n - n)
                  // (CAST(n AS HUGEINT) * n * n - n - t3) AS BIGINT) AS hp_milli
              FROM hh)
       SELECT ps.seg, ps.n_g, CAST(ps.r2s AS BIGINT) AS r2_sum,
         hp.n, hp.t3, hp.h_milli, hp.hp_milli,
         hp.hp_milli > 9488 AS reject_95
       FROM ps, hp ORDER BY ps.seg"""

  // ---------------------------------------------------------------- q386
  /** PEARSON CORRELATION MATRIX of daily volumes between every event-type
    * pair — "which streams co-move": a traffic-shaping incident that dents
    * clicks AND views is infra; one that dents only purchases is product.
    * q220's lagged cross-correlation asks when; this asks which pairs, for
    * all pairs at once. Exactness: r itself is irrational, so the readout
    * is r² in ppm decided entirely in DECIMAL(38,0) — cov = n·Σxy−ΣxΣy,
    * var likewise, r²_ppm staged as (|cov|·10⁶ div varx)·|cov| div vary
    * — plus cov's exact
    * sign (the direction r² discards). One events scan → |days|×|types|
    * daily frame (the q343 argument) → self-join on day upper-triangle →
    * K(K−1)/2 rows. Full oracle.
    */
  def q386CorrMatrix(spark: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(spark, d)
      .groupBy(col("event_type"), expr("CAST(ts AS DATE)").as("day"))
      .agg(count(lit(1)).as("x"))
      .pin(SizedBy("|days|x|types|")) // daily frame, read twice
    val a = daily.select(col("event_type").as("ta"), col("day"), col("x").as("xa"))
    val b = daily.select(col("event_type").as("tb"), col("day"), col("x").as("xb"))
    a.join(b, "day").filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n"),
        expr("cast(sum(xa) as bigint)").as("sa"),
        expr("cast(sum(xb) as bigint)").as("sb"),
        // products summed in DECIMAL(38,0), never BIGINT: daily counts of
        // 10^9 square to 10^18 per day and the non-ANSI BIGINT sum would
        // wrap silently at large SF (the q343 CUSUM wrap class)
        expr("cast(sum(cast(xa as decimal(38,0)) * xb) as decimal(38,0))").as("sab"),
        expr("cast(sum(cast(xa as decimal(38,0)) * xa) as decimal(38,0))").as("saa"),
        expr("cast(sum(cast(xb as decimal(38,0)) * xb) as decimal(38,0))").as("sbb"))
      .withColumn("cov_n", expr("CAST(CAST(n AS DECIMAL(38,0)) * sab - CAST(sa AS DECIMAL(38,0)) * sb AS DECIMAL(38,0))"))
      .withColumn("var_a", expr("CAST(CAST(n AS DECIMAL(38,0)) * saa - CAST(sa AS DECIMAL(38,0)) * sa AS DECIMAL(38,0))"))
      .withColumn("var_b", expr("CAST(CAST(n AS DECIMAL(38,0)) * sbb - CAST(sb AS DECIMAL(38,0)) * sb AS DECIMAL(38,0))"))
      .select(col("ta"), col("tb"), col("n"),
        expr("CAST(sign(cov_n) AS BIGINT)").as("cov_sign"),
        // staged two-division r²_ppm with the LOUD envelope guard — the
        // full overflow argument lives on R2PpmStagedSql above
        expr(R2PpmStagedSql).as("r2_ppm"))
      .orderBy(col("ta"), col("tb"))
  }

  val q386Oracle: String =
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
       p AS (SELECT a.event_type AS ta, b.event_type AS tb,
               count(*) AS n,
               CAST(sum(a.x) AS BIGINT) AS sa, CAST(sum(b.x) AS BIGINT) AS sb,
               sum(CAST(a.x AS HUGEINT) * b.x) AS sab,
               sum(CAST(a.x AS HUGEINT) * a.x) AS saa,
               sum(CAST(b.x AS HUGEINT) * b.x) AS sbb
             FROM daily a JOIN daily b ON b.day = a.day
             WHERE a.event_type < b.event_type GROUP BY 1, 2),
       m AS (SELECT ta, tb, CAST(n AS BIGINT) AS n,
               CAST(n AS HUGEINT) * sab - CAST(sa AS HUGEINT) * sb AS cov_n,
               CAST(n AS HUGEINT) * saa - CAST(sa AS HUGEINT) * sa AS var_a,
               CAST(n AS HUGEINT) * sbb - CAST(sb AS HUGEINT) * sb AS var_b
             FROM p)
       SELECT ta, tb, n,
         CAST(sign(cov_n) AS BIGINT) AS cov_sign,
         CAST(CASE WHEN var_a = 0 OR var_b = 0 THEN 0
           ELSE (abs(cov_n) * 1000000 // var_a) * abs(cov_n) // var_b
           END AS BIGINT) AS r2_ppm
       FROM m ORDER BY ta, tb"""

  // ---------------------------------------------------------------- q387
  /** DELTA-OF-DELTA COMPRESSION ESTIMATE for the daily volume series —
    * the Gorilla-style storage-planning readout a 100 TB time-series
    * landing zone runs before choosing an encoding: second differences of
    * a smooth counter series are near zero, so Σ bits(|Δ²|) ≪ 64·N. The
    * cost model is exact-integer: bits(v) = length of v's binary string
    * (both engines: bin/to_base — no log2 doubles at integer boundaries),
    * first value charged 64, first delta bits+1 sign, every later value
    * bits(|Δ²|)+1. Readout per type: raw vs encoded bits and the ratio in
    * ppm; a constant-rate synthetic series compresses ~30×, and a real
    * bursty one visibly less — the number that decides the codec. One
    * events scan → |days| frame, two lag()s. Full oracle.
    */
  def q387DeltaCompression(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, d)
      .groupBy(col("event_type"), expr("CAST(ts AS DATE)").as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
    daily
      .withColumn("d1", col("x") - lag(col("x"), 1).over(w))
      .withColumn("dod", col("d1") - lag(col("d1"), 1).over(w))
      .withColumn("bits", expr(
        """CASE WHEN d1 IS NULL THEN cast(64 as bigint)
           WHEN dod IS NULL THEN cast(length(bin(abs(d1))) + 1 as bigint)
           ELSE cast(length(bin(abs(dod))) + 1 as bigint) END"""))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        expr("cast(count(1) * 64 as bigint)").as("raw_bits"),
        expr("cast(sum(bits) as bigint)").as("enc_bits"))
      .withColumn("ratio_ppm", expr(
        "CAST(CAST(enc_bits AS DECIMAL(38,0)) * 1000000 div raw_bits AS BIGINT)"))
      .select(col("event_type"), col("n_days"), col("raw_bits"),
        col("enc_bits"), col("ratio_ppm"))
      .orderBy(col("event_type"))
  }

  val q387Oracle: String =
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
       l AS (SELECT event_type, day, x,
               x - lag(x) OVER (PARTITION BY event_type ORDER BY day ASC) AS d1
             FROM daily),
       l2 AS (SELECT *,
               d1 - lag(d1) OVER (PARTITION BY event_type ORDER BY day ASC) AS dod
             FROM l),
       b AS (SELECT event_type,
               CASE WHEN d1 IS NULL THEN 64
                 WHEN dod IS NULL THEN length(to_base(abs(d1), 2)) + 1
                 ELSE length(to_base(abs(dod), 2)) + 1 END AS bits
             FROM l2),
       agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
                 CAST(count(*) * 64 AS BIGINT) AS raw_bits,
                 CAST(sum(bits) AS BIGINT) AS enc_bits
               FROM b GROUP BY 1)
       SELECT event_type, n_days, raw_bits, enc_bits,
         CAST(CAST(enc_bits AS HUGEINT) * 1000000 // raw_bits AS BIGINT) AS ratio_ppm
       FROM agg ORDER BY event_type"""

  // ---------------------------------------------------------------- q392
  /** SPRT — Wald's sequential probability ratio test on the treatment
    * arm's event stream, the SEQUENTIAL member of the testing family
    * (q135/q246 are fixed-horizon, q382 nonparametric): every event moves
    * the log-likelihood walk by a LITERAL µ-nat step (success
    * ln(p₁/p₀) = ln(.20/.10) → +693147; failure ln(.80/.90) → −117783 —
    * constants, so no data-side logs at all) and the test stops at the
    * FIRST crossing of ±ln(19) = ±2 944 439 µ-nat (α = β = 0.05). The
    * sequential walk is a [[BucketRank.Running]] count and sum over day
    * buckets — no single-task corpus sort; the oracle replays the PLAIN
    * global window, certifying the rewrite. Readout: stream size,
    * successes, the stopping index and decision ('h1'/'h0'/'none'), the
    * walk value at the stop, and the endpoint. Full oracle.
    */
  def q392Sprt(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d).filter(expr("user_id % 2 = 1"))
      .select(col("ts"), col("event_id"),
        expr("CASE WHEN event_type = 'purchase' THEN cast(693147 as bigint) ELSE cast(-117783 as bigint) END")
          .as("inc"))
    // the walk's index and value: running count and sum over day buckets
    val walk = BucketRank.Running(Nil, expr("CAST(ts AS DATE)"), Seq(col("ts").asc, col("event_id").asc),
      "idx" -> lit(1L), "llr" -> col("inc"))(ev)
    walk.agg(count(lit(1)).as("n_events"),
        expr("cast(count_if(inc > 0) as bigint)").as("n_success"),
        expr("cast(sum(inc) as bigint)").as("final_llr_munat"),
        min(when(col("llr") >= 2944439L || col("llr") <= -2944439L,
          struct(col("idx"), col("llr")))).as("cross"))
      .select(col("n_events"), col("n_success"),
        coalesce(col("cross.idx"), lit(-1L)).as("cross_idx"),
        coalesce(col("cross.llr"), lit(0L)).as("llr_at_cross"),
        expr("CASE WHEN cross.llr > 0 THEN 'h1' WHEN cross.llr < 0 THEN 'h0' ELSE 'none' END")
          .as("decision"),
        col("final_llr_munat"))
  }

  val q392Oracle: String =
    """WITH ev AS (SELECT ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 693147 ELSE -117783 END AS inc
           FROM events WHERE user_id % 2 = 1),
       w AS (SELECT row_number() OVER (ORDER BY ts, event_id) AS idx,
               sum(inc) OVER (ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr, inc
             FROM ev),
       c AS (SELECT idx, llr FROM w
             WHERE llr >= 2944439 OR llr <= -2944439 ORDER BY idx LIMIT 1)
       SELECT (SELECT CAST(count(*) AS BIGINT) FROM ev) AS n_events,
         (SELECT CAST(count(*) FILTER (inc > 0) AS BIGINT) FROM ev) AS n_success,
         CAST(coalesce((SELECT idx FROM c), -1) AS BIGINT) AS cross_idx,
         CAST(coalesce((SELECT llr FROM c), 0) AS BIGINT) AS llr_at_cross,
         CASE WHEN (SELECT llr FROM c) > 0 THEN 'h1'
           WHEN (SELECT llr FROM c) < 0 THEN 'h0' ELSE 'none' END AS decision,
         (SELECT CAST(sum(inc) AS BIGINT) FROM ev) AS final_llr_munat"""

  // ---------------------------------------------------------------- q393
  /** SHAPLEY channel attribution — the game-theoretic member of the
    * attribution family (q172 last-touch and q262 position are heuristics;
    * Shapley is the unique allocation satisfying efficiency/symmetry/
    * dummy): channels = the 4 non-purchase event types, the coalition
    * value v(S) = #converted users whose touched-channel set ⊆ S (an
    * integer-valued monotone set function straight from the data), and
    * φ_c = Σ_{S∌c} |S|!(n−1−|S|)!/n!·[v(S∪c)−v(S)] with n=4 → the weights
    * ARE the integers {6,2,2,6}/24, so φ·24 is exact BIGINT. The
    * EFFICIENCY axiom rides as a column: Σφ·24 = 24·(v(full)−v(∅)) must
    * hold exactly. One events scan → per-user 4-bit mask + converted flag
    * → 16-row mask frame; v(S) by a 16×16 subset-sum bit-test join;
    * Shapley on the 4×16 lattice. Full oracle replays masks, v, and φ.
    */
  def q393ShapleyAttribution(spark: SparkSession, d: String): DataFrame = {
    val users = Tables.events(spark, d)
      .groupBy(col("user_id"))
      .agg(expr("""cast(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             + max(CASE WHEN event_type = 'view' THEN 2 ELSE 0 END)
             + max(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END)
             + max(CASE WHEN event_type = 'error' THEN 8 ELSE 0 END) as bigint)""").as("mask"),
        expr("max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)").as("conv"))
    val m = users.filter(col("conv") === 1)
      .groupBy(col("mask")).agg(count(lit(1)).as("cm"))
      .pin(Rows(16)) // converted-mask frame, read by the lattice
    val sets = spark.range(16).select(col("id").as("s"))
    val v = sets.join(m, expr("(mask & ~s) & 15 = 0"), "left")
      .groupBy(col("s")).agg(expr("cast(coalesce(sum(cm), 0) as bigint)").as("v"))
      .pin(Rows(16)) // coalition-value table, read 3 times
    val chans = spark.range(4)
      .select(col("id").as("ci"), expr("shiftleft(1L, cast(id as int))").as("cbit"),
        expr("element_at(array('click','view','signup','error'), cast(id + 1 as int))").as("channel"))
    val phi = broadcast(chans).join(v.select(col("s"), col("v").as("v_s")),
        expr("(s & cbit) = 0"))
      .join(v.select(col("s").as("s2"), col("v").as("v_sc")),
        expr("s2 = s + cbit"))
      .withColumn("w", expr(
        """CASE bit_count(s) WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END"""))
      .groupBy(col("channel"))
      .agg(expr("cast(sum(w * (v_sc - v_s)) as bigint)").as("phi_x24"))
    val tot = v.agg(
      expr("cast(max(CASE WHEN s = 15 THEN v END) as bigint)").as("v_full"),
      expr("cast(max(CASE WHEN s = 0 THEN v END) as bigint)").as("v_empty"))
    phi.crossJoin(broadcast(tot)) // 1-row totals
      .withColumn("phi_sum_x24", expr(
        "cast(sum(phi_x24) OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) as bigint)"))
      .withColumn("efficiency_holds",
        col("phi_sum_x24") === (col("v_full") - col("v_empty")) * 24L)
      .select(col("channel"), col("phi_x24"), col("v_full"), col("v_empty"),
        col("phi_sum_x24"), col("efficiency_holds"))
      .orderBy(col("channel"))
  }

  val q393Oracle: String =
    """WITH u AS (SELECT user_id,
             CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               + max(CASE WHEN event_type = 'view' THEN 2 ELSE 0 END)
               + max(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END)
               + max(CASE WHEN event_type = 'error' THEN 8 ELSE 0 END) AS BIGINT) AS mask,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
           FROM events GROUP BY 1),
       m AS (SELECT mask, count(*) AS cm FROM u WHERE conv = 1 GROUP BY 1),
       sets AS (SELECT unnest(generate_series(0, 15)) AS s),
       v AS (SELECT s.s, CAST(coalesce(sum(m.cm), 0) AS BIGINT) AS v
             FROM sets s LEFT JOIN m ON (m.mask & ~s.s) & 15 = 0 GROUP BY 1),
       ch AS (SELECT * FROM (VALUES (0, 1, 'click'), (1, 2, 'view'),
              (2, 4, 'signup'), (3, 8, 'error')) c(ci, cbit, channel)),
       phi AS (SELECT ch.channel,
                 CAST(sum((CASE bit_count(va.s) WHEN 0 THEN 6 WHEN 1 THEN 2
                   WHEN 2 THEN 2 ELSE 6 END) * (vb.v - va.v)) AS BIGINT) AS phi_x24
               FROM ch JOIN v va ON (va.s & ch.cbit) = 0
               JOIN v vb ON vb.s = va.s + ch.cbit
               GROUP BY 1),
       tot AS (SELECT CAST(max(CASE WHEN s = 15 THEN v END) AS BIGINT) AS v_full,
                 CAST(max(CASE WHEN s = 0 THEN v END) AS BIGINT) AS v_empty FROM v)
       SELECT p.channel, p.phi_x24, t.v_full, t.v_empty,
         CAST(sum(p.phi_x24) OVER () AS BIGINT) AS phi_sum_x24,
         CAST(sum(p.phi_x24) OVER () AS BIGINT) = (t.v_full - t.v_empty) * 24 AS efficiency_holds
       FROM phi p, tot t ORDER BY p.channel"""

  // ---------------------------------------------------------------- q400
  /** THEIL INDEX inequality decomposition of customer spend by nation —
    * the decomposable companion to q178's Gini (Gini does not split;
    * Theil T = T_between + T_within EXACTLY, which is why economists use
    * it to answer "is the inequality across nations or inside them?").
    * Everything stays on the µ-nat lattice (q341/q381 discipline): each
    * customer contributes x·round(ln(x·N_g/X_g)·10⁶) to its nation's
    * within term, each nation contributes X_g·round(ln(X_g·N/(X·N_g))·10⁶)
    * to the between term, sums ride in DECIMAL(38,0), and the readout is
    * nano-nats per unit mass (÷X). Quantization makes the decomposition
    * identity hold only to ≤2 µ-nat per customer — so the identity GAP is
    * REPORTED (gap_nano) and bounded in Round11Spec instead of silently
    * absorbed. One orders scan → per-customer spend → nation rollup.
    * Full oracle.
    */
  def q400TheilDecomposition(spark: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(spark, d)
      .groupBy(col("o_custkey"))
      .agg(expr("cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint)").as("x"))
      .join(Tables.customer(spark, d)
        .select(col("c_custkey").as("o_custkey"),
          col("c_nationkey").cast("long").as("nat")),
        "o_custkey")
    val g = spend.groupBy(col("nat"))
      .agg(count(lit(1)).as("n_g"), expr("cast(sum(x) as bigint)").as("x_g"))
      .pin(SizedBy("|nations|")) // group frame, read by 3 terms
    val tot = g.agg(expr("cast(sum(n_g) as bigint)").as("nn"),
      expr("cast(sum(x_g) as bigint)").as("xx"))
    val within = spend.join(g, "nat")
      .withColumn("lq", expr(
        "CAST(round(ln(CAST(x AS DOUBLE) * n_g / CAST(x_g AS DOUBLE)) * 1000000) AS BIGINT)"))
      .groupBy(col("nat"))
      .agg(expr("cast(sum(cast(x as decimal(38,0)) * lq) as decimal(38,0))").as("tw_g"))
    val terms = g.join(within, "nat").crossJoin(broadcast(tot))
      .withColumn("lb", expr(
        "CAST(round(ln(CAST(x_g AS DOUBLE) * nn / (CAST(xx AS DOUBLE) * n_g)) * 1000000) AS BIGINT)"))
      .withColumn("tb_g", expr("cast(cast(x_g as decimal(38,0)) * lb as decimal(38,0))"))
      .pin(SizedBy("|nations|")) // term frame, read by rows + totals
    val totalT = spend.crossJoin(broadcast(tot))
      .withColumn("lq", expr(
        "CAST(round(ln(CAST(x AS DOUBLE) * nn / CAST(xx AS DOUBLE)) * 1000000) AS BIGINT)"))
      .agg(expr("cast(sum(cast(x as decimal(38,0)) * lq) as decimal(38,0))").as("tt"))
    val sums = terms.agg(
      expr("cast(sum(tw_g) as decimal(38,0))").as("tw"),
      expr("cast(sum(tb_g) as decimal(38,0))").as("tb"))
    terms
      .crossJoin(broadcast(sums)) // 1-row decomposition sums
      .crossJoin(broadcast(totalT)) // 1-row total
      .select(col("nat"), col("n_g"), col("x_g"),
        expr("CAST(tw_g * 1000 div x_g AS BIGINT)").as("t_within_g_nano"),
        expr("CAST(lb AS BIGINT)").as("between_micro"),
        expr("CAST(tt * 1000 div xx AS BIGINT)").as("t_total_nano"),
        expr("CAST(tw * 1000 div xx AS BIGINT)").as("t_within_nano"),
        expr("CAST(tb * 1000 div xx AS BIGINT)").as("t_between_nano"),
        expr("CAST((tt - tw - tb) * 1000 div xx AS BIGINT)").as("gap_nano"))
      .orderBy(col("nat"))
  }

  val q400Oracle: String =
    """WITH spend AS (SELECT o.o_custkey,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x,
             CAST(min(c.c_nationkey) AS BIGINT) AS nat
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
           GROUP BY 1),
       g AS (SELECT nat, CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(x) AS BIGINT) AS x_g FROM spend GROUP BY 1),
       tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS nn,
                 CAST(sum(x_g) AS BIGINT) AS xx FROM g),
       w AS (SELECT s.nat,
               CAST(sum(CAST(s.x AS HUGEINT) *
                 CAST(round(ln(CAST(s.x AS DOUBLE) * g.n_g / CAST(g.x_g AS DOUBLE)) * 1000000) AS BIGINT))
                 AS HUGEINT) AS tw_g
             FROM spend s JOIN g ON g.nat = s.nat GROUP BY 1),
       terms AS (SELECT g.nat, g.n_g, g.x_g, w.tw_g,
                   CAST(round(ln(CAST(g.x_g AS DOUBLE) * t.nn / (CAST(t.xx AS DOUBLE) * g.n_g)) * 1000000) AS BIGINT) AS lb
                 FROM g JOIN w ON w.nat = g.nat, tot t),
       tts AS (SELECT CAST(sum(CAST(s.x AS HUGEINT) *
                 CAST(round(ln(CAST(s.x AS DOUBLE) * t.nn / CAST(t.xx AS DOUBLE)) * 1000000) AS BIGINT))
                 AS HUGEINT) AS tt
               FROM spend s, tot t),
       sums AS (SELECT CAST(sum(tw_g) AS HUGEINT) AS tw,
                  CAST(sum(CAST(x_g AS HUGEINT) * lb) AS HUGEINT) AS tb
                FROM terms)
       SELECT m.nat, m.n_g, m.x_g,
         CAST(m.tw_g * 1000 // m.x_g AS BIGINT) AS t_within_g_nano,
         m.lb AS between_micro,
         CAST(x.tt * 1000 // t.xx AS BIGINT) AS t_total_nano,
         CAST(s.tw * 1000 // t.xx AS BIGINT) AS t_within_nano,
         CAST(s.tb * 1000 // t.xx AS BIGINT) AS t_between_nano,
         CAST((x.tt - s.tw - s.tb) * 1000 // t.xx AS BIGINT) AS gap_nano
       FROM terms m, tot t, tts x, sums s
       ORDER BY m.nat"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q400_theil_decomposition" -> q400TheilDecomposition _,
    "q405_kruskal_wallis" -> q405KruskalWallis _,
    "q407_allen_census" -> q407AllenCensus _,
    "q414_acf_spectrum" -> q414AcfSpectrum _,
    "q417_revenue_bridge" -> q417RevenueBridge _,
    "q415_inversion_audit" -> q415InversionAudit _,
    "q393_shapley_attribution" -> q393ShapleyAttribution _,
    "q392_sprt" -> q392Sprt _,
    "q386_corr_matrix" -> q386CorrMatrix _,
    "q387_delta_compression" -> q387DeltaCompression _,
    "q381_kaplan_meier" -> q381KaplanMeier _,
    "q382_mann_whitney" -> q382MannWhitney _,
    "q331_interval_frame" -> q331IntervalFrame _,
    "q304_pagerank" -> q304Pagerank _,
    "q313_pattern_match" -> q313PatternMatch _,
    "q271_audience_overlap" -> q271AudienceOverlap _,
    "q269_outage_report" -> q269OutageReport _,
    "q264_theil_sen" -> q264TheilSen _,
    "q262_position_attribution" -> q262PositionAttribution _,
    "q260_ks_test" -> q260KsTest _,
    "q258_late_arrival_audit" -> q258LateArrivalAudit _,
    "q225_sessionize_skew_safe" -> q225SessionizeSkewSafe _,
    "q244_cuped_readout" -> q244CupedReadout _,
    "q246_conversion_ztest" -> q246ConversionZtest _,
    "q221_changepoint_cusum" -> q221ChangepointCusum _,
    "q222_autocorrelation" -> q222Autocorrelation _,
    "q220_cross_correlation" -> q220CrossCorrelation _,
    "q218_debounce_dedup" -> q218DebounceDedup _,
    "q203_reach_curve" -> q203ReachCurve _,
    "q205_activity_heatmap" -> q205ActivityHeatmap _,
    "q206_transition_latency" -> q206TransitionLatency _,
    "q200_marketing_readout" -> q200MarketingReadout _,
    "q196_events_between_purchases" -> q196EventsBetweenPurchases _,
    "q193_gap_histogram" -> q193GapHistogram _,
    "q184_session_funnel" -> q184SessionFunnel _,
    "q185_latency_cdf" -> q185LatencyCdf _,
    "q186_ltv_curve" -> q186LtvCurve _,
    "q181_trigram_paths" -> q181TrigramPaths _,
    "q171_interval_coverage" -> q171IntervalCoverage _,
    "q172_last_touch_attribution" -> q172LastTouchAttribution _,
    "q175_sliding_mau" -> q175SlidingMau _,
    "q165_funnel_latency" -> q165FunnelLatency _,
    "q160_chi_square" -> q160ChiSquare _,
    "q158_session_matrix" -> q158SessionMatrix _,
    "q144_transition_matrix" -> q144TransitionMatrix _,
    "q145_trend_slope" -> q145TrendSlope _,
    "q141_interpolate_fill" -> q141InterpolateFill _,
    "q142_time_weighted_avg" -> q142TimeWeightedAvg _,
    "q135_ab_test" -> q135AbTest _,
    "q106_gap_fill" -> q106GapFill _,
    "q107_funnel" -> q107Funnel _,
    "q108_cohort_retention" -> q108CohortRetention _,
    "q124_rolling_anomaly" -> q124RollingAnomaly _)

  val oracles: Map[String, String] = Map(
    "q400_theil_decomposition" -> q400Oracle,
    "q405_kruskal_wallis" -> q405Oracle,
    "q407_allen_census" -> q407Oracle,
    "q414_acf_spectrum" -> q414Oracle,
    "q417_revenue_bridge" -> q417Oracle,
    "q415_inversion_audit" -> q415Oracle,
    "q393_shapley_attribution" -> q393Oracle,
    "q392_sprt" -> q392Oracle,
    "q386_corr_matrix" -> q386Oracle,
    "q387_delta_compression" -> q387Oracle,
    "q381_kaplan_meier" -> q381Oracle,
    "q382_mann_whitney" -> q382Oracle,
    "q331_interval_frame" -> q331Oracle,
    "q304_pagerank" -> q304Oracle,
    "q313_pattern_match" -> q313Oracle,
    "q271_audience_overlap" -> q271Oracle,
    "q269_outage_report" -> q269Oracle,
    "q264_theil_sen" -> q264Oracle,
    "q262_position_attribution" -> q262Oracle,
    "q260_ks_test" -> q260Oracle,
    "q258_late_arrival_audit" -> q258Oracle,
    "q225_sessionize_skew_safe" -> q225Oracle,
    "q244_cuped_readout" -> q244Oracle,
    "q246_conversion_ztest" -> q246Oracle,
    "q221_changepoint_cusum" -> q221Oracle,
    "q222_autocorrelation" -> q222Oracle,
    "q220_cross_correlation" -> q220Oracle,
    "q218_debounce_dedup" -> q218Oracle,
    "q203_reach_curve" -> q203Oracle,
    "q205_activity_heatmap" -> q205Oracle,
    "q206_transition_latency" -> q206Oracle,
    "q200_marketing_readout" -> q200Oracle,
    "q196_events_between_purchases" -> q196Oracle,
    "q193_gap_histogram" -> q193Oracle,
    "q184_session_funnel" -> q184Oracle,
    "q185_latency_cdf" -> q185Oracle,
    "q186_ltv_curve" -> q186Oracle,
    "q181_trigram_paths" -> q181Oracle,
    "q171_interval_coverage" -> q171Oracle,
    "q172_last_touch_attribution" -> q172Oracle,
    "q175_sliding_mau" -> q175Oracle,
    "q165_funnel_latency" -> q165Oracle,
    "q160_chi_square" -> q160Oracle,
    "q158_session_matrix" -> q158Oracle,
    "q144_transition_matrix" -> q144Oracle,
    "q145_trend_slope" -> q145Oracle,
    "q141_interpolate_fill" -> q141Oracle,
    "q142_time_weighted_avg" -> q142Oracle,
    "q135_ab_test" -> q135Oracle,
    "q106_gap_fill" -> q106Oracle,
    "q107_funnel" -> q107Oracle,
    "q108_cohort_retention" -> q108Oracle,
    "q124_rolling_anomaly" -> q124Oracle)
}
