package graft.operators

import graft.core.Pin._
import graft.functions.TextKeys._
import graft.sources.Tables

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Sampling operators for corpus curation, built on CONSISTENT (hash-based)
  * selection rather than seeded `rand()`: a row is kept iff
  * `xxhash64(salt, id) mod M < fraction·M`. That makes the sample
  *
  *  - deterministic and partition-independent (seeded rand() draws depend on
  *    row-to-partition placement, so the "same" sample changes when the
  *    cluster size does),
  *  - reproducible across runs and resumable mid-pipeline (re-running a
  *    failed stage re-selects exactly the same rows),
  *  - cheap: one codegen'd hash per row, no shuffle, fully pushdown-friendly.
  *
  * These are the properties that matter when sampling a 100 TB corpus for
  * eval splits — "which 1% did we hold out" must be a pure function of the
  * row id, not of the execution.
  */
object Sampling {

  private val Modulus = 1000000L

  /** The selection predicate itself, exposed so callers can COUNT kept rows
    * inline (one scan) instead of filtering into a second aggregation.
    * The threshold ROUNDS (not truncates): fractions whose double product
    * lands just under an integer (0.29 * 1e6 = 289999.99999999994) would
    * otherwise lose a one-in-a-million sliver of the requested rate.
    */
  def keep(idCol: Column, fraction: Column, salt: Long = 0L): Column =
    pmod(xxhash64(lit(salt), idCol), lit(Modulus)) <
      round(fraction * lit(Modulus.toDouble)).cast("long")

  /** Uniform consistent sample: keep ~`fraction` of rows, selected by id hash. */
  def consistentSample(df: DataFrame, idCol: String, fraction: Double,
                       salt: Long = 0L): DataFrame =
    df.filter(keep(col(idCol), lit(fraction), salt))

  /** Stratified consistent sample: per-stratum fractions; strata not listed
    * are dropped (sampleBy semantics). One pass, no shuffle.
    */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       fractions: Map[String, Double], salt: Long = 0L): DataFrame = {
    val frac = fractions.foldLeft(lit(-1.0)) { case (acc, (stratum, f)) =>
      when(col(strataCol) === stratum, lit(f)).otherwise(acc)
    }
    df.filter(keep(col(idCol), frac, salt))
  }

  /** Weighted consistent sample: per-row acceptance probability from a
    * weight column in [0, 1] (e.g. a quality score — downsample junk, keep
    * everything above the bar). Same hash mechanics, so still deterministic
    * and partition-independent; weight 1.0 always keeps, 0.0 always drops.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     salt: Long = 0L): DataFrame =
    df.filter(keep(col(idCol), col(weightCol), salt))

  /** Cap each group at `maxRows` rows (anti-domination: no single source/
    * domain may flood the corpus). Selection is by id-hash order, so WHICH
    * rows survive the cap is deterministic and partitioning-independent —
    * not "first N encountered". One shuffle on the group key; groups under
    * the cap pass through complete.
    */
  def perGroupCap(df: DataFrame, groupCol: String, idCol: String,
                  maxRows: Int, salt: Long = 0L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(xxhash64(lit(salt), col(idCol)).asc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxRows)
      .drop("__rn")
  }

  /** Deterministic global shuffle: order rows by id hash — decorrelates any
    * source/time ordering before training-data export, identically on every
    * run and cluster size (a `rand()` sort cannot promise either). Cost is
    * one range-partitioned sort, the same as any global orderBy.
    */
  def deterministicShuffle(df: DataFrame, idCol: String, salt: Long = 0L): DataFrame =
    df.orderBy(xxhash64(lit(salt), col(idCol)).asc, col(idCol).asc)

  // ---------------------------------------------------------------- q73
  /** Stratified sampling certified against binomial bounds: per language,
    * emit the exact stratum size (oracle-checkable) and the boolean
    * "sampled count within 4.5σ of fraction·n". The sampled SET is
    * hash-defined (DuckDB has no xxhash64), but the certification is
    * deterministic — the q26 `n_ok` pattern. Strata sizes here are ~100 docs
    * (sf0.01), so 4.5σ ≈ ±23 on the en stratum; xxhash64's uniformity keeps
    * the realized deviation far inside it at every fixture SF.
    */
  val Q73Fractions: Map[String, Double] = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1)

  def q73StratifiedSample(spark: SparkSession, d: String): DataFrame = {
    val frac = Q73Fractions.foldLeft(lit(0.0)) { case (acc, (stratum, f)) =>
      when(col("lang") === stratum, lit(f)).otherwise(acc)
    }
    // one scan, one shuffle: the stratum size and the would-be-sampled count
    // aggregate together (count_if over the same keep() predicate the filter
    // operator uses), instead of two scans joined back
    Tables.documents(spark, d)
      .filter(col("lang").isInCollection(Q73Fractions.keys.toSeq))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_total"),
        count_if(keep(col("doc_id"), frac)).as("n_sampled"),
        first(frac).as("__frac"))
      .select(col("lang"), col("n_total"),
        (abs(col("n_sampled") - col("__frac") * col("n_total")) <=
          lit(4.5) * sqrt(col("__frac") * (lit(1.0) - col("__frac")) * col("n_total")) + lit(1.0))
          .as("sample_ok"))
      .orderBy(col("lang"))
  }

  val q73Oracle: String =
    """SELECT lang, count(*) AS n_total, true AS sample_ok
       FROM documents WHERE lang IN ('en', 'de', 'fr')
       GROUP BY lang ORDER BY lang"""

  // ---------------------------------------------------------------- q85
  /** Per-group cap + weighted sample driven end-to-end. Per language:
    *  - `n_capped` counts the perGroupCap(100) survivors — deterministic
    *    (= least(n, 100)) → full value oracle;
    *  - `weighted_ok` certifies the weighted sample count against its
    *    binomial bound (per-row weight = (n_chars mod 97)/96, a value the
    *    oracle can't replicate row-by-row — xxhash64 — but whose COUNT must
    *    sit within 4.5σ of Σw; the q73 certification pattern).
    */
  val Q85Cap = 100

  def q85CapWeighted(spark: SparkSession, d: String): DataFrame = {
    val w = pmod(col("n_chars"), lit(97)).cast("double") / lit(96.0)
    val docs = Tables.documents(spark, d).withColumn("__w", w)
    val capped = perGroupCap(docs, "lang", "doc_id", Q85Cap)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_capped"))
    val sampled = weightedSample(docs, "doc_id", "__w")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
    val totals = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(col("__w")).as("__ew"),
        sum(col("__w") * (lit(1.0) - col("__w"))).as("__var"))
    totals.join(capped, "lang").join(sampled, "lang")
      .select(col("lang"), col("n_total"), col("n_capped"),
        (abs(col("n_sampled") - col("__ew")) <=
          lit(4.5) * sqrt(col("__var")) + lit(1.0)).as("weighted_ok"))
      .orderBy(col("lang"))
  }

  val q85Oracle: String =
    s"""SELECT lang, count(*) AS n_total,
       least(count(*), $Q85Cap) AS n_capped,
       true AS weighted_ok
       FROM documents GROUP BY lang ORDER BY lang"""

  // ---------------------------------------------------------------- q90
  /** Deterministic-shuffle certification: the operator's ACTUAL emitted
    * order (captured via zipWithIndex over the sorted partitions — the one
    * legitimate RDD use here: observing physical output order, which no
    * Column expression can) must equal the hash-order spec for every row.
    * The spec rank is deterministic, so `order_ok` is a hard boolean and
    * the row count is a full value oracle.
    */
  def q90ShuffleDeterministic(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d).select(col("doc_id"))
    val shuffled = deterministicShuffle(docs, "doc_id")
    val actual = shuffled.as[Long].rdd.zipWithIndex().toDF("doc_id", "idx")
    val spec = docs.withColumn("spec_idx",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(xxhash64(lit(0L), col("doc_id")).asc, col("doc_id").asc))
        .cast("long") - 1L)
    actual.join(spec, "doc_id")
      .agg(count(lit(1)).as("n"),
        (count_if(col("idx") === col("spec_idx")) === count(lit(1))).as("order_ok"))
  }

  val q90Oracle: String =
    "SELECT count(*) AS n, true AS order_ok FROM documents"

  // ---------------------------------------------------------------- q216
  /** Systematic (every-k-th) sampling — the survey-methodology member of
    * the sampling family: sort by the frame variable, keep rank ≡ 1
    * (mod k). Unlike q73's hash sampling it guarantees even coverage of
    * the ORDERED frame (every spend band represented), at the cost of a
    * rank pass — a [[BucketRank]] rank, so no global single-task window
    * touches the table. The certified aggregate pins
    * the exact selected rows (key sum + dsum balance), so a rank
    * off-by-one anywhere flips the hash.
    */
  def q216SystematicSample(spark: SparkSession, d: String): DataFrame = {
    val c = graft.sources.Tables.customer(spark, d)
      .select(col("c_custkey"), col("c_acctbal"))
    BucketRank.Running(Nil, expr("cast(round(c_acctbal * 100) as bigint) div 100000"),
        Seq(col("c_acctbal"), col("c_custkey")), "rank" -> lit(1L))(c)
      .filter(expr("rank % 100 = 1"))
      .agg(count(lit(1)).as("n_sampled"),
        expr("cast(sum(c_custkey) as bigint)").as("key_sum"),
        expr("CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(25,6))) AS STRING) AS DOUBLE)").as("bal_sum"))
  }

  val q216Oracle: String =
    """WITH r AS (SELECT c_custkey, c_acctbal,
                    row_number() OVER (ORDER BY c_acctbal, c_custkey) AS rn
                  FROM customer)
       SELECT count(*) AS n_sampled, CAST(sum(c_custkey) AS BIGINT) AS key_sum,
         CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS bal_sum
       FROM r WHERE rn % 100 = 1"""

  // ---------------------------------------------------------------- q226
  /** Leakage-safe train/val/test split, the ASSIGNMENT-CONTRACT side:
    * all documents of one source land in the same split (near-dups
    * concentrate within a source, so a row-wise split leaks them across
    * train and eval), and the certified observable is the per-split GROUP
    * CHECKSUM — the proof that assignment is a pure function of the group
    * key (md5-prefix hash mod 100, 80/10/10), reproducible across runs,
    * engines, and cluster sizes, so any new document of a known source
    * lands in the same split forever (what an incremental crawl needs).
    * Complements q169 (Curation), which quantifies how LEAKY the naive
    * row-wise split would have been; this entry certifies the stable
    * assignment itself. One groups-sized aggregate decides; no row ever
    * shuffles for the decision at 100 TB.
    */
  def q226GroupAwareSplit(spark: SparkSession, d: String): DataFrame = {
    val g = Tables.documents(spark, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
      .withColumn("h", certifiedKey(col("source")) % 100)
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "val").otherwise("test"))
    g.groupBy(col("split"))
      .agg(count(lit(1)).as("n_groups"),
        expr("cast(sum(n) as bigint)").as("n_docs"),
        (sum(certifiedKey(col("source")).cast("decimal(38,0)")) % 1000000000000000000L)
          .cast("bigint").as("group_checksum"))
      .orderBy(col("split"))
  }

  val q226Oracle: String =
    """WITH g AS (SELECT source,
           CAST(('0x' || substr(md5(source), 1, 15)) AS BIGINT) % 100 AS h,
           count(*) AS n FROM documents GROUP BY source),
       s AS (SELECT source, n,
               CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
                    ELSE 'test' END AS split
             FROM g)
       SELECT split, CAST(count(*) AS BIGINT) AS n_groups,
         CAST(sum(n) AS BIGINT) AS n_docs,
         CAST(sum(CAST(CAST(('0x' || substr(md5(source), 1, 15)) AS BIGINT)
              AS HUGEINT)) % 1000000000000000000 AS BIGINT) AS group_checksum
       FROM s GROUP BY split ORDER BY split"""

  // ---------------------------------------------------------------- q227
  /** Temperature-balanced source sampling — the multilingual data-mixing
    * rule (sample counts ∝ n^α, α=0.5) that keeps a dominant language from
    * swamping training while still over-representing it: per-language
    * targets come from exactly-summed √n weights (each √ is one correctly
    * rounded IEEE op; the weight SUM rides a DECIMAL cast so it is
    * order-independent — a raw double sum's low bits would depend on
    * partition merge order and could flip a floor() at the boundary), and
    * the target-many documents per language are selected in md5-hash order
    * (deterministic pseudo-shuffle, the q90 discipline).
    *
    * The selection deliberately does NOT window the corpus on the 5-value
    * lang key (this round's trap): the hash space is pre-bucketed, buckets
    * wholly inside the budget pass through UNRANKED, and only the single
    * crossing bucket per language is ranked — a [[BucketRank.Running]]
    * rank whose (lang, bucket) frame is filtered by a per-group budget.
    */
  val Q227Budget = 200L
  val Q227HashBuckets = 64L
  // md5-prefix values are uniform on [0, 16^15); fixed-width buckets
  private val Q227BucketWidth: Long = (1L << 60) / Q227HashBuckets

  def q227TemperatureSample(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
      .select(col("lang"), col("doc_id"))
      .withColumn("h", certifiedKey(col("doc_id").cast("string")))
    // per-language targets from exactly-summed sqrt weights
    val c = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("w", expr("CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(25,15))"))
    // the target and bucket frames are each read by several branches below
    val tgt = c
      .crossJoin(broadcast(c.agg(expr("sum(w)").as("wtot"))))
      .withColumn("target", expr(
        s"CAST(floor($Q227Budget.0 * CAST(w AS DOUBLE) / CAST(wtot AS DOUBLE)) AS BIGINT)"))
      .select(col("lang"), col("n"), col("target"))
      .pin(SizedBy("languages")) // target frame
    // hash-order ranks per language; the (lang, bucket) frame says which
    // buckets pass whole and which one crosses the target
    val bucket = expr(s"h div ${Q227BucketWidth}L")
    val rank = BucketRank.Running(Seq("lang"), bucket, Seq(col("h"), col("doc_id")), "rn" -> lit(1L))
    val off = rank.frame(docs).join(tgt.select(col("lang"), col("target")), Seq("lang"))
      .pin(SizedBy("(lang, bucket)")) // offsets
    val whole = off.filter(col("rn_off") + col("rn_bucket") <= col("target"))
      .select(col("lang"), col("__b"))
    val crossing = off.filter(col("rn_off") < col("target") &&
      col("target") < col("rn_off") + col("rn_bucket"))
    val keptWhole = docs.withColumn("__b", bucket).join(broadcast(whole), Seq("lang", "__b"))
      .select(col("lang"), col("doc_id"))
    val keptCross = rank(docs, crossing).filter(col("rn") <= col("target"))
      .select(col("lang"), col("doc_id"))
    val sel = keptWhole.unionByName(keptCross)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"),
        expr("""cast(coalesce(sum(cast(doc_id as decimal(38,0))), 0)
                % 1000000000000000000 as bigint)""").as("sampled_id_sum"))
    tgt.join(sel, Seq("lang"), "left")
      .select(col("lang"), col("n").as("n_docs"), col("target"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("sampled_id_sum"), lit(0L)).as("sampled_id_sum"))
      .orderBy(col("lang"))
  }

  val q227Oracle: String =
    s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
       t AS (SELECT lang, n,
               CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(25,15)) AS w FROM c),
       tw AS (SELECT sum(w) AS wtot FROM t),
       tgt AS (SELECT lang, n,
                 CAST(floor($Q227Budget.0 * CAST(w AS DOUBLE) / CAST(wtot AS DOUBLE)) AS BIGINT) AS target
               FROM t, tw),
       r AS (SELECT d.lang, d.doc_id,
               row_number() OVER (PARTITION BY d.lang ORDER BY
                 CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                 d.doc_id) AS rn
             FROM documents d),
       sel AS (SELECT r.lang, r.doc_id FROM r
               JOIN tgt ON r.lang = tgt.lang WHERE r.rn <= tgt.target)
       SELECT tgt.lang, CAST(tgt.n AS BIGINT) AS n_docs, tgt.target,
         CAST(count(sel.doc_id) AS BIGINT) AS n_sampled,
         CAST(coalesce(sum(CAST(sel.doc_id AS HUGEINT)), 0)
              % 1000000000000000000 AS BIGINT) AS sampled_id_sum
       FROM tgt LEFT JOIN sel ON sel.lang = tgt.lang
       GROUP BY tgt.lang, tgt.n, tgt.target ORDER BY tgt.lang"""

  // ---------------------------------------------------------------- q243
  /** TEMPORAL holdout split — the eval protocol q226's group split cannot
    * give you: train on the past, test on the future (a random or
    * group-hash split of time-series events leaks future behavior into
    * training — the classic recommender/forecasting eval bug). The cutoff
    * is DATA-DERIVED (first 80% of the observed day span, exact integer
    * day arithmetic off one bounds pass), and the readout carries the
    * numbers an eval owner actually gates on: events/users/purchases per
    * split plus COLD-START users — test-split users with no training
    * history, the rows a personalization model cannot score. Two corpus
    * passes total (bounds + one per-(user, split) aggregate; the
    * users-sized frame is checkpoint-pinned and every rollup derives from
    * it). Fully deterministic → full oracle.
    */
  def q243TemporalSplit(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
      .select(col("user_id"), col("event_type"),
        date_trunc("DAY", col("ts")).as("day"))
    val bounds = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("d0"),
        expr("cast(floor(0.8 * (datediff(d1, d0) + 1)) as bigint)").as("c"))
    val us = ev.crossJoin(broadcast(bounds))
      .withColumn("split",
        when(datediff(col("day"), col("d0")).cast("long") < col("c"), "train")
          .otherwise("test"))
      .groupBy(col("user_id"), col("split"))
      .agg(count(lit(1)).as("ne"),
        expr("cast(count_if(event_type = 'purchase') as bigint)").as("np"))
      .pin(SizedBy("users × 2")) // every readout below derives from it
    val hist = us.groupBy(col("user_id"))
      .agg(max(when(col("split") === "train", 1).otherwise(0)).as("has_train"))
    us.join(hist, "user_id")
      .groupBy(col("split"))
      .agg(expr("cast(sum(ne) as bigint)").as("n_events"),
        count(lit(1)).as("n_users"),
        count_if(col("has_train") === 0).as("n_cold_start_users"),
        expr("cast(sum(np) as bigint)").as("n_purchases"))
      .orderBy(col("split"))
  }

  val q243Oracle: String =
    """WITH e AS (SELECT user_id, event_type,
             CAST(datediff('day', (SELECT min(date_trunc('day', ts)) FROM events),
                  date_trunc('day', ts)) AS BIGINT) AS d
           FROM events),
       span AS (SELECT max(d) + 1 AS n_days FROM e),
       cut AS (SELECT CAST(floor(0.8 * n_days) AS BIGINT) AS c FROM span),
       s AS (SELECT e.user_id, e.event_type,
               CASE WHEN e.d < cut.c THEN 'train' ELSE 'test' END AS split
             FROM e, cut),
       us AS (SELECT user_id, split, count(*) AS ne,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS np
              FROM s GROUP BY 1, 2),
       hist AS (SELECT user_id, max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS has_train
                FROM us GROUP BY 1)
       SELECT split,
         CAST(sum(ne) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(CASE WHEN hist.has_train = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_cold_start_users,
         CAST(sum(np) AS BIGINT) AS n_purchases
       FROM us JOIN hist USING (user_id)
       GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q255
  /** Group-aware K-FOLD assignment over the PERSISTED near-dup cluster
    * table (the q234 artifact) — cross-validation folds for training data
    * where every document of a near-dup cluster lands in the SAME fold
    * (`fold = component mod K`): a near-duplicate straddling train and
    * held-out folds is leakage, the same failure q226 guards for a single
    * split. The readout certifies the property *and* quantifies the
    * counterfactual: `naive_leaky_clusters` counts the multi-doc clusters a
    * per-DOCUMENT fold hash would have torn across folds (the hash is a
    * Knuth multiply-shift in exact BIGINT arithmetic — doc_id mod K would
    * be a strawman: the planted version offsets are multiples of K). At
    * 100 TB this is two rollups over the stored (bucketed) cluster table —
    * the corpus, its pair-gen, and the CC iteration were paid once at q234.
    */
  val KFolds = 5

  def q255FoldAssignment(spark: SparkSession, d: String): DataFrame = {
    val labels = Dedup.nearDupClusterTable(spark, d)
      .withColumn("fold", pmod(col("component"), lit(KFolds.toLong)).cast("int"))
      .withColumn("naive_fold",
        expr(s"((doc_id * 2654435761) div 1024) % $KFolds").cast("int"))
    val perCluster = labels.groupBy(col("component"), col("fold"))
      .agg(count(lit(1)).as("sz"),
        countDistinct(col("naive_fold")).as("n_naive_folds"))
    perCluster.groupBy(col("fold"))
      .agg(expr("cast(sum(sz) as bigint)").as("n_docs"),
        count(lit(1)).as("n_clusters"),
        expr("cast(max(sz) as bigint)").as("max_cluster_size"),
        count_if(col("sz") >= 2 && col("n_naive_folds") >= 2)
          .as("naive_leaky_clusters"))
      .orderBy(col("fold"))
  }

  val q255Oracle: String =
    s"""WITH RECURSIVE
       ${Dedup.clusterOraclePrelude},
       lab AS (SELECT doc_id, component,
                 CAST(component % ${KFolds} AS INT) AS fold,
                 CAST(((doc_id * 2654435761) // 1024) % ${KFolds} AS INT) AS naive_fold
               FROM comp),
       pc AS (SELECT component, fold, count(*) AS sz,
                count(DISTINCT naive_fold) AS n_naive_folds
              FROM lab GROUP BY 1, 2)
       SELECT fold, CAST(sum(sz) AS BIGINT) AS n_docs,
              count(*) AS n_clusters,
              CAST(max(sz) AS BIGINT) AS max_cluster_size,
              CAST(sum(CASE WHEN sz >= 2 AND n_naive_folds >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS naive_leaky_clusters
       FROM pc GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q256
  /** Largest-remainder quota allocation — turn "sample exactly N documents,
    * proportional to corpus share" into per-stratum integer quotas that sum
    * to EXACTLY N (floor-only allocation under-fills; rounding over- or
    * under-shoots; the largest-remainder method is the standard exact fix):
    * base = floor(N·cnt/total) per (lang, source) stratum, then the
    * leftover slots go to the largest remainders N·cnt mod total
    * (deterministic tie-break on the stratum key). All integer arithmetic —
    * bit-identical across engines — and the only window runs over the
    * stratum-count aggregate (~|langs|·|sources| rows), never the corpus:
    * the corpus contributes ONE count-shaped scan. The quota table then
    * drives any consistent-hash selector (q73's per-stratum keep) without a
    * second planning pass.
    */
  val QuotaTotal = 1000L

  def q256QuotaAllocation(spark: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("lang").asc, col("source").asc)
    val counts = Tables.documents(spark, d)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .pin(SizedBy("stratum")) // count frame: every later step derives from it
    val total = counts.agg(sum(col("n_docs")).as("t"))
    counts.crossJoin(broadcast(total))
      .withColumn("base", expr(s"($QuotaTotal * n_docs) div t"))
      .withColumn("rem", (lit(QuotaTotal) * col("n_docs")) % col("t"))
      .withColumn("slots_left",
        lit(QuotaTotal) - sum(col("base")).over(
          org.apache.spark.sql.expressions.Window.partitionBy())) // (lang,source)-strata-sized quota frame
      .withColumn("rk", row_number().over(w))
      .select(col("lang"), col("source"), col("n_docs"),
        (col("base") + when(col("rk") <= col("slots_left"), 1L).otherwise(0L))
          .as("quota"))
      .orderBy(col("lang"), col("source"))
  }

  val q256Oracle: String =
    s"""WITH c AS (SELECT lang, source, count(*) AS n_docs FROM documents GROUP BY 1, 2),
       t AS (SELECT sum(n_docs) AS t FROM c),
       b AS (SELECT lang, source, n_docs,
               CAST(($QuotaTotal * n_docs) // t.t AS BIGINT) AS base,
               ($QuotaTotal * n_docs) % t.t AS rem
             FROM c, t),
       s AS (SELECT *, $QuotaTotal - sum(base) OVER () AS slots_left,
               row_number() OVER (ORDER BY rem DESC, lang ASC, source ASC) AS rk
             FROM b)
       SELECT lang, source, n_docs,
              CAST(base + CASE WHEN rk <= slots_left THEN 1 ELSE 0 END AS BIGINT) AS quota
       FROM s ORDER BY lang, source"""

  // ---------------------------------------------------------------- q268
  /** Weighted sampling WITHOUT replacement, deterministic — the
    * Efraimidis–Spirakis A-ES scheme with the repo's consistent-hash
    * discipline: each row's uniform u derives from an md5 prefix of the
    * id (a pure function of the row, reproducible at any cluster size —
    * and md5 is the hash family both engines replay bit-for-bit, so the
    * oracle is a FULL value replay, not a statistical certificate), its
    * priority is ln(u)/w (maximizing u^(1/w) ⟺ maximizing
    * ln(u)/w for w>0), and the sample is the global top-k by priority —
    * which plans as TakeOrderedAndProject: per-partition heaps, k-row
    * driver merge, O(k) memory at any corpus size. The priority is ONE
    * correctly-rounded ln quantized to nano-units (the q228/q253
    * discipline) with id tie-breaks, so selection is bit-identical across
    * engines — no float boundary can flip membership. The readout
    * certifies the property that makes weighted sampling worth running:
    * the selected rows' mean weight sits far above the corpus mean
    * (heavier rows enter at higher rate), with exact-cents sums.
    */
  val ReservoirK = 100

  def q268WeightedReservoir(spark: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(spark, d).select(col("o_orderkey"),
      expr("cast(round(o_totalprice * 100) as bigint)").as("wc"))
    // u from an md5 hex prefix, NOT xxhash64: md5 is the one hash family
    // both engines share bit-for-bit, which upgrades this oracle from the
    // q85-style statistical certificate to a full value replay
    val prior = orders
      // 0.5 and 2^32 stay DECIMAL literals: u is exact decimal arithmetic,
      // as in the oracle
      .withColumn("u", (certifiedKey(col("o_orderkey").cast("string"), 8) + expr("0.5"))
        / expr("4294967296.0"))
      .withColumn("priority_nano", expr(
        "CAST(round(ln(u) / (CAST(wc AS DOUBLE) / 100.0) * 1000000000) AS BIGINT)"))
    val top = prior
      .orderBy(col("priority_nano").desc, col("o_orderkey").asc)
      .limit(ReservoirK)
    val corpus = orders.agg(count(lit(1)).as("n_total"),
      expr("cast(sum(cast(wc as decimal(38,0))) as decimal(38,0))").as("swc"))
    top.agg(count(lit(1)).as("k"),
        expr("cast(sum(cast(wc as decimal(38,0))) as bigint)").as("sample_cents"),
        expr("cast(min(priority_nano) as bigint)").as("min_priority_nano"))
      .crossJoin(broadcast(corpus))
      .select(col("k"), col("n_total"), col("sample_cents"),
        expr("round(CAST(sample_cents AS DOUBLE) / k / 100.0, 6)").as("sample_avg"),
        expr("round(CAST(CAST(swc AS STRING) AS DOUBLE) / n_total / 100.0, 6)")
          .as("corpus_avg"),
        col("min_priority_nano"))
  }

  val q268Oracle: String =
    s"""WITH o AS (SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS wc
           FROM orders),
       pr AS (SELECT o_orderkey, wc,
                CAST(round(ln((CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
                               + 0.5) / 4294967296.0)
                          / (CAST(wc AS DOUBLE) / 100.0) * 1000000000) AS BIGINT) AS priority_nano
              FROM o),
       top AS (SELECT * FROM pr ORDER BY priority_nano DESC, o_orderkey ASC LIMIT $ReservoirK),
       c AS (SELECT count(*) AS n_total, sum(CAST(wc AS HUGEINT)) AS swc FROM o)
       SELECT count(*) AS k, c.n_total,
              CAST(sum(CAST(top.wc AS HUGEINT)) AS BIGINT) AS sample_cents,
              round(CAST(CAST(sum(CAST(top.wc AS HUGEINT)) AS BIGINT) AS DOUBLE)
                    / count(*) / 100.0, 6) AS sample_avg,
              round(CAST(CAST(c.swc AS VARCHAR) AS DOUBLE) / c.n_total / 100.0, 6) AS corpus_avg,
              CAST(min(top.priority_nano) AS BIGINT) AS min_priority_nano
       FROM top, c GROUP BY c.n_total, c.swc"""

  // ---------------------------------------------------------------- q261
  /** Split-contamination audit — the counterpart certificate to q255: after
    * group-aware folding, how much n-gram overlap still CROSSES fold
    * boundaries (organic shared phrasing the cluster threshold didn't
    * merge) vs how much the folds correctly CONTAIN (near-dup families kept
    * together)? Doc pairs sharing a word-3-gram are classified by whether
    * their folds agree; a healthy split shows the contained mass ≫ the
    * crossing mass, and the crossing pairs' max shared-gram count bounds
    * the worst leak. Same pair generator as the cluster build (Σ per-gram
    * doc-pair products, hash-keyed — never all-pairs), fold labels probed
    * from the PERSISTED cluster table.
    */
  def q261SplitContamination(spark: SparkSession, d: String): DataFrame = {
    val corpus = Dedup.q97Corpus(spark, d)
    // both self-join sides read it
    val sh = Dedup.shingles3(corpus)
      .pin(SizedBy("doc×gram")) // shingle frame
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_grams"))
    val folds = Dedup.nearDupClusterTable(spark, d)
      .select(col("doc_id"),
        pmod(col("component"), lit(KFolds.toLong)).cast("int").as("fold"))
    pairs
      .join(folds.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("fold", "fold_a"), "doc_a")
      .join(folds.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("fold", "fold_b"), "doc_b")
      .withColumn("kind", when(col("fold_a") === col("fold_b"), "contained")
        .otherwise("crossing"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("cast(sum(shared_grams) as bigint)").as("sum_shared_grams"),
        expr("cast(max(shared_grams) as bigint)").as("max_shared_grams"))
      .orderBy(col("kind"))
  }

  val q261Oracle: String =
    s"""WITH RECURSIVE
       ${Dedup.clusterOraclePrelude},
       f AS (SELECT doc_id, CAST(component % $KFolds AS INT) AS fold FROM comp),
       cls AS (SELECT CASE WHEN fa.fold = fb.fold THEN 'contained'
                           ELSE 'crossing' END AS kind, i
               FROM inter
               JOIN f fa ON fa.doc_id = inter.da
               JOIN f fb ON fb.doc_id = inter.db)
       SELECT kind, count(*) AS n_pairs,
              CAST(sum(i) AS BIGINT) AS sum_shared_grams,
              CAST(max(i) AS BIGINT) AS max_shared_grams
       FROM cls GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q298
  /** Mixture TEMPERATURE sweep — the design table behind q227's single-τ
    * quota (the q281/q282 operating-curve pattern applied to corpus
    * mixing): sampling weight w_i ∝ n_i^τ interpolates between
    * proportional (τ=1, big languages dominate) and uniform (τ=0, rare
    * languages repeat for many epochs); the sweep prices each stop. Per
    * (τ, language): token mass, mixture share in ppm, the token
    * allocation under a fixed budget, and the implied epochs over that
    * language's data in ppm — epochs_ppm > 10⁶ is the over-repetition
    * flag q254's cap enforces. τ grid = {1, ½, ¼, 0}: every weight is
    * exact (n, √n, ⁴√n, 1 — IEEE sqrt is correctly rounded, so both
    * engines produce the identical double, quantized to µ-units BEFORE
    * any division; all downstream math is integer). Shape: ONE corpus
    * scan into a languages-sized aggregate, a 4-way constant explode,
    * and a 4-row broadcast of per-τ weight totals. Full oracle.
    */
  def q298MixtureSweep(spark: SparkSession, d: String): DataFrame = {
    // the languages-sized aggregate feeds both the weight rows and the
    // per-τ totals
    val c = Tables.documents(spark, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(words(col("text")))).cast("bigint").as("n_tokens"))
      .pin(SizedBy("languages")) // 5 rows
    val w = c.select(col("lang"), col("n_docs"), col("n_tokens"),
        explode(expr("array(1000, 500, 250, 0)")).as("tau_milli"))
      .withColumn("w_micro", expr(
        """CASE tau_milli
             WHEN 1000 THEN n_tokens * 1000000
             WHEN 500 THEN cast(round(sqrt(cast(n_tokens as double)) * 1000000) as bigint)
             WHEN 250 THEN cast(round(sqrt(sqrt(cast(n_tokens as double))) * 1000000) as bigint)
             ELSE 1000000 END"""))
    val tot = w.groupBy(col("tau_milli"))
      .agg(expr("cast(sum(w_micro) as bigint)").as("w_total"))
    w.join(broadcast(tot), "tau_milli")
      .withColumn("share_ppm", expr("cast(w_micro * 1000000 div w_total as bigint)"))
      .withColumn("alloc_tokens",
        expr(s"cast($Q298Budget * share_ppm div 1000000 as bigint)"))
      .withColumn("epochs_ppm", expr("cast(alloc_tokens * 1000000 div n_tokens as bigint)"))
      .select(col("tau_milli").cast("long").as("tau_milli"), col("lang"),
        col("n_docs"), col("n_tokens"), col("share_ppm"), col("alloc_tokens"),
        col("epochs_ppm"))
      .orderBy(col("tau_milli"), col("lang"))
  }

  val Q298Budget = 1000000L

  val q298Oracle: String =
    s"""WITH c AS (SELECT lang, count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY lang),
       w AS (SELECT lang, n_docs, n_tokens, t.tau_milli,
               CASE t.tau_milli
                 WHEN 1000 THEN n_tokens * 1000000
                 WHEN 500 THEN CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
                 WHEN 250 THEN CAST(round(sqrt(sqrt(CAST(n_tokens AS DOUBLE))) * 1000000) AS BIGINT)
                 ELSE 1000000 END AS w_micro
             FROM c, (VALUES (1000), (500), (250), (0)) t(tau_milli)),
       tot AS (SELECT tau_milli, CAST(sum(w_micro) AS BIGINT) AS w_total
               FROM w GROUP BY tau_milli)
       SELECT CAST(w.tau_milli AS BIGINT) AS tau_milli, w.lang, w.n_docs, w.n_tokens,
         CAST(w.w_micro * 1000000 // t.w_total AS BIGINT) AS share_ppm,
         CAST($Q298Budget * (w.w_micro * 1000000 // t.w_total) // 1000000 AS BIGINT) AS alloc_tokens,
         CAST(($Q298Budget * (w.w_micro * 1000000 // t.w_total) // 1000000) * 1000000
              // w.n_tokens AS BIGINT) AS epochs_ppm
       FROM w JOIN tot t ON t.tau_milli = w.tau_milli
       ORDER BY tau_milli, lang"""

  // ---------------------------------------------------------------- q340
  /** DETERMINISTIC EPOCH ORDERING with a resume point — the data-loader
    * contract every multi-epoch training run needs: epoch e's global
    * document order is a pure function of (e, doc_id) (md5-prefix hash
    * order, doc_id tie-break — the one hash family both engines replay
    * bit-for-bit), so any worker at any cluster size derives the same
    * permutation, epochs are decorrelated (different e ⇒ independent
    * order), and a crashed run RESUMES mid-epoch by global position with
    * no stored shuffle state. The readout is the resume slice: global
    * ranks [[Q340Resume]]+1 … +20 for epochs 0 and 1. The global rank is
    * NOT a single-task window: epoch is a 2-value partition key, exactly
    * the low-NDV trap, so ranks come from the BucketRank two-phase form
    * (per-(epoch, hash-bucket) counts → broadcast offsets → bucket-local
    * windows) — parallel at any corpus size. Full oracle replays the
    * hash order with DuckDB's plain window (the semantic spec the
    * two-phase form must equal).
    */
  val Q340Resume = 100L

  def q340EpochOrder(spark: SparkSession, d: String): DataFrame = {
    val epochs = Tables.documents(spark, d).select(col("doc_id"))
      .withColumn("epoch", explode(expr("array(cast(0 as bigint), cast(1 as bigint))")))
      .withColumn("h", certifiedKey(
        concat(lit("ep#"), col("epoch").cast("string"), lit("#"), col("doc_id").cast("string"))))
    val targets = (1L to 20L).map(i => lit(Q340Resume + i))
    BucketRank.select(epochs, "epoch",
        bucket = expr("h div 1099511627776"), // 2^40: 15 hex chars = 60 bits
        ord = Seq(col("h"), col("doc_id")), targets = targets)
      .select(col("epoch"), col("__grank").as("grank"), col("doc_id"))
      .orderBy(col("epoch"), col("grank"))
  }

  val q340Oracle: String =
    s"""WITH e AS (SELECT doc_id, epoch FROM documents,
             (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT))) ep(epoch)),
       h AS (SELECT epoch, doc_id,
               CAST(('0x' || substr(md5('ep#' || epoch || '#' || doc_id), 1, 15)) AS BIGINT) AS h
             FROM e),
       r AS (SELECT epoch, doc_id,
               CAST(row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS BIGINT) AS grank
             FROM h)
       SELECT epoch, grank, doc_id FROM r
       WHERE grank BETWEEN $Q340Resume + 1 AND $Q340Resume + 20
       ORDER BY epoch, grank"""

  // ---------------------------------------------------------------- q342
  /** SEQUENCE PACKING readout — the concat-and-cut batching step every
    * pre-training run performs (documents in q340's deterministic hash
    * order are concatenated into one token stream and cut every
    * [[Q342Budget]] tokens): how many packs the corpus yields, how much
    * document fragmentation the cut creates, and what the head packs
    * look like. Token counts are q39's whitespace segmentation; the
    * global token-offset of every document is a prefix sum in
    * (md5-prefix hash, doc_id) order: a [[BucketRank]] running sum over
    * hash buckets, no single-task window over the corpus. A document then spans packs start div L …
    * (end−1) div L, all exact BIGINTs: `crossings` = Σ(last−first) is
    * the fragmentation count, pack detail rows (packs 0–9) report
    * overlapping docs, docs starting in the pack, token fill (= L by
    * construction except the final pack), and the doc owning the pack's
    * first token. Corpus totals ride every row (the q341 shape). Full
    * oracle replays the plain-window prefix sum — equality certifies the
    * two-phase rewrite.
    */
  val Q342Budget = 128L

  def q342SequencePacking(spark: SparkSession, d: String): DataFrame = {
    val L = Q342Budget
    val base = Tables.documents(spark, d)
      .select(col("doc_id"),
        size(words(col("text"))).cast("long").as("n_tok"))
      .withColumn("h", certifiedKey(concat(lit("pk#"), col("doc_id").cast("string"))))
    // the token prefix sum in (h, doc_id) order over h div 2^40 buckets
    val pack = BucketRank.Running(Nil, expr("h div 1099511627776"), Seq(col("h"), col("doc_id")),
      "cum" -> col("n_tok"))
    val prefixed = pack(base, pack.frame(base).pin(SizedBy("bucket"))) // ≤2^20 rows; both legs read it
      .withColumn("st", col("cum") - col("n_tok"))
      .withColumn("fp", expr(s"st div $L"))
      .withColumn("lp", expr(s"(cum - 1) div $L"))
    val totals = prefixed.groupBy()
      .agg(expr("cast(sum(n_tok) as bigint)").as("total_tokens"),
        expr(s"cast((sum(n_tok) + $L - 1) div $L as bigint)").as("n_packs"),
        expr("cast(sum(lp - fp) as bigint)").as("crossings"))
    val detail = prefixed.filter(col("fp") <= 9L)
      .withColumn("pack_id", explode(expr("sequence(fp, least(lp, cast(9 as bigint)))")))
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        expr("cast(sum(CASE WHEN fp = pack_id THEN 1 ELSE 0 END) as bigint)").as("n_starts"),
        expr(s"cast(sum(least(cum, (pack_id + 1) * $L) - greatest(st, pack_id * $L)) as bigint)").as("n_tokens"),
        expr(s"min(CASE WHEN st <= pack_id * $L THEN doc_id END)").as("head_doc"))
    detail.crossJoin(broadcast(totals)).orderBy(col("pack_id"))
  }

  val q342Oracle: String = {
    val L = Q342Budget
    s"""WITH d AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST(('0x' || substr(md5('pk#' || doc_id), 1, 15)) AS BIGINT) AS h
           FROM documents),
       p AS (SELECT doc_id, n_tok,
               sum(n_tok) OVER (ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             FROM d),
       s AS (SELECT doc_id, n_tok, CAST(cum AS BIGINT) AS cum,
               CAST(cum - n_tok AS BIGINT) AS st,
               CAST((cum - n_tok) // $L AS BIGINT) AS fp,
               CAST((cum - 1) // $L AS BIGINT) AS lp FROM p),
       tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                 CAST((sum(n_tok) + $L - 1) // $L AS BIGINT) AS n_packs,
                 CAST(sum(lp - fp) AS BIGINT) AS crossings FROM s),
       e AS (SELECT s.*, u.pack_id
             FROM s, unnest(generate_series(s.fp, least(s.lp, 9))) u(pack_id)
             WHERE s.fp <= 9),
       g AS (SELECT pack_id, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (fp = pack_id) AS BIGINT) AS n_starts,
               CAST(sum(least(cum, (pack_id + 1) * $L)
                    - greatest(st, pack_id * $L)) AS BIGINT) AS n_tokens,
               min(CASE WHEN st <= pack_id * $L THEN doc_id END) AS head_doc
             FROM e GROUP BY 1)
       SELECT g.pack_id, g.n_docs, g.n_starts, g.n_tokens, g.head_doc,
         t.total_tokens, t.n_packs, t.crossings
       FROM g, tot t ORDER BY g.pack_id"""
  }

  // ---------------------------------------------------------------- q347
  /** FILL-IN-THE-MIDDLE span planning (Bavarian et al. 2022) — the
    * document-transform plan behind FIM pre-training: a hash-selected
    * half of the corpus (the standard ~50% FIM rate) is scheduled for
    * prefix/middle/suffix reordering, with the two cut points drawn
    * DETERMINISTICALLY per document from independent md5 streams over
    * [0, n_tok] (any worker at any cluster size re-derives the same
    * plan with zero stored state — the q340 trick applied to span
    * selection; a seeded RNG would be partition-order-dependent). The
    * readout is the per-language audit an operator checks before
    * launching the run: docs / FIM docs, token masses of the three span
    * classes (exact BIGINTs; they sum to the FIM token mass — the
    * planted invariant Round11Spec asserts), degenerate empty-middle
    * count (cut1 = cut2), and the middle-token share in exact ppm —
    * the knob FIM papers tune (middle ≈ uniform ⇒ E[share] ≈ 1/3).
    * Map-only: one documents scan, one shuffle on the 20-value lang
    * key; full oracle replays the md5 arithmetic bit-for-bit.
    */
  def q347FimSpanPlan(spark: SparkSession, d: String): DataFrame = {
    def h(tag: String): Column = certifiedKey(concat(lit(s"$tag#"), col("doc_id").cast("string")))
    val planned = Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"),
        size(words(col("text"))).cast("bigint").as("n_tok"))
      .withColumn("is_fim", h("fim") % 2 === 0)
      .withColumn("h1", h("fima") % (col("n_tok") + 1))
      .withColumn("h2", h("fimb") % (col("n_tok") + 1))
      .withColumn("c1", least(col("h1"), col("h2")))
      .withColumn("c2", greatest(col("h1"), col("h2")))
    planned.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        expr("cast(sum(CASE WHEN is_fim THEN 1 ELSE 0 END) as bigint)").as("n_fim"),
        expr("cast(sum(CASE WHEN is_fim THEN n_tok ELSE 0 END) as bigint)").as("fim_tokens"),
        expr("cast(sum(CASE WHEN is_fim THEN c1 ELSE 0 END) as bigint)").as("prefix_tokens"),
        expr("cast(sum(CASE WHEN is_fim THEN c2 - c1 ELSE 0 END) as bigint)").as("middle_tokens"),
        expr("cast(sum(CASE WHEN is_fim THEN n_tok - c2 ELSE 0 END) as bigint)").as("suffix_tokens"),
        expr("cast(sum(CASE WHEN is_fim AND c1 = c2 THEN 1 ELSE 0 END) as bigint)").as("n_empty_middle"))
      .withColumn("middle_share_ppm",
        expr("middle_tokens * 1000000 div fim_tokens"))
      .orderBy(col("lang"))
  }

  val q347Oracle: String = {
    def h(tag: String): String =
      s"CAST(('0x' || substring(md5('$tag#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    s"""WITH base AS (SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents),
       pl AS (SELECT lang, n_tok,
               ${h("fim")} % 2 = 0 AS is_fim,
               least(${h("fima")} % (n_tok + 1), ${h("fimb")} % (n_tok + 1)) AS c1,
               greatest(${h("fima")} % (n_tok + 1), ${h("fimb")} % (n_tok + 1)) AS c2
             FROM base)
       SELECT lang, count(*) AS n_docs,
         CAST(sum(CASE WHEN is_fim THEN 1 ELSE 0 END) AS BIGINT) AS n_fim,
         CAST(sum(CASE WHEN is_fim THEN n_tok ELSE 0 END) AS BIGINT) AS fim_tokens,
         CAST(sum(CASE WHEN is_fim THEN c1 ELSE 0 END) AS BIGINT) AS prefix_tokens,
         CAST(sum(CASE WHEN is_fim THEN c2 - c1 ELSE 0 END) AS BIGINT) AS middle_tokens,
         CAST(sum(CASE WHEN is_fim THEN n_tok - c2 ELSE 0 END) AS BIGINT) AS suffix_tokens,
         CAST(sum(CASE WHEN is_fim AND c1 = c2 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_middle,
         CAST(sum(CASE WHEN is_fim THEN c2 - c1 ELSE 0 END) * 1000000
              // sum(CASE WHEN is_fim THEN n_tok ELSE 0 END) AS BIGINT) AS middle_share_ppm
       FROM pl GROUP BY lang ORDER BY lang"""
  }

  // ---------------------------------------------------------------- q352
  /** PACK-FRAGMENTATION profile by document length band — the QA readout
    * behind the q342 packer (q275 reports corpus-level padding economics;
    * this reports WHICH documents the cut boundaries actually split):
    * every document's pack span (first/last pack from the same
    * [[BucketRank]] prefix sum the packer uses, identical hash order),
    * rolled up per 16-token length band (capped at band 8 — exact integer banding,
    * no quantile pass needed). Per band: docs, token mass, boundary-
    * crossing docs and the crossing share in exact ppm — long documents
    * fragment more (a 128-token budget cuts nearly every 100+-token doc),
    * and this profile is the evidence an operator reads before choosing
    * budget vs truncation policy. One corpus scan + the two-phase
    * machinery; oracle replays the PLAIN global window — equality
    * re-certifies the bucket rewrite on a second consumer.
    */
  def q352PackFragmentation(spark: SparkSession, d: String): DataFrame = {
    val L = Q342Budget
    val base = Tables.documents(spark, d)
      .select(col("doc_id"),
        size(words(col("text"))).cast("long").as("n_tok"))
      .withColumn("h", certifiedKey(concat(lit("pk#"), col("doc_id").cast("string"))))
    // the token prefix sum in (h, doc_id) order over h div 2^40 buckets
    val pack = BucketRank.Running(Nil, expr("h div 1099511627776"), Seq(col("h"), col("doc_id")),
      "cum" -> col("n_tok"))
    val prefixed = pack(base, pack.frame(base).pin(SizedBy("bucket"))) // ≤2^20 rows: h < 2^60
      .withColumn("st", col("cum") - col("n_tok"))
      .withColumn("crossing", expr(s"CASE WHEN (cum - 1) div $L > st div $L THEN 1 ELSE 0 END"))
      .withColumn("band", expr("least(n_tok div 16, cast(8 as bigint))"))
    prefixed.groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"),
        expr("cast(sum(n_tok) as bigint)").as("n_tokens"),
        expr("cast(sum(crossing) as bigint)").as("n_crossing"))
      .withColumn("crossing_ppm", expr("n_crossing * 1000000 div n_docs"))
      .orderBy(col("band"))
  }

  val q352Oracle: String = {
    val L = Q342Budget
    s"""WITH d AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST(('0x' || substring(md5('pk#' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
           FROM documents),
       w AS (SELECT doc_id, n_tok, h,
               coalesce(sum(n_tok) OVER (ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
             FROM d),
       x AS (SELECT least(n_tok // 16, 8) AS band, n_tok,
               CASE WHEN (st + n_tok - 1) // $L > st // $L THEN 1 ELSE 0 END AS crossing
             FROM w)
       SELECT band, count(*) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(sum(crossing) AS BIGINT) AS n_crossing,
         CAST(sum(crossing) * 1000000 // count(*) AS BIGINT) AS crossing_ppm
       FROM x GROUP BY band ORDER BY band"""
  }

  // ---------------------------------------------------------------- q361
  /** Shuffle-MIXING audit of the training order — did the q340 hash
    * permutation actually interleave the sources, or does the stream
    * feed the model long single-source stretches (the curriculum-
    * by-accident failure mode a data-order bug produces)? Source RUNS
    * are counted exactly in the global (md5-prefix hash, doc_id) order:
    * a run starts wherever the previous document (in that order) came
    * from a different source, and per source the audit reports measured
    * runs, exact mean run length in µ-docs, the closed-form expected
    * runs under a uniform random permutation E[R_s] = n_s·(N−n_s+1)/N
    * (DECIMAL(38,0)-guarded — the product squares the corpus), and the
    * measured/expected ratio in ppm (~10⁶ = well mixed; far below =
    * clumping). The global predecessor is computed WITHOUT a global
    * window — bucket-local lag()s over the hash's top-40-bit buckets
    * plus a predecessor chain on the bucket-summary frame (≤2²⁰ rows by
    * construction — the q340/q342 bucket geometry), where each bucket's
    * first row takes its predecessor from the previous bucket's
    * min/max-struct endpoints. The oracle replays the PLAIN global
    * window lag — equality certifies the boundary chain.
    */
  def q361MixingRuns(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // read by the inner starts, the bucket endpoints and the per-source
    // rollup
    val base = Tables.documents(spark, d).select(col("doc_id"), col("source"))
      .withColumn("h", certifiedKey(concat(lit("mix#"), col("doc_id").cast("string"))))
      .withColumn("b", expr("h div 1099511627776")) // 2^40: ≤ 2^20 buckets
      .pin(SizedBy("doc-count")) // narrow (id, source, hash)
    val wB = Window.partitionBy(col("b")).orderBy(col("h"), col("doc_id"))
    // starts visible INSIDE a bucket (predecessor in the same bucket)
    val inner = base.withColumn("prev", lag(col("source"), 1).over(wB))
      .filter(col("prev").isNotNull && col("prev") =!= col("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("inner_starts"))
    // bucket endpoints; (h, doc_id) is unique so the struct order is total
    val ends = base.groupBy(col("b"))
      .agg(min(struct(col("h"), col("doc_id"), col("source"))).as("f"),
        max(struct(col("h"), col("doc_id"), col("source"))).as("l"))
    val wChain = Window.orderBy(col("b")) // bucket-summary frame, ≤ 2^20 rows
    val bucketStarts = ends
      .withColumn("prev_last", lag(col("l.source"), 1).over(wChain))
      .filter(col("prev_last").isNull || col("prev_last") =!= col("f.source"))
      .groupBy(col("f.source").as("source")).agg(count(lit(1)).as("first_starts"))
    val perSource = base.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(inner, Seq("source"), "left").na.fill(0L, Seq("inner_starts"))
      .join(bucketStarts, Seq("source"), "left").na.fill(0L, Seq("first_starts"))
      .withColumn("n_runs", col("inner_starts") + col("first_starts"))
      .pin(SizedBy("|sources|")) // rollup (read by itself + its total)
    perSource
      .crossJoin(broadcast(perSource.agg(expr("cast(sum(n_docs) as bigint)").as("nn")))) // 1-row total
      .withColumn("exp_runs_micro", expr(
        "cast(cast(n_docs as decimal(38,0)) * (nn - n_docs + 1) * 1000000 div nn as bigint)"))
      .select(col("source"), col("n_docs"), col("n_runs"),
        expr("n_docs * 1000000 div n_runs").as("mean_run_micro"),
        col("exp_runs_micro"),
        expr("cast(cast(n_runs as decimal(38,0)) * 1000000000000 div exp_runs_micro as bigint)")
          .as("mix_ratio_ppm"))
      .orderBy(col("source"))
  }

  val q361Oracle: String =
    """WITH h AS (SELECT doc_id, source,
           CAST(('0x' || substr(md5('mix#' || doc_id), 1, 15)) AS BIGINT) AS h
         FROM documents),
       o AS (SELECT source, lag(source) OVER (ORDER BY h, doc_id) AS prev FROM h),
       st AS (SELECT source, count(*) AS n_docs,
                sum(CASE WHEN prev IS NULL OR prev <> source THEN 1 ELSE 0 END) AS n_runs
              FROM o GROUP BY 1),
       tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nn FROM st)
       SELECT s.source, CAST(s.n_docs AS BIGINT) AS n_docs,
         CAST(s.n_runs AS BIGINT) AS n_runs,
         CAST(s.n_docs * 1000000 // s.n_runs AS BIGINT) AS mean_run_micro,
         CAST(CAST(s.n_docs AS HUGEINT) * (t.nn - s.n_docs + 1) * 1000000 // t.nn AS BIGINT) AS exp_runs_micro,
         CAST(CAST(s.n_runs AS HUGEINT) * 1000000000000
           // (CAST(s.n_docs AS HUGEINT) * (t.nn - s.n_docs + 1) * 1000000 // t.nn) AS BIGINT) AS mix_ratio_ppm
       FROM st s, tot t ORDER BY s.source"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q361_mixing_runs" -> q361MixingRuns _,
    "q342_sequence_packing" -> q342SequencePacking _,
    "q347_fim_plan" -> q347FimSpanPlan _,
    "q352_pack_fragmentation" -> q352PackFragmentation _,
    "q340_epoch_order" -> q340EpochOrder _,
    "q298_mixture_sweep" -> q298MixtureSweep _,
    "q268_weighted_reservoir" -> q268WeightedReservoir _,
    "q261_split_contamination" -> q261SplitContamination _,
    "q255_fold_assignment" -> q255FoldAssignment _,
    "q256_quota_allocation" -> q256QuotaAllocation _,
    "q73_stratified_sample" -> q73StratifiedSample _,
    "q85_sample_cap_weighted" -> q85CapWeighted _,
    "q90_shuffle_deterministic" -> q90ShuffleDeterministic _,
    "q216_systematic_sample" -> q216SystematicSample _,
    "q226_group_aware_split" -> q226GroupAwareSplit _,
    "q243_temporal_split" -> q243TemporalSplit _,
    "q227_temperature_sample" -> q227TemperatureSample _)

  val oracles: Map[String, String] = Map(
    "q361_mixing_runs" -> q361Oracle,
    "q342_sequence_packing" -> q342Oracle,
    "q347_fim_plan" -> q347Oracle,
    "q352_pack_fragmentation" -> q352Oracle,
    "q340_epoch_order" -> q340Oracle,
    "q298_mixture_sweep" -> q298Oracle,
    "q268_weighted_reservoir" -> q268Oracle,
    "q261_split_contamination" -> q261Oracle,
    "q255_fold_assignment" -> q255Oracle,
    "q256_quota_allocation" -> q256Oracle,
    "q73_stratified_sample" -> q73Oracle,
    "q85_sample_cap_weighted" -> q85Oracle,
    "q90_shuffle_deterministic" -> q90Oracle,
    "q216_systematic_sample" -> q216Oracle,
    "q226_group_aware_split" -> q226Oracle,
    "q243_temporal_split" -> q243Oracle,
    "q227_temperature_sample" -> q227Oracle)
}
