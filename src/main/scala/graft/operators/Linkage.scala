package graft.operators

import graft.core.Pin._
import graft.sources.Tables

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Record linkage: fuzzy (edit-distance) joins with blocking. The reference
  * pipeline loads entity tables (customers, suppliers) whose identifiers
  * arrive dirty in real feeds; linking near-identical names is the standard
  * warehouse-side cleanup. Spark-first shape: blocking turns the O(n²)
  * all-pairs distance computation into Σ block² — the same cost argument as
  * LSH banding in [[Dedup]] — and `levenshtein(l, r, threshold)` (Spark ≥
  * 3.5) early-exits the DP at the bound instead of filling the full matrix.
  *
  * 100 TB notes: the self-join shuffles on the block key only; block-size
  * skew is the failure mode (a giant block re-quadratizes), so real feeds
  * pick block keys with bounded selectivity (prefix+length, phonetic code,
  * sorted-neighborhood windows) — and the recall cost of blocking is
  * explicit: pairs whose edits fall inside the block key are missed. That
  * tradeoff is inherent to blocked linkage, not an implementation shortcut.
  */
object Linkage {

  /** Upper bound on rows considered per block. A degenerate block (e.g. a
    * placeholder name shared by 10⁶ rows) would otherwise re-quadratize the
    * blocked join into 10¹² levenshtein pairs inside one task — the same
    * skew failure [[Dedup.MaxBucketSize]] guards LSH buckets against.
    */
  val MaxBlockSize = 1000

  /** All pairs within a block whose edit distance ≤ maxDist. Pairs are
    * ordered (idA < idB) to emit each match once.
    *
    * Blocks larger than `maxBlockSize` are truncated to their lowest-id
    * `maxBlockSize` rows (deterministic, same sampling rule as LSH buckets).
    * Truncation is LOUD, not silent: [[blockOverflow]] on the same inputs
    * reports every truncated block with its kept/dropped counts, and the
    * fixture query q98 asserts zero overflow at TPC-H block sizes.
    */
  def fuzzySelfJoin(df: DataFrame, idCol: String, nameCol: String,
                    blockPrefixLen: Int, maxDist: Int,
                    maxBlockSize: Int = MaxBlockSize): DataFrame = {
    val keyed = df.select(col(idCol).as("id"), col(nameCol).as("name"),
      substring(col(nameCol), 1, blockPrefixLen).as("blk"))
      // Explicit user shuffle at default parallelism (round 13): the
      // per-pair levenshtein cost is INVISIBLE to AQE's size-based
      // partition coalescing, which folded the sf1 rehearsal's 7.4M-pair
      // join onto a handful of tasks (53 s, while 10× the pairs at sf10
      // ran 40 s on naturally-larger shuffle bytes). A user-specified
      // partition count is exempt from AQE coalescing, and the skew-guard
      // window plus the self-join reuse this ONE exchange — no extra
      // shuffle, just guaranteed parallelism for the quadratic-per-block
      // compute.
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("blk"))
    // Cap-and-rank skew guard (Dedup.MaxBucketSize pattern): rank by id
    // inside each block, keep the lowest maxBlockSize. One extra window
    // over the already-required block shuffle — no new exchange.
    val guarded = keyed
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("blk")).orderBy(col("id"))))
      .filter(col("rnk") <= maxBlockSize)
      .drop("rnk")
    val a = guarded.as("a")
    val b = guarded.as("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      // length prefilter: |len(a) − len(b)| > maxDist can never match, and
      // the integer compare is ~free next to even an early-exiting DP call
      .filter(abs(length(col("a.name")) - length(col("b.name"))) <= maxDist)
      // thresholded levenshtein early-exits at maxDist+1 (returns -1 beyond)
      .withColumn("dist",
        levenshtein(col("a.name"), col("b.name"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("dist"))
  }

  /** Per-block truncation report for the same blocking as [[fuzzySelfJoin]]:
    * one row per OVERFLOWING block — (blk, block_size, kept, dropped).
    * Empty ⇒ no block hit the cap and the join was exact. Callers that care
    * about recall run this alongside the join (one cheap count-aggregate on
    * the identical block key) instead of discovering truncation by timeout.
    */
  def blockOverflow(df: DataFrame, nameCol: String, blockPrefixLen: Int,
                    maxBlockSize: Int = MaxBlockSize): DataFrame =
    df.select(substring(col(nameCol), 1, blockPrefixLen).as("blk"))
      .groupBy(col("blk"))
      .agg(count(lit(1)).as("block_size"))
      .filter(col("block_size") > maxBlockSize)
      .select(col("blk"), col("block_size"),
        lit(maxBlockSize).cast("long").as("kept"),
        (col("block_size") - maxBlockSize).as("dropped"))

  // ---------------------------------------------------------------- q98
  /** Customer-name linkage: block on the 16-char name prefix, link names
    * within edit distance 1. Deterministic → full DuckDB oracle (DuckDB
    * ships the same `levenshtein`).
    */
  def q98FuzzyJoin(spark: SparkSession, d: String): DataFrame =
    fuzzySelfJoin(Tables.customer(spark, d), "c_custkey", "c_name",
        blockPrefixLen = 16, maxDist = 1)
      .select(col("id_a").as("cust_a"), col("id_b").as("cust_b"), col("dist"))
      .orderBy(col("cust_a"), col("cust_b"))

  val q98Oracle: String =
    """WITH c AS (SELECT c_custkey, c_name, substr(c_name, 1, 16) AS blk
                  FROM customer)
       SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
              levenshtein(a.c_name, b.c_name) AS dist
       FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
       WHERE levenshtein(a.c_name, b.c_name) <= 1
       ORDER BY cust_a, cust_b"""

  // ---------------------------------------------------------------- q194
  /** Linkage agreement-pattern histogram — the evidence table behind
    * match-score weighting (the Fellegi–Sunter m/u counts, kept log-free
    * as exact integer counts): for every blocked candidate pair, the
    * agreement VECTOR (name within edit distance 1, same nation, same
    * market segment) and how often each pattern occurs. The pattern
    * histogram is what a linkage engineer reads to set match rules —
    * "same-segment alone agrees at chance, name-close almost never does".
    * Same blocked self-join shape as q98 (Σ block², never corpus²); the
    * aggregate is 2³ rows.
    */
  def q194LinkagePatterns(spark: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(spark, d)
      .select(col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
        substring(col("c_name"), 1, 16).as("blk"))
      // user-pinned parallelism for the levenshtein join — see
      // fuzzySelfJoin's AQE-coalescing note
      .repartition(spark.sparkContext.defaultParallelism, col("blk"))
    val a = c.as("a"); val b = c.as("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(
        (levenshtein(col("a.name"), col("b.name")) <= 1).as("name_close"),
        (col("a.nat") === col("b.nat")).as("same_nation"),
        (col("a.seg") === col("b.seg")).as("same_segment"))
      .groupBy(col("name_close"), col("same_nation"), col("same_segment"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("name_close"), col("same_nation"), col("same_segment"))
  }

  val q194Oracle: String =
    """WITH c AS (SELECT c_custkey AS id, c_name AS name, c_nationkey AS nat,
                    c_mktsegment AS seg, substr(c_name, 1, 16) AS blk
                  FROM customer)
       SELECT levenshtein(a.name, b.name) <= 1 AS name_close,
              a.nat = b.nat AS same_nation,
              a.seg = b.seg AS same_segment,
              count(*) AS n_pairs
       FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id
       GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""

  // ---------------------------------------------------------------- q199
  /** Sorted-neighborhood linkage — the OTHER classic blocking strategy:
    * sort the corpus by the link key and compare each record only to its
    * w−1 successors (w=3 here). Catches near-matches that straddle q98's
    * prefix-block boundary and bounds candidates at w·n regardless of
    * block-size skew — no hot block can quadratize. The global sort rank
    * is a [[BucketRank]] rank over name-prefix buckets (they sort
    * consistently with full names — no single-task window), and the
    * neighbor pairs are two RANK-ADJACENCY EQUI-JOINS (gr+1, gr+2) — no boundary
    * special-casing, because global ranks have no boundaries. The oracle
    * replays the textbook single-window formulation.
    */
  def q199SortedNeighborhood(spark: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(spark, d)
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    val ranked = BucketRank.Running(Nil, substring(col("name"), 1, 16), Seq(col("name"), col("id")),
        "gr" -> lit(1L))(c)
      .select(col("id"), col("name"), col("gr"))
      .pin(SizedBy("customer-count")) // narrow rank frame (r17: both adjacency-join sides re-ran the two-phase rank unpinned — customer x4)
    // each record targets its two successor ranks via ONE exploded
    // equi-join (a union of per-offset joins would re-embed the rank
    // lineage once per offset — the scan-ceiling test caught exactly that)
    val targets = ranked.select(col("id").as("id_a"), col("name").as("name_a"),
      explode(array(col("gr") + 1, col("gr") + 2)).as("gr"))
    targets.join(ranked, Seq("gr"))
      .withColumn("dist", levenshtein(col("name_a"), col("name")))
      .filter(col("dist") <= 1)
      .select(col("id_a").as("cust_a"), col("id").as("cust_b"),
        col("dist").cast("long").as("dist"))
      .orderBy(col("cust_a"), col("cust_b"))
  }

  val q199Oracle: String =
    """WITH r AS (SELECT c_custkey AS id, c_name AS name,
                    row_number() OVER (ORDER BY c_name, c_custkey) AS gr
                  FROM customer),
       p AS (SELECT a.id AS cust_a, b.id AS cust_b,
               levenshtein(a.name, b.name) AS dist
             FROM r a JOIN r b ON b.gr = a.gr + 1 OR b.gr = a.gr + 2)
       SELECT cust_a, cust_b, dist FROM p WHERE dist <= 1
       ORDER BY cust_a, cust_b"""

  // ---------------------------------------------------------------- q224
  /** The blocking-TRUNCATION report driven as a first-class query — the
    * [[blockOverflow]] companion of [[fuzzySelfJoin]] was API-only until
    * round 6; a 100 TB linkage run needs the truncation evidence in the
    * catalog, not discoverable only by recall loss. The fixture makes the
    * degenerate block REAL rather than synthetic: blocking customer names
    * on a 13-char prefix puts every "Customer#0000…" row in ONE block (the
    * classic too-coarse blocking-key mistake), which overflows the cap of
    * 100 at every SF. The report is pure substring+count — fully
    * replayable in SQL, no hashing.
    */
  val Q224PrefixLen = 13
  val Q224Cap = 100

  def q224BlockOverflowReport(spark: SparkSession, d: String): DataFrame =
    blockOverflow(Tables.customer(spark, d), "c_name",
        blockPrefixLen = Q224PrefixLen, maxBlockSize = Q224Cap)
      .orderBy(col("blk"))

  val q224Oracle: String =
    s"""SELECT substr(c_name, 1, $Q224PrefixLen) AS blk,
         count(*) AS block_size,
         CAST($Q224Cap AS BIGINT) AS kept,
         CAST(count(*) - $Q224Cap AS BIGINT) AS dropped
       FROM customer GROUP BY 1 HAVING count(*) > $Q224Cap ORDER BY blk"""

  // ---------------------------------------------------------------- q360
  /** Blocking-QUALITY audit — Christen's reduction-ratio / pair-
    * completeness pair, the two numbers that justify any blocking scheme
    * before a linkage run (q98's prefix blocks, q199's sorted windows,
    * the LSH bands): RR says how much of the quadratic pair space the
    * blocking avoids, PC says how many TRUE matches survive it — and the
    * tension between them is the whole design problem. Ground truth is
    * PLANTED the q355 way: every 7th document gets a perturbed twin
    * (text + ' zzzz', id + 10⁷) whose relationship to its parent is known
    * by id arithmetic, so PC has a closed form the oracle replays. Two
    * schemes are audited side by side: 16-char text-prefix blocking
    * (append-robust — every truth pair co-blocks whenever the text
    * carries 16 chars, PC ≈ 10⁶ ppm) and 64-char length-band blocking
    * (append-FRAGILE — a pair crosses a band edge iff n_chars mod 64 ≥
    * 59, so PC lands measurably below 10⁶ and the metric discriminates).
    * Scale shape — the point of the operator: NOTHING pairwise is ever
    * materialized. Candidate-pair counts come from Σ n_b(n_b−1)/2 over
    * the block-size frame (one groupBy per scheme, DECIMAL(38,0)-guarded
    * — pair counts square the corpus), truth co-blocking is a map-side
    * closed form evaluated per PARENT row (the twin's key is derivable
    * from the parent's), and total pairs is arithmetic off one count.
    * An O(n) audit of an O(n²) question.
    */
  def q360BlockingQuality(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("text"), col("n_chars"))
    val twins = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text"), lit(" zzzz")).as("text"),
        (col("n_chars") + 5L).as("n_chars"))
    val corpus = docs.unionByName(twins)
    // r17: BOTH schemes' block counts ride ONE corpus pass — each doc
    // explodes into its two (scheme, block-key) rows before the aggregate
    // (the two per-scheme passes each re-embedded the docs∪twins union:
    // documents x5 before, x3 after — corpus pass + the truth pass)
    val blockCounts = corpus.select(explode(array(
        struct(lit("prefix16").as("scheme"),
          substring(col("text"), 1, 16).as("blk")),
        struct(lit("lenband64").as("scheme"),
          expr("cast(n_chars div 64 as string)").as("blk")))).as("sb"))
      .select(col("sb.scheme").as("scheme"), col("sb.blk").as("blk"))
      .groupBy(col("scheme"), col("blk")).agg(count(lit(1)).as("nb"))
    // truth co-blocking: evaluated on the PARENT rows alone — the twin's
    // block key is a pure function of the parent's text/length
    val truth = docs.filter(col("doc_id") % 7 === 0)
      .agg(count(lit(1)).as("n_truth"),
        expr("cast(count_if(substring(text, 1, 16) = substring(concat(text, ' zzzz'), 1, 16)) as bigint)")
          .as("co_prefix16"),
        expr("cast(count_if(n_chars div 64 = (n_chars + 5) div 64) as bigint)")
          .as("co_lenband64"))
    val schemes = blockCounts.groupBy(col("scheme"))
      .agg(count(lit(1)).as("n_blocks"),
        expr("cast(sum(nb) as bigint)").as("n_records"),
        expr("cast(sum(cast(nb as decimal(38,0)) * (nb - 1) div 2) as bigint)")
          .as("cand_pairs"))
    schemes.crossJoin(broadcast(truth)) // 1-row truth frame
      .withColumn("total_pairs",
        expr("cast(cast(n_records as decimal(38,0)) * (n_records - 1) div 2 as bigint)"))
      .select(col("scheme"), col("n_records"), col("n_blocks"), col("cand_pairs"),
        col("total_pairs"),
        expr("cast(cast(total_pairs - cand_pairs as decimal(38,0)) * 1000000 div total_pairs as bigint)")
          .as("rr_ppm"),
        col("n_truth"),
        expr("""cast(CASE WHEN scheme = 'prefix16' THEN co_prefix16 ELSE co_lenband64 END
                * 1000000 div n_truth as bigint)""").as("pc_ppm"))
      .orderBy(col("scheme"))
  }

  val q360Oracle: String =
    """WITH docs AS (SELECT doc_id, text, n_chars FROM documents),
       twins AS (SELECT doc_id + 10000000 AS doc_id, text || ' zzzz' AS text,
                   n_chars + 5 AS n_chars
                 FROM docs WHERE doc_id % 7 = 0),
       corpus AS (SELECT * FROM docs UNION ALL SELECT * FROM twins),
       bp AS (SELECT substr(text, 1, 16) AS blk, count(*) AS nb FROM corpus GROUP BY 1),
       bl AS (SELECT CAST(n_chars // 64 AS VARCHAR) AS blk, count(*) AS nb FROM corpus GROUP BY 1),
       sp AS (SELECT 'prefix16' AS scheme, count(*) AS n_blocks,
                CAST(sum(nb) AS BIGINT) AS n_records,
                CAST(sum(CAST(nb AS HUGEINT) * (nb - 1) // 2) AS BIGINT) AS cand_pairs
              FROM bp),
       sl AS (SELECT 'lenband64' AS scheme, count(*) AS n_blocks,
                CAST(sum(nb) AS BIGINT) AS n_records,
                CAST(sum(CAST(nb AS HUGEINT) * (nb - 1) // 2) AS BIGINT) AS cand_pairs
              FROM bl),
       truth AS (SELECT count(*) AS n_truth,
                   CAST(count_if(substr(text, 1, 16) = substr(text || ' zzzz', 1, 16)) AS BIGINT) AS co_prefix16,
                   CAST(count_if(n_chars // 64 = (n_chars + 5) // 64) AS BIGINT) AS co_lenband64
                 FROM docs WHERE doc_id % 7 = 0),
       s AS (SELECT * FROM sp UNION ALL SELECT * FROM sl)
       SELECT s.scheme, s.n_records, CAST(s.n_blocks AS BIGINT) AS n_blocks,
         s.cand_pairs,
         CAST(CAST(s.n_records AS HUGEINT) * (s.n_records - 1) // 2 AS BIGINT) AS total_pairs,
         CAST((CAST(s.n_records AS HUGEINT) * (s.n_records - 1) // 2 - s.cand_pairs) * 1000000
           // (CAST(s.n_records AS HUGEINT) * (s.n_records - 1) // 2) AS BIGINT) AS rr_ppm,
         CAST(t.n_truth AS BIGINT) AS n_truth,
         CAST((CASE WHEN s.scheme = 'prefix16' THEN t.co_prefix16 ELSE t.co_lenband64 END)
           * 1000000 // t.n_truth AS BIGINT) AS pc_ppm
       FROM s, truth t ORDER BY s.scheme"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q360_blocking_quality" -> q360BlockingQuality _,
    "q98_fuzzy_join" -> q98FuzzyJoin _,
    "q194_linkage_patterns" -> q194LinkagePatterns _,
    "q199_sorted_neighborhood" -> q199SortedNeighborhood _,
    "q224_block_overflow_report" -> q224BlockOverflowReport _)

  val oracles: Map[String, String] = Map(
    "q360_blocking_quality" -> q360Oracle,
    "q98_fuzzy_join" -> q98Oracle,
    "q194_linkage_patterns" -> q194Oracle,
    "q199_sorted_neighborhood" -> q199Oracle,
    "q224_block_overflow_report" -> q224Oracle)
}
