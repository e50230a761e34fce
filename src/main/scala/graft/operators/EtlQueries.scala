package graft.operators


import graft.core.Pin._
import graft.crypto.CryptoFunctions
import graft.functions.TextKeys._
import graft.sources.Tables

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Queries exercising the reference's own pipeline operators end-to-end
  * (SURVEY.md §2.1): column encryption, CSV scan + whole-file schema
  * inference, identifier sanitization.
  */
object EtlQueries {

  /** Fixed key (test-only) so the query plan is reproducible; byte values
    * 0..31 urlsafe-base64. Production path generates per-run keys
    * (graft.crypto.Fernet.generateKey).
    */
  val TestKey: String = "AAECAwQFBgcICQoLDA0ODxAREhMUFRYXGBkaGxwdHh8="
  /** Second deterministic key for the q192 rotation drill. */
  val TestKey2: String = "ICEiIyQlJicoKSorLC0uLzAxMjM0NTY3ODk6Ozw9Pj8="

  // ---------------------------------------------------------------- q26
  /** Encryption round-trip as a deterministic query: every customer name
    * must survive encrypt→decrypt intact (the property the reference cannot
    * test because it discards the key, SURVEY.md §0.2-4). Oracle: the
    * row-count of customer.
    */
  def q26EncryptRoundtrip(spark: SparkSession, d: String): DataFrame = {
    val enc = CryptoFunctions.encryptUdf(TestKey)
    val dec = CryptoFunctions.decryptUdf(TestKey)
    Tables.customer(spark, d)
      .filter(dec(enc(col("c_name"))) === col("c_name"))
      .agg(count(lit(1)).as("n_ok"))
  }

  val q26Oracle: String = "SELECT count(*) AS n_ok FROM customer"

  // ---------------------------------------------------------------- q27
  /** Column encryption at scale, CERTIFIED per row (tokens themselves are
    * nondeterministic — random IV — but every deterministic CLAIM about
    * them is oracle-checkable, the q26 pattern row-wise): the targeted
    * column's token must (a) carry the Fernet 0x80 version byte ("gA"
    * prefix in urlsafe-base64 until 2106), (b) differ from the plaintext,
    * and (c) decrypt back to the original under the key; the untargeted
    * c_mktsegment column must pass through untouched (emitted as a hard
    * value). Mirrors `encrypt_data` semantics incl. the warn+skip on a
    * missing target column (/root/reference/pipeline.py:76-84).
    */
  def q27EncryptTokens(spark: SparkSession, d: String): DataFrame = {
    val dec = CryptoFunctions.decryptUdf(TestKey)
    val base = Tables.customer(spark, d)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    CryptoFunctions.encryptColumns(
        base.withColumn("c_plain", col("c_name")),
        Seq("c_name", "not_a_column"), // missing column → warn+skip, reference parity
        TestKey)
      .select(col("c_custkey"), col("c_mktsegment"),
        (col("c_name").startsWith("gA") && col("c_name") =!= col("c_plain"))
          .as("token_ok"),
        (dec(col("c_name")) === col("c_plain")).as("roundtrip_ok"))
      .orderBy(col("c_custkey"))
  }

  val q27Oracle: String =
    """SELECT c_custkey, c_mktsegment, true AS token_ok, true AS roundtrip_ok
       FROM customer ORDER BY c_custkey"""

  // ---------------------------------------------------------------- q28
  /** CSV ingest round-trip: export nation to CSV, re-read with whole-file
    * schema inference (fixing the reference's per-chunk inference drift,
    * SURVEY.md §0.2-7), then aggregate. The oracle runs the same aggregate
    * on the original parquet — inference must reproduce the schema exactly
    * for the values to hash-match.
    */
  def q28CsvIngestRoundtrip(spark: SparkSession, d: String): DataFrame = {
    val tmp = graft.core.Scratch.dir("csv")
    Tables.nation(spark, d).coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(tmp)
    spark.read.option("header", "true").option("inferSchema", "true").csv(tmp)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"))
      .orderBy(col("n_regionkey"))
  }

  val q28Oracle: String =
    """SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
       FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""

  // ---------------------------------------------------------------- q29
  /** Identifier sanitization at scale: the reference's table-name rule
    * (strip extension, collapse non-alphanumerics, strip leading '_';
    * /root/reference/pipeline.py:103-107) applied as a column expression.
    * Built-ins only — regexp_replace chain, no UDF — so it stays codegen'd;
    * Utils.sanitizeTableName is the scalar twin (asserted equal in tests).
    */
  def q29Sanitize(spark: SparkSession, d: String): DataFrame =
    Tables.part(spark, d)
      .select(
        col("p_partkey"),
        regexp_replace(
          regexp_replace(
            regexp_replace(concat(col("p_name"), lit(".csv")), "\\.[^.]+$", ""),
            "[^A-Za-z0-9]+", "_"),
          "^_+", "").as("table_name"))
      .orderBy(col("p_partkey"))

  val q29Oracle: String =
    """SELECT p_partkey,
       regexp_replace(regexp_replace(regexp_replace(p_name || '.csv', '\.[^.]+$', ''), '[^A-Za-z0-9]+', '_', 'g'), '^_+', '') AS table_name
       FROM part ORDER BY p_partkey"""

  // ---------------------------------------------------------------- q74
  /** JSONL sink → source round-trip (the interchange format of LLM corpora):
    * project a compact record, write JSON lines, re-read with schema
    * inference, aggregate. The oracle runs the same aggregate on the
    * original parquet — values must survive the text round-trip exactly
    * (longs and strings only; doubles would reopen float-repr questions).
    */
  def q74JsonlRoundtrip(spark: SparkSession, d: String): DataFrame = {
    // one stable scratch dir per query key (overwrite-mode write replaces it
    // on reuse; one process-wide shutdown hook reclaims all scratch dirs)
    val tmp = graft.core.Scratch.dir("jsonl")
    Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("source"),
        size(words(col("text"))).cast("long").as("n_tokens"))
      .write.mode("overwrite").json(tmp)
    spark.read.json(tmp)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("min_doc_id"))
      .orderBy(col("lang"))
  }

  val q74Oracle: String =
    """SELECT lang, count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       min(doc_id) AS min_doc_id
       FROM documents GROUP BY lang ORDER BY lang"""

  // ---------------------------------------------------------------- q82
  /** ORC sink → source round-trip: the second columnar format the engine
    * speaks natively (a warehouse migration path — ORC warehouses exist in
    * numbers). Values must survive the cross-format trip exactly; the
    * oracle aggregates the parquet original.
    */
  def q82OrcRoundtrip(spark: SparkSession, d: String): DataFrame = {
    val tmp = graft.core.Scratch.dir("orc")
    Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").orc(tmp)
    spark.read.orc(tmp)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        graft.core.Exact.dsum(col("o_totalprice")).as("total_price"),
        min(col("o_orderkey")).as("min_key"))
      .orderBy(col("o_orderstatus"))
  }

  val q82Oracle: String =
    """SELECT o_orderstatus, count(*) AS n,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_price,
       min(o_orderkey) AS min_key
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  // ---------------------------------------------------------------- q75
  /** MERGE upsert: a deterministic updates set (every 97th order repriced,
    * plus brand-new synthetic orders) merged into orders via
    * Warehouse.mergeUpsert (anti-join + union), then summarized per status.
    * Oracle replays the same merge in ANSI SQL.
    */
  def q75MergeUpsert(spark: SparkSession, d: String): DataFrame = {
    val target = Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val repriced = target.filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") + lit(1000.0)).as("o_totalprice"))
    // fresh keys in the negative range: disjoint from real orderkeys (always
    // positive) at EVERY scale factor — a fixed positive offset would
    // collide with organic keys once SF grows past the offset
    val fresh = target.filter(col("o_orderkey") % 103 === 0)
      .select((-col("o_orderkey") - 1).as("o_orderkey"),
        lit("N").as("o_orderstatus"), lit(1.0).as("o_totalprice"))
    graft.etl.Warehouse.mergeUpsert(target, repriced.unionByName(fresh), Seq("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(25, 6)))
          .cast("double").as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  val q75Oracle: String =
    """WITH target AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
       updates AS (
         SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
         FROM target WHERE o_orderkey % 97 = 0
         UNION ALL
         SELECT -o_orderkey - 1, 'N', 1.0 FROM target WHERE o_orderkey % 103 = 0),
       merged AS (
         SELECT * FROM target WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
         UNION ALL
         SELECT * FROM updates)
       SELECT o_orderstatus, count(*) AS n,
              CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_price
       FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  // ---------------------------------------------------------------- q93
  /** XML sink → source round-trip via Spark 4's built-in XML data source
    * (the enterprise-interchange sibling of q74's JSONL and q82's ORC):
    * project longs/strings only (XML has no binary float contract), write
    * with a rowTag, re-read with schema inference, aggregate. Values must
    * survive the markup round-trip exactly; the oracle aggregates the
    * parquet original.
    */
  def q93XmlRoundtrip(spark: SparkSession, d: String): DataFrame = {
    val tmp = graft.core.Scratch.dir("xml")
    // every-7th-order subset: XML markup costs ~10× parquet per row, and the
    // source is fully exercised regardless of volume — the full-corpus
    // membership question belongs to the cheap columnar round-trips (q74/q82)
    Tables.orders(spark, d)
      .filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      .write.mode("overwrite").option("rowTag", "order").format("xml").save(tmp)
    spark.read.option("rowTag", "order").format("xml").load(tmp)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderpriority")).as("max_priority"))
      .orderBy(col("o_orderstatus"))
  }

  val q93Oracle: String =
    """SELECT o_orderstatus, count(*) AS n, min(o_orderkey) AS min_key,
       max(o_orderpriority) AS max_priority
       FROM orders WHERE o_orderkey % 7 = 0
       GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  // ---------------------------------------------------------------- q96
  /** JDBC sink → source round-trip against an EMBEDDED Derby database —
    * the closest JVM analogue of the reference's SQLite staging layer
    * (/root/reference/pipeline.py:205-240), driven through Spark's real
    * JDBC read/write path (DerbyDialect: type mapping, identifier
    * quoting). The read side filters, and Spark pushes the predicate into
    * the JDBC query. Values must survive the SQL-type round-trip exactly;
    * the oracle aggregates the parquet original.
    */
  def q96JdbcRoundtrip(spark: SparkSession, d: String): DataFrame = {
    val home = graft.core.Scratch.dir("derby")
    // Derby writes derby.log to derby.system.home — keep it in scratch
    System.setProperty("derby.system.home", home)
    val url = s"jdbc:derby:$home/graftdb;create=true"
    val opts = Map(
      "url" -> url,
      "driver" -> "org.apache.derby.jdbc.EmbeddedDriver",
      "dbtable" -> "nation_stage")
    Tables.nation(spark, d)
      .write.mode("overwrite").format("jdbc").options(opts).save()
    spark.read.format("jdbc").options(opts).load()
      .filter(col("n_regionkey") < 3) // pushed into the JDBC query
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_name"),
        max(col("n_nationkey")).as("max_key"))
      .orderBy(col("n_regionkey"))
  }

  val q96Oracle: String =
    """SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name,
       max(n_nationkey) AS max_key
       FROM nation WHERE n_regionkey < 3
       GROUP BY n_regionkey ORDER BY n_regionkey"""

  // ---------------------------------------------------------------- q146
  /** PARTITIONED parallel JDBC read — the scale lever q96's single-stream
    * read lacks: `partitionColumn`/`lowerBound`/`upperBound`/
    * `numPartitions` split the source query into N range predicates that N
    * tasks fetch CONCURRENTLY, which is the difference between draining a
    * warehouse-sized staging table through one connection and through the
    * cluster. The partition count is asserted in `Round5Spec` (4 scan
    * tasks, stride-ranged), and correctness is range-split-invariant: the
    * aggregate must equal the parquet original regardless of how rows were
    * striped across connections.
    */
  def q146JdbcPartitioned(spark: SparkSession, d: String): DataFrame = {
    val home = graft.core.Scratch.dir("derby_part")
    System.setProperty("derby.system.home", home)
    val url = s"jdbc:derby:$home/graftdb;create=true"
    val base = Map(
      "url" -> url,
      "driver" -> "org.apache.derby.jdbc.EmbeddedDriver",
      "dbtable" -> "orders_stage")
    graft.etl.StageMetrics.timedWrite {
      Tables.orders(spark, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        // batchsize bands the staging INSERTs (Spark's default 1000 makes
        // the embedded-Derby write the dominant cost as rows grow 10×);
        // the write is metered into StageMetrics so Bench attributes the
        // external engine's share in the measurement itself. Measured
        // non-win: 4 writer connections grew the write 13% at sf0.1 —
        // embedded Derby's page latching serializes concurrent inserts.
        .write.mode("overwrite").format("jdbc")
        .options(base + ("batchsize" -> "10000")).save()
    }
    jdbcPartitionedRead(spark, base)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        graft.core.Exact.dsum(col("o_totalprice")).as("total_price"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderpriority"))
  }

  /** The parallel read itself (shared with the partition-count test).
    *
    * Bounds are derived from the LIVE key range (one scalar MIN/MAX probe
    * pushed to the source engine) rather than hardcoded — round-13 close
    * of the q146 scale outlier: Spark's first/last range predicates are
    * open-ended, so static bounds stay CORRECT as the table grows but
    * silently stripe every row beyond them into the last partition; the
    * sf1 replica's shifted keys drained 90% of the table through one
    * connection that way (13.2× growth at 10× data). Deriving bounds is
    * what a production range-partitioned JDBC drain does before every
    * run; the probe costs one 1-row aggregate. `fetchsize` bands the
    * per-round-trip row count (Derby's default row-at-a-time cursor
    * chatter dominates a 10×-taller drain otherwise).
    */
  def jdbcPartitionedRead(spark: SparkSession, base: Map[String, String]): DataFrame = {
    // Probe connection built from the FULL JDBC option map (driver/user/
    // password/etc. as java.sql properties), not the bare URL — a probe
    // that drops credentials would fail against any authenticated source
    // even though the partitioned read itself would have connected fine.
    val bounds = {
      val props = new java.util.Properties()
      base.foreach { case (k, v) =>
        if (k != "url" && k != "dbtable") props.setProperty(k, v)
      }
      val conn = java.sql.DriverManager.getConnection(base("url"), props)
      try {
        // Spark's JDBC writer quotes column names, so Derby stores them
        // case-sensitively lowercase — the probe must quote them too
        val rs = conn.createStatement().executeQuery(
          s"""SELECT MIN("o_orderkey"), MAX("o_orderkey") FROM ${base("dbtable")}""")
        rs.next()
        val lo = rs.getLong(1)
        // SQL MIN/MAX over an EMPTY table is NULL and getLong reports it
        // as 0 — only rs.wasNull distinguishes "empty" from "min key 0".
        // An empty stage gets a trivial single-partition read instead of
        // four range predicates over a fabricated [0, 1) key space.
        if (rs.wasNull()) None else Some((lo, rs.getLong(2)))
      } finally conn.close()
    }
    bounds match {
      case None => spark.read.format("jdbc").options(base).load()
      case Some((lo, hi)) =>
        spark.read.format("jdbc")
          .options(base ++ Map(
            "partitionColumn" -> "o_orderkey",
            "lowerBound" -> lo.toString,
            "upperBound" -> (hi + 1L).toString, // upperBound is exclusive
            "numPartitions" -> "4",
            "fetchsize" -> "10000"))
          .load()
    }
  }

  val q146Oracle: String =
    """SELECT o_orderpriority, count(*) AS n,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_price,
       max(o_orderkey) AS max_key
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // ---------------------------------------------------------------- q147
  /** Bucket PRUNING — the read-side half of q101's bucketed layout: an
    * equality filter on the bucket column hashes the literal to its bucket
    * and reads 1/N of the files (`SelectedBucketsCount: 1 out of 8`,
    * asserted in Round5Spec). Bucketing thus pays off twice: exchange-free
    * joins at write cost (q101) and point-lookup scans that skip 7/8 of
    * the data with no index. Subtlety pinned by the test: a bare
    * filter-only scan gets bucketed reading planner-DISABLED
    * (autoBucketedScan demotes it when no exchange is avoided); grouping
    * on the bucket column — this query's shape — keeps the bucketed scan
    * and with it the pruning. The oracle replays the predicate over the
    * parquet original.
    */
  def q147BucketPruning(spark: SparkSession, d: String): DataFrame = {
    val t = "graft_q147_orders"
    graft.etl.Warehouse.dropManagedTable(spark, t)
    Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(t)
    bucketPointLookup(spark, t, 7L)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"),
        graft.core.Exact.dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_custkey"))
  }

  /** The pruned scan itself (shared with the SelectedBucketsCount test). */
  def bucketPointLookup(spark: SparkSession, table: String, key: Long): DataFrame =
    spark.table(table).filter(col("o_custkey") === key)

  val q147Oracle: String =
    """SELECT o_custkey, count(*) AS n,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_price
       FROM orders WHERE o_custkey = 7
       GROUP BY o_custkey ORDER BY o_custkey"""

  // ---------------------------------------------------------------- q148
  /** CDC APPLY — the consumer side of q102's snapshot diff: a Debezium-
    * style change feed (op ∈ I/U/D with the new row image) applied to the
    * snapshot in ONE full-outer join on the key: unmatched snapshot rows
    * pass through, U rows take the feed image, D rows drop, I rows append.
    * Shuffles |snapshot|+|delta| once — the merge a row-level table format
    * runs inside MERGE INTO, spelled out. The feed here is a deterministic
    * function of the snapshot (keys ÷7 delete, ÷5 update, ÷11 spawn an
    * insert under key+10⁷) so the applied table has a closed-form oracle.
    */
  def q148CdcApply(spark: SparkSession, d: String): DataFrame = {
    val snap = Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    // the D/U/I feed is ONE scan: each order explodes into the change rows
    // it plants (three filtered union branches would re-scan orders per
    // change type — the q150 fork class)
    val feed = snap
      .select(explode(array(
        when(col("o_orderkey") % 7 === 0, struct(
          col("o_orderkey"), lit("D").as("op"),
          lit(null).cast("string").as("new_status"),
          lit(null).cast("double").as("new_price"))),
        when(col("o_orderkey") % 7 =!= 0 && col("o_orderkey") % 5 === 0, struct(
          col("o_orderkey"), lit("U").as("op"),
          col("o_orderstatus").as("new_status"),
          (col("o_totalprice") + 10.0d).as("new_price"))),
        when(col("o_orderkey") % 11 === 0, struct(
          (col("o_orderkey") + 10000000L).as("o_orderkey"), lit("I").as("op"),
          lit("N").as("new_status"), col("o_totalprice").as("new_price"))))).as("__c"))
      .filter(col("__c").isNotNull)
      .select(col("__c.*"))
    val applied = snap.join(feed, Seq("o_orderkey"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("o_orderkey"),
        when(col("op").isNotNull, col("new_status")).otherwise(col("o_orderstatus")).as("status"),
        when(col("op").isNotNull, col("new_price")).otherwise(col("o_totalprice")).as("price"))
    applied.groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        graft.core.Exact.dsum(col("price")).as("total_price"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("status"))
  }

  val q148Oracle: String =
    """WITH applied AS (
         SELECT o_orderkey, o_orderstatus AS status,
           CASE WHEN o_orderkey % 7 <> 0 AND o_orderkey % 5 = 0
                THEN o_totalprice + 10.0 ELSE o_totalprice END AS price
         FROM orders WHERE o_orderkey % 7 <> 0
         UNION ALL
         SELECT o_orderkey + 10000000 AS o_orderkey, 'N' AS status,
                o_totalprice AS price
         FROM orders WHERE o_orderkey % 11 = 0)
       SELECT status, count(*) AS n,
         CAST(CAST(sum(CAST(price AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_price,
         max(o_orderkey) AS max_key
       FROM applied GROUP BY status ORDER BY status"""

  // ---------------------------------------------------------------- q149
  /** Parquet AGGREGATE pushdown: COUNT/MIN/MAX answered from row-group
    * footer statistics — the scan never decodes a data page (the
    * `PushedAggregation` plan marker, asserted in Round5Spec). At 100 TB
    * this turns "count the fact table" from a full scan into a metadata
    * read. Requires the DSv2 parquet path and no residual filter, so both
    * confs are scoped set→materialize→restore (the q128/q130 pattern);
    * the result is staged to scratch inside the scope because plan
    * optimization is lazy.
    */
  def q149ParquetAggPushdown(spark: SparkSession, d: String): DataFrame = {
    val out = graft.core.Scratch.dir("agg_pushdown_out")
    val aggKey = "spark.sql.parquet.aggregatePushdown"
    val v1Key = "spark.sql.sources.useV1SourceList"
    val prevAgg = spark.conf.get(aggKey)
    val prevV1 = spark.conf.get(v1Key)
    spark.conf.set(aggKey, "true")
    spark.conf.set(v1Key, "")
    try {
      spark.read.parquet(s"$d/lineitem.parquet")
        .agg(count(lit(1)).as("n"),
          min(col("l_orderkey")).as("min_key"), max(col("l_orderkey")).as("max_key"),
          min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"))
        .write.mode("overwrite").parquet(out)
    } finally {
      spark.conf.set(aggKey, prevAgg)
      spark.conf.set(v1Key, prevV1)
    }
    spark.read.parquet(out)
  }

  val q149Oracle: String =
    """SELECT count(*) AS n, min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
       FROM lineitem"""

  // ---------------------------------------------------------------- q88
  /** The reference's SQL-statement surface end-to-end under the driver:
    * stage orders as a managed table, push a DELETE + an UPDATE (and one
    * non-whitelisted statement that must be silently dropped —
    * `filter_sql_commands` parity, /root/reference/pipeline.py:110-114)
    * through `Warehouse.runStatements`, then aggregate the surviving rows.
    * The oracle replays delete-then-update in ANSI SQL.
    */
  def q88SqlDeleteUpdate(spark: SparkSession, d: String): DataFrame = {
    val table = "graft_q88_orders"
    graft.etl.Warehouse.dropManagedTable(spark, table)
    Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").saveAsTable(table)
    graft.etl.Warehouse.runStatements(spark, Seq(
      s"DELETE FROM $table WHERE o_totalprice < 50000.0",
      s"UPDATE $table SET o_totalprice = o_totalprice + 10000.0 WHERE o_orderstatus = 'F'",
      s"GRANT SELECT ON $table TO analyst")) // not whitelisted → dropped
    spark.table(table)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        graft.core.Exact.dsum(col("o_totalprice")).as("total_price"),
        min(col("o_orderkey")).as("min_key"))
      .orderBy(col("o_orderstatus"))
  }

  val q88Oracle: String =
    """WITH t AS (
         SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         WHERE NOT (o_totalprice < 50000.0)),
       u AS (
         SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 10000.0
                ELSE o_totalprice END AS o_totalprice
         FROM t)
       SELECT o_orderstatus, count(*) AS n,
         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_price,
         min(o_orderkey) AS min_key
       FROM u GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  // ---------------------------------------------------------------- q421
  /** SCHEMA EVOLUTION end-to-end through the statement surface — the one
    * whitelisted DDL verb (reference pipeline.py:112 admits ALTER) that
    * q88's DELETE/UPDATE pass never exercised, and the path every
    * long-lived warehouse hits: stage customers as a managed table,
    * `ALTER TABLE ... ADD COLUMNS` (native v1 path — pre-evolution rows
    * read NULL for the new column), `ALTER TABLE ... RENAME COLUMN`
    * (routed through the documented rewrite shim — the command is
    * v2-only in Spark SQL, see Warehouse.renameColumn), append
    * post-evolution rows that POPULATE the new column (saveAsTable
    * append resolves by NAME, so the evolved schema binds correctly),
    * then read the mixed generations back in one aggregate. The oracle
    * replays both generations in ANSI SQL.
    */
  def q421AlterEvolution(spark: SparkSession, d: String): DataFrame = {
    val table = "graft_q421_customer"
    graft.etl.Warehouse.dropManagedTable(spark, table)
    Tables.customer(spark, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .write.mode("overwrite").saveAsTable(table)
    graft.etl.Warehouse.runStatements(spark, Seq(
      s"ALTER TABLE $table ADD COLUMNS (loyalty_tier STRING)",
      s"ALTER TABLE $table RENAME COLUMN c_mktsegment TO segment"))
    Tables.customer(spark, d)
      .filter(col("c_acctbal") > 9000.0)
      .select((col("c_custkey") + lit(10000000L)).as("c_custkey"),
        col("c_mktsegment").as("segment"), col("c_acctbal"),
        lit("gold").as("loyalty_tier"))
      .write.mode("append").saveAsTable(table)
    spark.table(table)
      .groupBy(col("segment"), expr("coalesce(loyalty_tier, 'none')").as("tier"))
      .agg(count(lit(1)).as("n"),
        expr("cast(sum(cast(round(c_acctbal * 100) as decimal(38,0))) as bigint)").as("bal_cents"),
        min(col("c_custkey")).as("min_key"),
        max(col("c_custkey")).as("max_key"))
      .orderBy(col("segment"), col("tier"))
  }

  val q421Oracle: String =
    """WITH base AS (SELECT c_custkey, c_mktsegment AS segment, c_acctbal,
             CAST(NULL AS VARCHAR) AS loyalty_tier FROM customer),
       app AS (SELECT c_custkey + 10000000 AS c_custkey,
             c_mktsegment AS segment, c_acctbal, 'gold' AS loyalty_tier
           FROM customer WHERE c_acctbal > 9000.0),
       t AS (SELECT * FROM base UNION ALL SELECT * FROM app)
       SELECT segment, COALESCE(loyalty_tier, 'none') AS tier,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(c_acctbal * 100) AS HUGEINT)) AS BIGINT) AS bal_cents,
         min(c_custkey) AS min_key, max(c_custkey) AS max_key
       FROM t GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---------------------------------------------------------------- q89
  /** Schema-drift detection as a query: an expected contract (expressed in
    * source-dialect type names via TypeMapping.schemaFromSource) diffed
    * against the live orders schema. Three drift kinds exercised: a column
    * the contract doesn't know (added), a contract column gone from the
    * data (removed), and a type change. Fully deterministic → exact
    * VALUES oracle.
    */
  def q89SchemaDrift(spark: SparkSession, d: String): DataFrame = {
    import graft.core.TypeMapping
    val expected = TypeMapping.schemaFromSource(Seq(
      "o_orderkey" -> "BIGINT",
      "o_custkey" -> "BIGINT",
      "o_orderstatus" -> "TEXT",
      "o_totalprice" -> "FLOAT",      // stale: the live column is double
      "o_retired_flag" -> "BOOLEAN")) // removed from the live data
    val observed = Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"))
      .schema
    import spark.implicits._
    TypeMapping.schemaDrift(expected, observed).map {
      case TypeMapping.ColumnAdded(c, nt)      => (c, "added", null: String, nt)
      case TypeMapping.ColumnRemoved(c, ot)    => (c, "removed", ot, null: String)
      case TypeMapping.TypeChanged(c, ot, nt)  => (c, "type_changed", ot, nt)
    }.toDF("col_name", "kind", "old_type", "new_type")
      .orderBy(col("col_name"))
  }

  val q89Oracle: String =
    """SELECT col_name, kind, old_type, new_type FROM (VALUES
         ('o_orderdate', 'added', CAST(NULL AS VARCHAR), 'timestamp'),
         ('o_retired_flag', 'removed', 'boolean', CAST(NULL AS VARCHAR)),
         ('o_totalprice', 'type_changed', 'float', 'double'))
       AS t(col_name, kind, old_type, new_type) ORDER BY col_name"""

  // ---------------------------------------------------------------- q100
  /** Hive-style partitioned layout end-to-end: write orders partitioned by
    * `o_orderpriority`, read back filtering on the partition column, and
    * aggregate. At 100 TB this is THE data-layout lever: the filter resolves
    * against directory metadata (PartitionFilters in the scan node —
    * asserted in PlanSpec), so 3 of 5 partitions are never opened, let
    * alone scanned. The oracle replays the filter+aggregate on the
    * unpartitioned original.
    */
  def q100PartitionedPruning(spark: SparkSession, d: String): DataFrame = {
    val tmp = graft.core.Scratch.dir("partitioned")
    Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(tmp)
    spark.read.parquet(tmp)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        graft.core.Exact.dsum(col("o_totalprice")).as("total_price"),
        min(col("o_orderkey")).as("min_key"))
      .orderBy(col("o_orderpriority"))
  }

  val q100Oracle: String =
    """SELECT o_orderpriority, count(*) AS n,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_price,
       min(o_orderkey) AS min_key
       FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
       GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // ---------------------------------------------------------------- q101
  /** Bucketed co-located join: both sides are written `bucketBy` on the
    * join key, so the sort-merge join reads pre-hashed files and needs NO
    * shuffle exchange on either side (asserted in PlanSpec). This is the
    * 100 TB repeated-join story: pay the partitioning once at write time,
    * then every subsequent join on that key is exchange-free. The merge
    * hint pins SMJ so the plan exercises bucketing rather than broadcasting
    * the small test-scale side.
    */
  def q101BucketedJoin(spark: SparkSession, d: String): DataFrame = {
    val ordersT = "graft_q101_orders"
    val custT = "graft_q101_customer"
    graft.etl.Warehouse.dropManagedTable(spark, ordersT)
    graft.etl.Warehouse.dropManagedTable(spark, custT)
    Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(ordersT)
    Tables.customer(spark, d)
      .select(col("c_custkey"), col("c_mktsegment"))
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(custT)
    spark.table(ordersT).hint("merge")
      .join(spark.table(custT), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        graft.core.Exact.dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("c_mktsegment"))
  }

  val q101Oracle: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_price
       FROM orders JOIN customer ON o_custkey = c_custkey
       GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  // ---------------------------------------------------------------- q212
  /** Bucketed ZERO-EXCHANGE aggregation — the aggregation twin of q101's
    * bucketed join: a table bucketed by the groupBy key already satisfies
    * the aggregate's clustering requirement, so the repeated daily rollup
    * runs with NO shuffle at all — the exchange was paid once at write
    * time, then amortized over every aggregation that follows. PlanSpec
    * asserts zero hash-partitioning exchanges in the plan; the TakeOrdered
    * top-k needs none either. This is the bucketing lever's second
    * dividend, and at 100 TB it is the difference between a rollup that
    * moves the corpus and one that only reads it.
    */
  def q212BucketedAgg(spark: SparkSession, d: String): DataFrame = {
    // the bucketed layout is built ONCE per (session, source dir) and
    // reused — the exchange is paid at write time and amortized across
    // every later invocation (warm bench runs included), which is the
    // actual bucketing contract at 100 TB. The dir digest in the name keeps
    // different scale factors from reading each other's layout; md5 (not
    // 32-bit hashCode) so two dirs can't collide into a stale layout.
    // Regenerating the data under the SAME dir within one session still
    // requires dropping the cached table — the layout is keyed on path.
    val t = s"graft_q212_lineitem_${graft.core.Utils.pathDigest(d)}"
    if (!spark.catalog.tableExists(t)) {
      // a previous JVM may have left the managed location behind while the
      // (in-memory) catalog forgot the table — clear it before the write
      graft.etl.Warehouse.dropManagedTable(spark, t)
      Tables.lineitem(spark, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(t)
    }
    spark.table(t)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        expr("cast(sum(cast(round(l_quantity) as bigint)) as bigint)").as("total_qty"))
      .orderBy(col("n_items").desc, col("l_orderkey"))
      .limit(10)
  }

  val q212Oracle: String =
    """SELECT l_orderkey, count(*) AS n_items,
       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
       FROM lineitem GROUP BY 1
       ORDER BY n_items DESC, l_orderkey LIMIT 10"""

  // ---------------------------------------------------------------- q111
  /** Z-order (Morton) interleave of two bounded dimension keys — the
    * multi-dimensional cousin of q100's single-column partitioning: rows
    * close in BOTH dimensions get close z-values, so a range-partitioned,
    * z-sorted layout gives every per-file min/max footer a tight range in
    * both columns at once and a scan filtered on EITHER dimension skips
    * most files. Pure codegen'd bit math, no UDF: round 10 replaced the
    * per-row `aggregate(sequence(0, bits-1), …)` fold (which allocates a
    * 16-element array PER ROW — measured 8.5 µs/row single-task on q335)
    * with the classic mask-shift bit spread (the "Interleave bits by
    * Binary Magic Numbers" trick): 4 shift-or-mask steps per key, plain
    * integer arithmetic whole-stage codegen compiles to straight-line
    * longs. Output is bit-identical to the fold for any input < 2¹⁶, so
    * the generate_series oracles replay it unchanged. `LayoutSpec`
    * asserts the physical layout claim (disjoint per-partition z-ranges
    * under RangePartitioning).
    */
  def zValue(xCol: String, yCol: String, bits: Int): org.apache.spark.sql.Column = {
    require(bits <= 16, s"zValue interleaves at most 16 bits per key, got $bits")
    def spread(raw: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      // truncate to the declared key width first — restores the old fold's
      // contract for out-of-domain inputs (the fold interleaved only the
      // low `bits` bits; without this mask, bits 16..23 of a wide input
      // would survive the 0x00FF00FF step and corrupt the z-value)
      val c = raw.cast("long").bitwiseAND(lit((1L << bits) - 1L))
      val x1 = (c.bitwiseOR(shiftleft(c, 8)))
        .bitwiseAND(lit(0x00FF00FFL))
      val x2 = (x1.bitwiseOR(shiftleft(x1, 4))).bitwiseAND(lit(0x0F0F0F0FL))
      val x3 = (x2.bitwiseOR(shiftleft(x2, 2))).bitwiseAND(lit(0x33333333L))
      (x3.bitwiseOR(shiftleft(x3, 1))).bitwiseAND(lit(0x55555555L))
    }
    spread(col(xCol)).bitwiseOR(shiftleft(spread(col(yCol)), 1))
  }

  /** df + z column, range-partitioned and sorted by z — the write-side
    * layout op (at 100 TB, follow with a partitioned/bucketed write; the
    * z-sort is what makes the parquet min/max footers selective).
    */
  def zOrderLayout(df: org.apache.spark.sql.DataFrame, xCol: String, yCol: String,
                   bits: Int, partitions: Int): org.apache.spark.sql.DataFrame =
    df.withColumn("z", zValue(xCol, yCol, bits))
      .repartitionByRange(partitions, col("z"))
      .sortWithinPartitions(col("z"))

  /** Z-order layout driven end-to-end on orders keyed by (custkey, orderkey
    * mod 1024): emit per-quadrant (top 2 z bits) row counts and z extents.
    * The interleave is deterministic bit math → full DuckDB oracle
    * replaying it with generate_series.
    */
  def q111ZorderLayout(spark: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(spark, d)
      .select((col("o_custkey") % 1024).as("zx"), (col("o_orderkey") % 1024).as("zy"))
    zOrderLayout(base, "zx", "zy", bits = 10, partitions = 8)
      .groupBy(expr("z >> 18").as("quadrant"))
      .agg(count(lit(1)).as("n"), min(col("z")).as("zmin"), max(col("z")).as("zmax"))
      .orderBy(col("quadrant"))
  }

  val q111Oracle: String =
    """WITH b AS (SELECT o_custkey % 1024 AS x, o_orderkey % 1024 AS y FROM orders),
       z AS (SELECT (SELECT CAST(sum((((x >> i) & 1) << (2*i)) + (((y >> i) & 1) << (2*i+1))) AS BIGINT)
                     FROM generate_series(0, 9) t(i)) AS z
             FROM b)
       SELECT z >> 18 AS quadrant, count(*) AS n, min(z) AS zmin, max(z) AS zmax
       FROM z GROUP BY quadrant ORDER BY quadrant"""

  // ---------------------------------------------------------------- q115
  /** Small-file compaction — the table-maintenance op every long-lived
    * 100 TB dataset needs (streaming ingest and per-partition writers leave
    * thousands of KB-scale files; each costs a task + an open + a footer
    * read on every scan). Driven end-to-end: explode the documents table
    * into 50-row files (`maxRecordsPerFile` on a single writer task, so the
    * file count is exactly ⌈n/50⌉ — deterministic), compact by rewriting at
    * full file size, and emit before/after file counts (observed via
    * `input_file_name()`, i.e. what a scan actually touches) plus the row
    * count, which compaction must preserve. At scale the rewrite targets a
    * size budget via `repartitionByRange` over the sort key instead of a
    * single task; the invariants certified here (rows preserved, file count
    * collapses to the write-parallelism) are the same.
    */
  def q115Compaction(spark: SparkSession, d: String): DataFrame = {
    val small = graft.core.Scratch.dir("compact_small")
    val compacted = graft.core.Scratch.dir("compact_out")
    Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("text"))
      .repartition(1)
      .write.mode("overwrite").option("maxRecordsPerFile", 50).parquet(small)
    spark.read.parquet(small)
      .repartition(1)
      .write.mode("overwrite").parquet(compacted)
    val before = spark.read.parquet(small)
      .select(input_file_name().as("f"))
      .agg(countDistinct(col("f")).as("n_files_small"))
    val after = spark.read.parquet(compacted)
      .select(input_file_name().as("f"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("f")).as("n_files_compacted"))
    after.crossJoin(before) // two 1-row aggregates
      .select(col("n_rows"), col("n_files_small"), col("n_files_compacted"))
  }

  val q115Oracle: String =
    """SELECT count(*) AS n_rows,
       CAST(ceil(count(*) / 50.0) AS BIGINT) AS n_files_small,
       CAST(1 AS BIGINT) AS n_files_compacted
       FROM documents"""

  // ---------------------------------------------------------------- q116
  /** Crypto-shredding (GDPR delete by key destruction): every subject's
    * data is encrypted under a per-subject key from a small key table;
    * "delete user X" destroys X's key ROW — all of X's tokens across the
    * whole corpus become permanently undecryptable without rewriting a
    * byte of the 100 TB store. Driven end-to-end: derive per-user keys,
    * encrypt each user's events under their key (key table broadcast),
    * shred keys for users ≡ 0 (mod 7), then decrypt with the post-shred
    * table (left join ⇒ null key ⇒ null plaintext). Per-user readable
    * counts are deterministic → full DuckDB oracle.
    */
  def q116CryptoShred(spark: SparkSession, d: String): DataFrame = {
    val crypto = graft.crypto.CryptoFunctions
    val events = Tables.events(spark, d)
      .select(col("user_id"), col("event_id"), col("event_type"))
    val deriveKey = udf((uid: Long) => graft.crypto.Fernet.deriveKey(s"graft-u$uid"))
    val keys = events.select(col("user_id")).distinct()
      .withColumn("ukey", deriveKey(col("user_id")))
    val enc = events.join(broadcast(keys), "user_id")
      .withColumn("token", crypto.encryptWithKeyUdf(col("ukey"), col("event_type")))
      .drop("ukey")
    val postShred = keys.filter(col("user_id") % 7 =!= 0)
    enc.join(broadcast(postShred), Seq("user_id"), "left")
      .withColumn("plain", crypto.decryptWithKeyUdf(col("ukey"), col("token")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        count_if(col("plain") === col("event_type")).as("n_readable"))
      .select(col("user_id"), col("n_events"), col("n_readable"),
        (col("user_id") % 7 === 0).as("shredded"))
      .orderBy(col("user_id"))
  }

  val q116Oracle: String =
    """SELECT user_id, count(*) AS n_events,
       CAST(CASE WHEN user_id % 7 = 0 THEN 0 ELSE count(*) END AS BIGINT) AS n_readable,
       user_id % 7 = 0 AS shredded
       FROM events GROUP BY user_id ORDER BY user_id"""

  // ---------------------------------------------------------------- q117
  /** Parquet schema evolution via mergeSchema: half the corpus written at
    * schema v1 (doc_id, lang), half at v2 (+ n_chars); a merged read must
    * union the schemas and null-fill the missing column — the
    * landing-zone reality of any long-lived dataset (writers upgrade at
    * different times). Counts are deterministic → full oracle. At 100 TB
    * mergeSchema's footer-union cost is why production tables pin the
    * contract in a metastore (q89's drift check is the gate); the READ
    * semantics certified here are the same.
    */
  def q117SchemaMerge(spark: SparkSession, d: String): DataFrame = {
    val dir = graft.core.Scratch.dir("schema_merge")
    val docs = Tables.documents(spark, d)
    docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("lang"))
      .write.mode("overwrite").parquet(s"$dir/v1")
    docs.filter(col("doc_id") % 2 =!= 0).select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/v2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")
    merged.agg(
      count(lit(1)).as("n_rows"),
      lit(merged.columns.length.toLong).as("n_cols"),
      count_if(col("n_chars").isNull).as("n_chars_missing"),
      count_if(col("n_chars").isNotNull).as("n_chars_present"))
  }

  val q117Oracle: String =
    """SELECT count(*) AS n_rows, CAST(3 AS BIGINT) AS n_cols,
       CAST(count_if(doc_id % 2 = 0) AS BIGINT) AS n_chars_missing,
       CAST(count_if(doc_id % 2 <> 0) AS BIGINT) AS n_chars_present
       FROM documents"""

  // ---------------------------------------------------------------- q127
  /** Corrupt-record handling on CSV ingest — the landing-zone reality the
    * reference's chunked pandas reader silently mangles (bad rows shift
    * dtypes per chunk, SURVEY §0.2-7): typed read in PERMISSIVE mode keeps
    * malformed rows with nulls + the raw line in `_corrupt_record` (triage
    * stays queryable), DROPMALFORMED read yields exactly the clean subset.
    * Planted malformed lines (non-integer keys) make every count
    * deterministic → full oracle. At 100 TB the PERMISSIVE pass is the
    * right default: one scan classifies good/bad instead of failing the
    * job on row 10⁹.
    */
  def q127CorruptRecords(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dir = graft.core.Scratch.dir("corrupt_csv")
    val good = Tables.nation(spark, d)
      .select(concat_ws(",", col("n_nationkey"), col("n_name"), col("n_regionkey")).as("value"))
    val bad = spark.createDataset(Seq(
      "oops,BADROW1,notanint", "x,BADROW2,y", "12.5,BADROW3,zz"))(
      org.apache.spark.sql.Encoders.STRING).toDF("value")
    good.unionByName(bad).coalesce(1).write.mode("overwrite").text(dir)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType), StructField("_corrupt_record", StringType)))
    // Spark refuses to FILTER on _corrupt_record straight off raw CSV
    // (QUERY_ONLY_CORRUPT_RECORD_COLUMN); materialize the parsed rows first
    // — which is what a landing-zone triage does anyway (park the classified
    // batch, then route good/bad downstream).
    val parsedDir = graft.core.Scratch.dir("corrupt_csv_parsed")
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir)
      .write.mode("overwrite").parquet(parsedDir)
    val permissive = spark.read.parquet(parsedDir)
    val dropped = spark.read.schema(StructType(schema.dropRight(1)))
      .option("mode", "DROPMALFORMED").csv(dir)
    val p = permissive.agg(
      count(lit(1)).as("n_total"),
      count_if(col("_corrupt_record").isNull).as("n_good"),
      count_if(col("_corrupt_record").isNotNull).as("n_corrupt"))
    // count a TYPED column, not count(*): a bare count prunes every column,
    // the CSV reader then counts raw lines without parsing, and
    // DROPMALFORMED has nothing to drop (malformedness is only detected on
    // columns the query actually reads)
    val q = dropped.agg(count(col("n_nationkey")).as("n_dropmalformed"))
    p.crossJoin(q) // two 1-row aggregates
  }

  val q127Oracle: String =
    """SELECT CAST(count(*) + 3 AS BIGINT) AS n_total,
       CAST(count(*) AS BIGINT) AS n_good,
       CAST(3 AS BIGINT) AS n_corrupt,
       CAST(count(*) AS BIGINT) AS n_dropmalformed
       FROM nation"""

  // ---------------------------------------------------------------- q128
  /** Dynamic partition overwrite — the incremental-write lever for
    * partitioned 100 TB tables: `overwrite` in dynamic mode replaces ONLY
    * the partitions present in the incoming frame, so a daily refresh
    * rewrites one day's directory, not the table (static mode would wipe
    * everything else — the difference between an O(delta) and an O(table)
    * write). Driven end-to-end: full partitioned write, then an overwrite
    * containing only repriced 1-URGENT rows; the read-back must show the
    * touched partition replaced and every other partition byte-intact.
    * Deterministic → full oracle. Conf is scoped set→write→restore.
    */
  def q128DynamicOverwrite(spark: SparkSession, d: String): DataFrame = {
    val dir = graft.core.Scratch.dir("dyn_overwrite")
    val orders = Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(dir)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try orders.filter(col("o_orderpriority") === "1-URGENT")
      .withColumn("o_totalprice", col("o_totalprice") + 1.0d)
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(dir)
    finally spark.conf.set(key, prev)
    spark.read.parquet(dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        graft.core.Exact.dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderpriority"))
  }

  val q128Oracle: String =
    """SELECT o_orderpriority, count(*) AS n,
       CAST(CAST(sum(CAST(CASE WHEN o_orderpriority = '1-URGENT'
                          THEN o_totalprice + 1.0 ELSE o_totalprice END
                     AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_price
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // ---------------------------------------------------------------- q129
  /** Dynamic partition pruning: the fact table is laid out partitioned by
    * priority, and the partitions to read are known only through a JOIN —
    * a dimension filtered on an attribute (`tier = 'expedite'`) that the
    * fact table doesn't carry. Static pruning (q100) can't help; Spark
    * instead reuses the dimension's broadcast as a runtime partition filter
    * (`dynamicpruningexpression` in the scan's PartitionFilters, asserted
    * in PlanSpec). This is THE selective-star-join scan lever at 100 TB: a
    * date-partitioned fact joined to a filtered date dim reads only the
    * matching partitions without the query author naming them.
    */
  def q129DynamicPartitionPruning(spark: SparkSession, d: String): DataFrame = {
    val dir = graft.core.Scratch.dir("dpp_orders")
    Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(dir)
    val fact = spark.read.parquet(dir)
    // The dim must be a real datasource: a VALUES relation constant-folds to
    // a bare LocalRelation before the PartitionPruning optimizer batch runs,
    // leaving no selective Filter node to justify the pruning subquery.
    val dimDir = graft.core.Scratch.dir("dpp_dim")
    spark.sql(
      """SELECT * FROM VALUES
           ('1-URGENT', 'expedite'), ('2-HIGH', 'expedite'),
           ('3-MEDIUM', 'standard'), ('4-NOT SPECIFIED', 'standard'),
           ('5-LOW', 'standard') AS t(priority, tier)""")
      .coalesce(1).write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    fact.join(broadcast(dim.filter(col("tier") === "expedite")),
        col("o_orderpriority") === col("priority"))
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n"),
        graft.core.Exact.dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("priority"))
  }

  val q129Oracle: String =
    """SELECT priority, count(*) AS n,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_price
       FROM orders
       JOIN (VALUES ('1-URGENT', 'expedite'), ('2-HIGH', 'expedite'),
                    ('3-MEDIUM', 'standard'), ('4-NOT SPECIFIED', 'standard'),
                    ('5-LOW', 'standard')) AS t(priority, tier)
         ON o_orderpriority = priority
       WHERE tier = 'expedite'
       GROUP BY priority ORDER BY priority"""

  // ---------------------------------------------------------------- q130
  /** Runtime bloom-filter join pushdown (`InjectRuntimeFilter`): for a
    * shuffle join whose build side is small-but-not-broadcast-worthy after
    * a selective filter, Spark 3.3+ aggregates a bloom filter over the
    * build keys and injects `might_contain` into the probe scan — probe
    * rows that can't join are dropped BEFORE the shuffle. At 100 TB this is
    * the difference between shuffling the whole fact table and shuffling
    * the ~matching fraction. The application-side size threshold defaults
    * to 10 GB (fixture scans would never qualify), so the conf is scoped
    * set→materialize→restore, the q128 pattern; the filtered result is
    * staged to scratch parquet while the conf is active because plan
    * optimization is lazy. PlanSpec asserts `might_contain` in the plan.
    */
  def q130BloomFilterJoin(spark: SparkSession, d: String): DataFrame = {
    val out = graft.core.Scratch.dir("bloom_join_out")
    val enabledKey = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    val scanKey =
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    // InjectRuntimeFilter only fires for probably-SHUFFLE joins (it checks
    // build-side size vs the broadcast threshold, not the final strategy),
    // so broadcast is disabled for the scope — which is exactly the 100 TB
    // situation being modeled: a build side too big to broadcast but still
    // selective enough to prefilter the probe.
    val bcastKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevEnabled = spark.conf.get(enabledKey)
    val prevScan = spark.conf.get(scanKey)
    val prevBcast = spark.conf.get(bcastKey)
    spark.conf.set(enabledKey, "true")
    spark.conf.set(scanKey, "0")
    spark.conf.set(bcastKey, "-1")
    try {
      val li = Tables.lineitem(spark, d)
      val o = Tables.orders(spark, d).filter(col("o_orderpriority") === "1-URGENT")
      li.hint("merge")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          graft.core.Exact.dsum(col("l_extendedprice")).as("total_price"))
        .write.mode("overwrite").parquet(out)
    } finally {
      spark.conf.set(enabledKey, prevEnabled)
      spark.conf.set(scanKey, prevScan)
      spark.conf.set(bcastKey, prevBcast)
    }
    spark.read.parquet(out).orderBy(col("l_returnflag"))
  }

  val q130Oracle: String =
    """SELECT l_returnflag, count(*) AS n,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS STRING) AS DOUBLE) AS total_price
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       WHERE o_orderpriority = '1-URGENT'
       GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ---------------------------------------------------------------- q191
  /** Migration reconciliation audit — the checksum triple every copy job
    * runs before the old system is turned off: row count, key sum, and an
    * order-independent content checksum (Σ of per-row md5-prefix ints, the
    * q168/q169 DuckDB-replayable hash family, summed in DECIMAL(38,0) so
    * layout never matters) computed over the SOURCE, a parquet round-trip,
    * and a JDBC (Derby) round-trip of the same table. All three layers
    * must agree with the oracle's source-only computation — a dropped row,
    * a truncated string, or a type coercion in ANY layer breaks its
    * checksum. Scale: each layer is one scan + one tiny aggregate; the
    * checksum is embarrassingly parallel.
    */
  def q191Reconciliation(spark: SparkSession, d: String): DataFrame = {
    val src = Tables.nation(spark, d)
    val ptmp = graft.core.Scratch.dir("recon_parquet")
    src.write.mode("overwrite").parquet(ptmp)
    // the absolute jdbc:derby:$home/... URL pins the database location on
    // its own; setting derby.system.home here would be a no-op once the
    // embedded engine is booted (e.g. after q146) and racy under
    // concurrent queries
    val home = graft.core.Scratch.dir("recon_derby")
    val url = s"jdbc:derby:$home/grecondb;create=true"
    val opts = Map("url" -> url,
      "driver" -> "org.apache.derby.jdbc.EmbeddedDriver",
      "dbtable" -> "nation_copy")
    src.write.mode("overwrite").format("jdbc").options(opts).save()
    def layer(df: DataFrame, name: String): DataFrame =
      df.select(
          col("n_nationkey"),
          certifiedKey(concat_ws("|", col("n_nationkey").cast("string"), col("n_name"),
            col("n_regionkey").cast("string"))).as("rh"))
        .agg(count(lit(1)).as("n_rows"),
          expr("cast(sum(cast(n_nationkey as decimal(38,0))) as bigint)").as("key_sum"),
          expr("cast(sum(cast(rh as decimal(38,0))) % 1000000000000000000 as bigint)")
            .as("content_sum"))
        .select(lit(name).as("layer"), col("n_rows"), col("key_sum"), col("content_sum"))
    layer(src, "source")
      .union(layer(spark.read.parquet(ptmp), "parquet"))
      .union(layer(spark.read.format("jdbc").options(opts).load(), "jdbc"))
      .orderBy(col("layer"))
  }

  val q191Oracle: String =
    """WITH s AS (
         SELECT count(*) AS n_rows,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           CAST(sum(CAST(('0x' || substr(md5(concat_ws('|',
                CAST(n_nationkey AS VARCHAR), n_name,
                CAST(n_regionkey AS VARCHAR))), 1, 15)) AS BIGINT))
                % 1000000000000000000 AS BIGINT)
             AS content_sum
         FROM nation)
       SELECT l.layer, s.n_rows, s.key_sum, s.content_sum
       FROM (VALUES ('jdbc'), ('parquet'), ('source')) l(layer), s
       ORDER BY l.layer"""

  // ---------------------------------------------------------------- q192
  /** Encryption KEY ROTATION — the governance operation q26/q27 set up:
    * re-encrypt every token under a new key (decrypt-old → encrypt-new in
    * one map pass, plaintext never persisted), certified per row by the
    * q27 certificate style: the rotated token is valid Fernet, differs
    * from the old token (fresh IV), no longer decrypts under the OLD key,
    * and round-trips under the NEW one. Map-only — at 100 TB, rotation
    * runs at scan speed with zero shuffles.
    */
  def q192KeyRotation(spark: SparkSession, d: String): DataFrame = {
    val enc1 = CryptoFunctions.encryptUdf(TestKey)
    val dec1 = CryptoFunctions.decryptUdf(TestKey)
    val enc2 = CryptoFunctions.encryptUdf(TestKey2)
    val dec2 = CryptoFunctions.decryptUdf(TestKey2)
    // tolerant variant for the negative check — a MAC failure must read as
    // null ("old key no longer works"), not crash the scan
    val tryDec = CryptoFunctions.decryptWithKeyUdf
    Tables.customer(spark, d)
      .select(col("c_custkey"), col("c_name"))
      .withColumn("tok1", enc1(col("c_name")))
      .withColumn("tok2", enc2(dec1(col("tok1"))))
      .select(col("c_custkey"),
        (col("tok2").startsWith("gA") && col("tok2") =!= col("tok1"))
          .as("rotated_token_ok"),
        (dec2(col("tok2")) === col("c_name")).as("new_key_roundtrip_ok"),
        tryDec(lit(TestKey), col("tok2")).isNull.as("old_key_rejected"))
      .orderBy(col("c_custkey"))
  }

  val q192Oracle: String =
    """SELECT c_custkey, true AS rotated_token_ok,
       true AS new_key_roundtrip_ok, true AS old_key_rejected
       FROM customer ORDER BY c_custkey"""

  // ---------------------------------------------------------------- q197
  /** Schema-evolution UNION — `unionByName(allowMissingColumns)`: merging
    * an old extract (no priority column) with a new one (priority added)
    * by NAME, null-filling the missing column — the other half of q117's
    * mergeSchema read (that one evolves at the SOURCE; this evolves at the
    * COMBINE step, the shape every backfill-plus-increment job hits).
    * Positional union would silently mis-align columns here; by-name union
    * with null-fill is the correct semantics, certified by exact counts
    * over both halves.
    */
  def q197UnionEvolution(spark: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(spark, d)
    val oldExtract = o.filter(expr("o_orderkey % 2 = 0"))
      .select(col("o_orderkey"), col("o_totalprice"))
    val newExtract = o.filter(expr("o_orderkey % 2 = 1"))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    oldExtract.unionByName(newExtract, allowMissingColumns = true)
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_orderpriority")).as("with_priority"),
        expr("cast(sum(cast(cast(round(o_totalprice * 100) as bigint) as decimal(38,0))) as bigint)")
          .as("total_cents"))
  }

  val q197Oracle: String =
    """WITH u AS (
         SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey, o_totalprice, o_orderpriority
         FROM orders WHERE o_orderkey % 2 = 1)
       SELECT count(*) AS n_rows,
         count(o_orderpriority) AS with_priority,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
       FROM u"""

  // ---------------------------------------------------------------- q208
  /** Hostile-CSV dialect round-trip — pipe delimiter, quoted fields
    * containing the delimiter, embedded QUOTES (doubled-quote escaping)
    * and embedded NEWLINES (multiLine read): every messy-feed failure
    * mode q28's vanilla CSV never exercises. A deterministic gnarly
    * column is synthesized from nation, round-tripped through the
    * dialect, and checksummed — the oracle computes the expected checksum
    * from the BASE table (it never sees the CSV), so equality proves the
    * writer/parser pair preserved every byte. multiLine note: embedded
    * newlines make files unsplittable — the documented cost of this
    * dialect at scale, which is why pipelines re-encode to parquet at the
    * edge (q28/q115's job).
    */
  def q208CsvDialect(spark: SparkSession, d: String): DataFrame = {
    val gnarly = Tables.nation(spark, d)
      .withColumn("gnarly", expr(
        """concat(n_name, '|', '"', 'x', '"', chr(10), 'line2-', n_nationkey)"""))
    val tmp = graft.core.Scratch.dir("csv_dialect")
    gnarly.select(col("n_nationkey"), col("gnarly"))
      .coalesce(1).write.mode("overwrite")
      .option("header", "true").option("sep", "|")
      .option("quote", "\"").option("escape", "\"")
      .csv(tmp)
    spark.read
      .option("header", "true").option("sep", "|")
      .option("quote", "\"").option("escape", "\"")
      .option("multiLine", "true").option("inferSchema", "true")
      .csv(tmp)
      .agg(count(lit(1)).as("n_rows"),
        (sum(certifiedKey(concat(col("n_nationkey").cast("string"), lit("#"), col("gnarly")))
          .cast("decimal(38,0)")) % 1000000000000000000L).cast("bigint").as("content_sum"))
  }

  val q208Oracle: String =
    """WITH g AS (SELECT n_nationkey,
                    n_name || '|' || '"' || 'x' || '"' || chr(10)
                      || 'line2-' || CAST(n_nationkey AS VARCHAR) AS gnarly
                  FROM nation)
       SELECT count(*) AS n_rows,
         CAST(sum(CAST(('0x' || substr(md5(CAST(n_nationkey AS VARCHAR) || '#' || gnarly),
                1, 15)) AS BIGINT)) % 1000000000000000000 AS BIGINT) AS content_sum
       FROM g"""

  // ---------------------------------------------------------------- q209
  /** Source-option file pruning — `recursiveFileLookup` +
    * `pathGlobFilter`: read a nested directory tree but only the files a
    * glob admits, the poor-man's partition pruning for layouts that never
    * went through `partitionBy` (vendor drops, log trees). Files are
    * written one region per subdirectory; the glob admits two of five —
    * correctness is that NO filter appears in the plan yet only the
    * admitted files' rows arrive (selection happens at file listing, I/O
    * never touches the rest — the property that matters when the tree is
    * 100 TB and the glob admits 1%).
    */
  def q209GlobbedSource(spark: SparkSession, d: String): DataFrame = {
    val base = graft.core.Scratch.dir("glob_tree")
    val n = Tables.nation(spark, d)
    Seq(0, 1, 2, 3, 4).foreach { r =>
      n.filter(col("n_regionkey") === r)
        .write.mode("overwrite").parquet(s"$base/region_$r/part")
    }
    spark.read
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$base/region_1", s"$base/region_3")
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n"), max(col("n_nationkey")).as("max_key"))
      .orderBy(col("n_regionkey"))
  }

  val q209Oracle: String =
    """SELECT n_regionkey, count(*) AS n, max(n_nationkey) AS max_key
       FROM nation WHERE n_regionkey IN (1, 3)
       GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------- q237
  /** XLSX ingest round-trip — the reference's README-claimed format closed
    * WITHOUT a spreadsheet library (graft.etl.Xlsx: java.util.zip + the
    * Spark 4 XML source over public OOXML). The fixture is generated from
    * pure Scala constants (no corpus read, no collect): 30 rows exercising
    * every reader branch — integral column → BIGINT, decimal column →
    * DOUBLE, shared-string column with repeats, a multi-word string, a
    * non-ASCII string, and omitted cells → NULL. The oracle is the same
    * constant table as SQL VALUES, so the round-trip certifies parse,
    * shared-string indexing, pivot, and whole-table typing value-exactly.
    */
  private val Q237Words =
    Seq("alpha", "beta", "gamma", "delta hotel", "\u00e9psilon")

  private def q237Rows: Seq[(Long, Double, Option[String])] =
    (0 until 30).map { i =>
      (i.toLong, (i * 25) / 100.0,
        if (i % 11 == 5) None else Some(Q237Words(i % Q237Words.size)))
    }

  def q237XlsxIngest(spark: SparkSession, d: String): DataFrame = {
    val tmp = graft.core.Scratch.dir("xlsx")
    val path = s"$tmp/inventory.xlsx"
    graft.etl.Xlsx.write(
      Seq("item_id", "unit_price", "note"),
      q237Rows.map { case (id, p, n) => Seq[Any](id, p, n.orNull) },
      path)
    graft.etl.Xlsx.read(spark, path).orderBy(col("item_id"))
  }

  val q237Oracle: String = {
    val vals = q237Rows.map { case (id, p, n) =>
      s"($id, $p, ${n.map(w => s"'$w'").getOrElse("NULL")})"
    }.mkString(", ")
    s"""SELECT CAST(item_id AS BIGINT) AS item_id,
       CAST(unit_price AS DOUBLE) AS unit_price,
       CAST(note AS VARCHAR) AS note
       FROM (VALUES $vals) t(item_id, unit_price, note)
       ORDER BY item_id"""
  }

  // ---------------------------------------------------------------- q335
  /** Z-ORDER zone-map PRUNING audit — the readout that justifies q111's
    * layout machinery (the q275-justifies-q118 pattern): q111 BUILDS the
    * Morton-clustered layout and certifies disjoint per-partition
    * z-ranges; this query measures what that buys at scan time. Min/max
    * zone maps prune files only when a file's key range is narrow, and a
    * single-column sort (arrival order here: equal-width `l_orderkey`
    * ranges — the natural ingest layout) leaves every OTHER column's
    * per-file range full-width, so a two-column rectangle predicate
    * prunes nothing. Interleaving the
    * bits of both keys (Morton/Z-value) bounds each file's range in BOTH
    * dimensions. This query computes, in one lineitem scan (both layouts
    * explode map-side from the same row): per layout, the 64 equal-width
    * bucket zone maps, how many buckets a 12.5%×12.5% (partkey, suppkey)
    * rectangle touches, the rows those buckets hold (the actual I/O), and
    * the matching rows (identical across layouts — the correctness
    * certificate; layout moves I/O, never answers). Keys are scaled to
    * 16 bits by exact integer division off one broadcast bounds row, the
    * interleave is an integer bit-fold (codegen'd higher-order expression,
    * no UDF), and every readout is an exact BIGINT / ppm — DuckDB replays
    * the interleave bit-for-bit. At 100 TB the bucket id is the write-time
    * clustering key (`repartitionByRange(zb)`), and the zone-map readout
    * is exactly the scan planner's file-skipping estimate.
    */
  def q335ZorderLayout(spark: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val bounds = li.agg(
      max(col("l_partkey")).cast("long").as("pmax"),
      max(col("l_suppkey")).cast("long").as("smax"),
      max(col("l_orderkey")).cast("long").as("okmax"))
    val t = li.crossJoin(broadcast(bounds))
      .withColumn("a16", expr("cast(l_partkey as bigint) * 65536 div (pmax + 1)"))
      .withColumn("s16", expr("cast(l_suppkey as bigint) * 65536 div (smax + 1)"))
      .withColumn("z", zValue("a16", "s16", bits = 16))
      .withColumn("p1", expr("(pmax + 1) div 4"))
      .withColumn("p2", expr("(pmax + 1) div 4 + (pmax + 1) div 8"))
      .withColumn("s1", expr("(smax + 1) div 4"))
      .withColumn("s2", expr("(smax + 1) div 4 + (smax + 1) div 8"))
      .withColumn("lb", explode(array(
        struct(lit("arrival").as("layout"),
          expr("cast(l_orderkey as bigint) * 64 div (okmax + 1)").as("bkt")),
        struct(lit("zorder").as("layout"),
          expr("z div 67108864").as("bkt")))))
      .select(col("lb.layout").as("layout"), col("lb.bkt").as("bkt"),
        col("l_partkey"), col("l_suppkey"),
        col("p1"), col("p2"), col("s1"), col("s2"))
    val perB = t.groupBy(col("layout"), col("bkt"))
      .agg(count(lit(1)).as("n"),
        min(col("l_partkey")).cast("long").as("minp"),
        max(col("l_partkey")).cast("long").as("maxp"),
        min(col("l_suppkey")).cast("long").as("mins"),
        max(col("l_suppkey")).cast("long").as("maxs"),
        expr("""cast(count_if(l_partkey between p1 and p2
                        and l_suppkey between s1 and s2) as bigint)""").as("m"),
        first(col("p1")).as("p1"), first(col("p2")).as("p2"),
        first(col("s1")).as("s1"), first(col("s2")).as("s2"))
      .withColumn("touched", expr(
        "minp <= p2 AND maxp >= p1 AND mins <= s2 AND maxs >= s1"))
    perB.groupBy(col("layout"))
      .agg(count(lit(1)).as("n_buckets"),
        expr("cast(count_if(touched) as bigint)").as("n_buckets_touched"),
        expr("cast(sum(CASE WHEN touched THEN n ELSE 0 END) as bigint)")
          .as("rows_in_touched"),
        expr("cast(sum(m) as bigint)").as("rows_matching"),
        expr("cast(sum(n) as bigint)").as("n_rows"))
      .withColumn("read_ppm",
        expr("cast(rows_in_touched * 1000000 div n_rows as bigint)"))
      .select(col("layout"), col("n_buckets"), col("n_buckets_touched"),
        col("rows_in_touched"), col("rows_matching"), col("read_ppm"))
      .orderBy(col("layout"))
  }

  val q335Oracle: String =
    """WITH b AS (SELECT CAST(max(l_partkey) AS BIGINT) AS pmax,
             CAST(max(l_suppkey) AS BIGINT) AS smax,
             CAST(max(l_orderkey) AS BIGINT) AS okmax FROM lineitem),
       t0 AS (SELECT l.l_orderkey, l.l_partkey, l.l_suppkey,
                CAST(l.l_partkey AS BIGINT) * 65536 // (b.pmax + 1) AS a16,
                CAST(l.l_suppkey AS BIGINT) * 65536 // (b.smax + 1) AS s16,
                CAST(l.l_orderkey AS BIGINT) * 64 // (b.okmax + 1) AS ab,
                (b.pmax + 1) // 4 AS p1,
                (b.pmax + 1) // 4 + (b.pmax + 1) // 8 AS p2,
                (b.smax + 1) // 4 AS s1,
                (b.smax + 1) // 4 + (b.smax + 1) // 8 AS s2
              FROM lineitem l, b),
       t AS (SELECT *,
               (SELECT CAST(sum((((a16 >> u.i) & 1) << (2 * u.i))
                          + (((s16 >> u.i) & 1) << (2 * u.i + 1))) AS BIGINT)
                FROM LATERAL (SELECT unnest(generate_series(0, 15)) AS i) u) AS z
             FROM t0),
       lay AS (SELECT 'arrival' AS layout, ab AS bkt, l_partkey, l_suppkey,
                 p1, p2, s1, s2 FROM t
               UNION ALL
               SELECT 'zorder', z // 67108864, l_partkey, l_suppkey,
                 p1, p2, s1, s2 FROM t),
       perb AS (SELECT layout, bkt, CAST(count(*) AS BIGINT) AS n,
                  CAST(min(l_partkey) AS BIGINT) AS minp,
                  CAST(max(l_partkey) AS BIGINT) AS maxp,
                  CAST(min(l_suppkey) AS BIGINT) AS mins,
                  CAST(max(l_suppkey) AS BIGINT) AS maxs,
                  CAST(count(*) FILTER (l_partkey BETWEEN p1 AND p2
                         AND l_suppkey BETWEEN s1 AND s2) AS BIGINT) AS m,
                  any_value(p1) AS p1, any_value(p2) AS p2,
                  any_value(s1) AS s1, any_value(s2) AS s2
                FROM lay GROUP BY 1, 2),
       pb AS (SELECT *, (minp <= p2 AND maxp >= p1 AND mins <= s2 AND maxs >= s1)
                AS touched FROM perb)
       SELECT layout, CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(count(*) FILTER (touched) AS BIGINT) AS n_buckets_touched,
         CAST(sum(CASE WHEN touched THEN n ELSE 0 END) AS BIGINT) AS rows_in_touched,
         CAST(sum(m) AS BIGINT) AS rows_matching,
         CAST(CAST(sum(CASE WHEN touched THEN n ELSE 0 END) AS BIGINT) * 1000000
              // CAST(sum(n) AS BIGINT) AS BIGINT) AS read_ppm
       FROM pb GROUP BY layout ORDER BY layout"""

  // ---------------------------------------------------------------- q389
  /** HILBERT vs Z-ORDER layout comparison — the range-scan locality study
    * that decides which space-filling curve a 100 TB layout uses (q111/
    * q335 ship z-order; Hilbert's rotations remove z's quadrant jumps, so
    * a rectangle decomposes into FEWER contiguous curve ranges = fewer
    * parquet row-group seeks). The Hilbert index is the standard xy2d
    * bit-level recurrence UNROLLED into 5 straight-line integer stages
    * (validated bijective + unit-step-adjacent on the full 32×32 grid in
    * Round11Spec — no loops, no UDF, whole-stage codegen); z is the q335
    * mask-shift interleave. Metric: for 5 literal query rectangles over
    * the occupied (custkey%32, cents%32) cells, the number of maximal
    * runs of consecutive curve indices — exactly the contiguous scan
    * ranges a reader issues. Curve math runs on the ≤1024-row distinct
    * cell frame (the orders scan dominates); totals and the hilbert-wins
    * verdict ride every row. Full oracle replays both curves bit-for-bit.
    */
  def q389HilbertLayout(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val cells = Tables.orders(spark, d)
      .select(expr("o_custkey % 32").as("gx"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT) % 32").as("gy"))
      .distinct()
    var h = cells.withColumn("x", col("gx")).withColumn("y", col("gy"))
      .withColumn("hd", lit(0L))
    for (s <- Seq(16, 8, 4, 2, 1)) {
      h = h
        .withColumn("rx", expr(s"CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END"))
        .withColumn("ry", expr(s"CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END"))
        .withColumn("hd", expr(s"hd + ${s.toLong * s} * (CASE WHEN rx = 0 AND ry = 0 THEN 0 " +
          s"WHEN rx = 0 AND ry = 1 THEN 1 WHEN rx = 1 AND ry = 1 THEN 2 ELSE 3 END)"))
        .withColumn("xn", expr(s"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - y ELSE y END) ELSE x END"))
        .withColumn("yn", expr(s"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - x ELSE x END) ELSE y END"))
        .withColumn("x", col("xn")).withColumn("y", col("yn"))
    }
    val keyed = h.select(col("gx"), col("gy"), col("hd").cast("long").as("hd"),
      zValue("gx", "gy", 5).cast("long").as("zd"))
    val rects = Seq((0L, 0L, 7L, 0L, 7L), (1L, 8L, 23L, 4L, 11L),
      (2L, 0L, 31L, 16L, 19L), (3L, 12L, 19L, 12L, 19L),
      (4L, 24L, 31L, 0L, 31L)).toDF("rid", "x0", "x1", "y0", "y1")
    val ir = keyed.join(broadcast(rects),
      col("gx") >= col("x0") && col("gx") <= col("x1") &&
        col("gy") >= col("y0") && col("gy") <= col("y1"))
    val wZ = Window.partitionBy(col("rid")).orderBy(col("zd").asc)
    val wH = Window.partitionBy(col("rid")).orderBy(col("hd").asc)
    val runs = ir
      .withColumn("zb", when(col("zd") - lag(col("zd"), 1).over(wZ) > 1, 1L).otherwise(0L))
      .withColumn("hb", when(col("hd") - lag(col("hd"), 1).over(wH) > 1, 1L).otherwise(0L))
      .groupBy(col("rid"))
      .agg(count(lit(1)).as("n_cells"),
        expr("cast(sum(zb) + 1 as bigint)").as("z_runs"),
        expr("cast(sum(hb) + 1 as bigint)").as("h_runs"))
    runs
      .withColumn("z_total", expr("cast(sum(z_runs) OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) as bigint)"))
      .withColumn("h_total", expr("cast(sum(h_runs) OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) as bigint)"))
      .withColumn("hilbert_wins", col("h_total") < col("z_total"))
      .select(col("rid"), col("n_cells"), col("z_runs"), col("h_runs"),
        col("z_total"), col("h_total"), col("hilbert_wins"))
      .orderBy(col("rid"))
  }

  val q389Oracle: String = {
    val levels = Seq(16, 8, 4, 2, 1).zipWithIndex.map { case (s, i) =>
      val prev = if (i == 0) "c0" else s"t${i - 1}"
      s"""t$i AS (SELECT gx, gy,
           CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - y ELSE y END) ELSE x END AS x,
           CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - x ELSE x END) ELSE y END AS y,
           hd + ${s * s} * (CASE WHEN rx = 0 AND ry = 0 THEN 0 WHEN rx = 0 AND ry = 1 THEN 1
             WHEN rx = 1 AND ry = 1 THEN 2 ELSE 3 END) AS hd
         FROM (SELECT *, CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
                 CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry FROM $prev))"""
    }.mkString(",\n       ")
    val zExpr = (0 until 5).map(i =>
      s"(((gx >> $i) & 1) << ${2 * i}) + (((gy >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""WITH cells AS (SELECT DISTINCT o_custkey % 32 AS gx,
           CAST(round(o_totalprice * 100) AS BIGINT) % 32 AS gy FROM orders),
       c0 AS (SELECT gx, gy, gx AS x, gy AS y, 0 AS hd FROM cells),
       $levels,
       keyed AS (SELECT gx, gy, CAST(hd AS BIGINT) AS hd,
                   CAST($zExpr AS BIGINT) AS zd FROM t4),
       rects AS (SELECT * FROM (VALUES (0, 0, 7, 0, 7), (1, 8, 23, 4, 11),
                 (2, 0, 31, 16, 19), (3, 12, 19, 12, 19), (4, 24, 31, 0, 31))
                 r(rid, x0, x1, y0, y1)),
       ir AS (SELECT r.rid, k.zd, k.hd FROM keyed k JOIN rects r
              ON k.gx BETWEEN r.x0 AND r.x1 AND k.gy BETWEEN r.y0 AND r.y1),
       rr AS (SELECT rid,
               CASE WHEN zd - lag(zd) OVER (PARTITION BY rid ORDER BY zd ASC) > 1
                 THEN 1 ELSE 0 END AS zb,
               CASE WHEN hd - lag(hd) OVER (PARTITION BY rid ORDER BY hd ASC) > 1
                 THEN 1 ELSE 0 END AS hb
             FROM ir),
       agg AS (SELECT CAST(rid AS BIGINT) AS rid, CAST(count(*) AS BIGINT) AS n_cells,
                 CAST(sum(zb) + 1 AS BIGINT) AS z_runs,
                 CAST(sum(hb) + 1 AS BIGINT) AS h_runs
               FROM rr GROUP BY 1)
       SELECT rid, n_cells, z_runs, h_runs,
         CAST(sum(z_runs) OVER () AS BIGINT) AS z_total,
         CAST(sum(h_runs) OVER () AS BIGINT) AS h_total,
         sum(h_runs) OVER () < sum(z_runs) OVER () AS hilbert_wins
       FROM agg ORDER BY rid"""
  }

  // ---------------------------------------------------------------- q390
  /** RENDEZVOUS (highest-random-weight) shard assignment audit — the
    * consistent-placement layer a 100 TB ingest runs in front of its
    * writers: shard(doc) = argmax over shards of h(doc, shard). Two exact
    * certificates ride the readout: (1) MINIMAL DISRUPTION — growing 16→17
    * shards, every reassigned doc moves TO the new shard (moves between
    * old shards = 0, hard invariant of HRW, asserted as a column) and the
    * remap fraction is ~1/17 ≈ 58 824 ppm, vs mod-hash's ~16/17 ≈
    * 941 176 ppm (both measured); (2) balance — max/min shard fill in ppm
    * of the mean. One documents scan → 17× map-side hash explode → two
    * FILTERed max_by argmaxes per doc; shard frame is 16 rows. Full
    * oracle.
    */
  def q390RendezvousShards(spark: SparkSession, d: String): DataFrame = {
    val a = Tables.documents(spark, d)
      .select(col("doc_id"), explode(expr("sequence(0, 16)")).as("s"))
      .select(col("doc_id"), col("s"),
        certifiedKey(concat(col("doc_id"), lit("#"), col("s"))).as("hv"))
      .groupBy(col("doc_id"))
      .agg(expr("max_by(s, hv) FILTER (WHERE s < 16)").as("s16"),
        expr("max_by(s, hv)").as("s17"))
    val bal = a.groupBy(col("s16")).agg(count(lit(1)).as("c"))
      .agg(expr("cast(max(c) as bigint)").as("mx"),
        expr("cast(min(c) as bigint)").as("mn"))
    a.agg(count(lit(1)).as("n_docs"),
        expr("cast(count_if(s17 <> s16) as bigint)").as("moved"),
        expr("cast(count_if(s17 <> s16 AND s17 <> 16) as bigint)").as("bad_moves"),
        expr("cast(count_if(doc_id % 16 <> doc_id % 17) as bigint)").as("mod_moved"))
      .crossJoin(broadcast(bal)) // 1-row balance extremes
      .select(col("n_docs"),
        expr("CAST(mx * 16 * 1000000 div n_docs AS BIGINT)").as("max_shard_ppm"),
        expr("CAST(mn * 16 * 1000000 div n_docs AS BIGINT)").as("min_shard_ppm"),
        expr("CAST(moved * 1000000 div n_docs AS BIGINT)").as("remap_ppm"),
        expr("CAST(mod_moved * 1000000 div n_docs AS BIGINT)").as("mod_remap_ppm"),
        (col("bad_moves") === 0L).as("moves_only_to_new"),
        col("moved") * lit(4L) < col("mod_moved") as "rendezvous_beats_mod")
  }

  val q390Oracle: String =
    """WITH e AS (SELECT doc_id, s FROM documents,
           (SELECT unnest(generate_series(0, 16)) AS s)),
       h AS (SELECT doc_id, s,
               CAST(('0x' || substr(md5(doc_id || '#' || s), 1, 15)) AS BIGINT) AS hv
             FROM e),
       a AS (SELECT doc_id, arg_max(s, hv) FILTER (s < 16) AS s16,
               arg_max(s, hv) AS s17 FROM h GROUP BY 1),
       bal AS (SELECT CAST(max(c) AS BIGINT) AS mx, CAST(min(c) AS BIGINT) AS mn
               FROM (SELECT s16, count(*) AS c FROM a GROUP BY 1)),
       agg AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(count(*) FILTER (s17 <> s16) AS BIGINT) AS moved,
                 CAST(count(*) FILTER (s17 <> s16 AND s17 <> 16) AS BIGINT) AS bad_moves,
                 CAST(count(*) FILTER (doc_id % 16 <> doc_id % 17) AS BIGINT) AS mod_moved
               FROM a)
       SELECT n_docs,
         CAST(mx * 16 * 1000000 // n_docs AS BIGINT) AS max_shard_ppm,
         CAST(mn * 16 * 1000000 // n_docs AS BIGINT) AS min_shard_ppm,
         CAST(moved * 1000000 // n_docs AS BIGINT) AS remap_ppm,
         CAST(mod_moved * 1000000 // n_docs AS BIGINT) AS mod_remap_ppm,
         bad_moves = 0 AS moves_only_to_new,
         moved * 4 < mod_moved AS rendezvous_beats_mod
       FROM agg, bal"""

  // ---------------------------------------------------------------- q413
  /** FULL-SYNC MERGE (WHEN NOT MATCHED BY SOURCE THEN DELETE) — the table
    * SYNC semantics q75's upsert-merge can't express (upsert never
    * removes): given a target snapshot and a source "truth" state, one
    * full-outer classification splits every key into insert / update /
    * delete / unchanged, and the applied result must equal the source
    * EXACTLY — certified by an order-independent content checksum
    * (Σ key·cents mod p in DECIMAL(38,0), the q191 reconciliation trick)
    * computed over both and compared as a riding boolean. The
    * target/source pair is carved deterministically from orders (target
    * drops keys ≡0 mod 7, source drops ≡0 mod 5 and reprices ≡0 mod 3),
    * so every class is non-empty at every SF. One shuffle on the merge
    * key; counts + checksum equality are the readout. Full oracle.
    */
  def q413MergeSync(spark: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(spark, d).select(col("o_orderkey").as("k"),
      expr("cast(round(o_totalprice * 100) as bigint)").as("c"))
    val target = o.filter(col("k") % 7 =!= 0)
    val source = o.filter(col("k") % 5 =!= 0)
      .select(col("k"),
        expr("CASE WHEN k % 3 = 0 THEN c + 10000 ELSE c END").as("c"))
    val j = target.select(col("k"), col("c").as("tc"))
      .join(source.select(col("k"), col("c").as("sc")), Seq("k"), "full_outer")
      .withColumn("cls", expr(
        """CASE WHEN tc IS NULL THEN 'insert'
           WHEN sc IS NULL THEN 'delete'
           WHEN tc <> sc THEN 'update' ELSE 'unchanged' END"""))
    // ONE pass over the classification: per-class counts AND the partial
    // checksum of the would-be-applied rows (survivors keep source
    // values, so the applied checksum is the non-delete partial sum);
    // the source checksum comes from an INDEPENDENT source scan so the
    // certificate actually cross-checks two computations
    val cls = j.groupBy(col("cls"))
      .agg(count(lit(1)).as("n"),
        expr("cast(sum(cast(k % 1000000007 * (coalesce(sc, 0) % 1000000007) % 1000000007 as decimal(38,0))) as decimal(38,0))").as("ckp"))
      .pin(Rows(4)) // class frame, read by counts + checksum
    val ckApplied = cls.filter(col("cls") =!= "delete")
      .agg(expr("cast(sum(ckp) % 1000000007 as bigint)").as("ck"))
    val ckSrc = source.agg(expr(
      "cast(sum(cast(k % 1000000007 * (c % 1000000007) % 1000000007 as decimal(38,0))) % 1000000007 as bigint)").as("ck_src"))
    val cert = ckApplied.crossJoin(ckSrc)
      .select((col("ck") === col("ck_src")).as("sync_exact"))
    cls.crossJoin(broadcast(cert)) // 1-row certificate rides each class
      .select(col("cls"), col("n"), col("sync_exact"))
      .orderBy(col("cls"))
  }

  val q413Oracle: String =
    """WITH o AS (SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
       t AS (SELECT * FROM o WHERE k % 7 <> 0),
       s AS (SELECT k, CASE WHEN k % 3 = 0 THEN c + 10000 ELSE c END AS c
             FROM o WHERE k % 5 <> 0),
       j AS (SELECT coalesce(t.k, s.k) AS k, t.c AS tc, s.c AS sc
             FROM t FULL OUTER JOIN s ON s.k = t.k),
       cls AS (SELECT k, tc, sc,
                CASE WHEN tc IS NULL THEN 'insert'
                  WHEN sc IS NULL THEN 'delete'
                  WHEN tc <> sc THEN 'update' ELSE 'unchanged' END AS cls
              FROM j),
       counts AS (SELECT cls, CAST(count(*) AS BIGINT) AS n FROM cls GROUP BY 1),
       cka AS (SELECT CAST(sum(k % 1000000007 * (sc % 1000000007) % 1000000007)
                 % 1000000007 AS BIGINT) AS ck
               FROM cls WHERE cls <> 'delete'),
       cks AS (SELECT CAST(sum(k % 1000000007 * (c % 1000000007) % 1000000007)
                 % 1000000007 AS BIGINT) AS ck FROM s)
       SELECT counts.cls, counts.n, cka.ck = cks.ck AS sync_exact
       FROM counts, cka, cks ORDER BY counts.cls"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q413_merge_sync" -> q413MergeSync _,
    "q390_rendezvous_shards" -> q390RendezvousShards _,
    "q389_hilbert_layout" -> q389HilbertLayout _,
    "q335_zorder_layout" -> q335ZorderLayout _,
    "q191_reconciliation" -> q191Reconciliation _,
    "q192_key_rotation" -> q192KeyRotation _,
    "q197_union_evolution" -> q197UnionEvolution _,
    "q208_csv_dialect" -> q208CsvDialect _,
    "q209_globbed_source" -> q209GlobbedSource _,
    "q212_bucketed_agg" -> q212BucketedAgg _,
    "q129_dpp_join" -> q129DynamicPartitionPruning _,
    "q130_bloom_filter_join" -> q130BloomFilterJoin _,
    "q146_jdbc_partitioned" -> q146JdbcPartitioned _,
    "q147_bucket_pruning" -> q147BucketPruning _,
    "q148_cdc_apply" -> q148CdcApply _,
    "q149_parquet_agg_pushdown" -> q149ParquetAggPushdown _,
    "q128_dynamic_overwrite" -> q128DynamicOverwrite _,
    "q127_corrupt_records" -> q127CorruptRecords _,
    "q116_crypto_shred" -> q116CryptoShred _,
    "q117_schema_merge" -> q117SchemaMerge _,
    "q115_compaction" -> q115Compaction _,
    "q111_zorder_layout" -> q111ZorderLayout _,
    "q26_encrypt_roundtrip" -> q26EncryptRoundtrip _,
    "q27_encrypt_tokens" -> q27EncryptTokens _,
    "q28_csv_ingest_roundtrip" -> q28CsvIngestRoundtrip _,
    "q237_xlsx_ingest" -> q237XlsxIngest _,
    "q29_sanitize_identifiers" -> q29Sanitize _,
    "q74_jsonl_roundtrip" -> q74JsonlRoundtrip _,
    "q75_merge_upsert" -> q75MergeUpsert _,
    "q82_orc_roundtrip" -> q82OrcRoundtrip _,
    "q88_sql_delete_update" -> q88SqlDeleteUpdate _,
    "q421_alter_evolution" -> q421AlterEvolution _,
    "q89_schema_drift" -> q89SchemaDrift _,
    "q93_xml_roundtrip" -> q93XmlRoundtrip _,
    "q96_jdbc_roundtrip" -> q96JdbcRoundtrip _,
    "q100_partitioned_pruning" -> q100PartitionedPruning _,
    "q101_bucketed_join" -> q101BucketedJoin _)

  val oracles: Map[String, String] = Map(
    "q413_merge_sync" -> q413Oracle,
    "q390_rendezvous_shards" -> q390Oracle,
    "q389_hilbert_layout" -> q389Oracle,
    "q335_zorder_layout" -> q335Oracle,
    "q191_reconciliation" -> q191Oracle,
    "q192_key_rotation" -> q192Oracle,
    "q197_union_evolution" -> q197Oracle,
    "q208_csv_dialect" -> q208Oracle,
    "q209_globbed_source" -> q209Oracle,
    "q212_bucketed_agg" -> q212Oracle,
    "q129_dpp_join" -> q129Oracle,
    "q130_bloom_filter_join" -> q130Oracle,
    "q146_jdbc_partitioned" -> q146Oracle,
    "q147_bucket_pruning" -> q147Oracle,
    "q148_cdc_apply" -> q148Oracle,
    "q149_parquet_agg_pushdown" -> q149Oracle,
    "q128_dynamic_overwrite" -> q128Oracle,
    "q127_corrupt_records" -> q127Oracle,
    "q27_encrypt_tokens" -> q27Oracle,
    "q116_crypto_shred" -> q116Oracle,
    "q117_schema_merge" -> q117Oracle,
    "q115_compaction" -> q115Oracle,
    "q111_zorder_layout" -> q111Oracle,
    "q26_encrypt_roundtrip" -> q26Oracle,
    "q28_csv_ingest_roundtrip" -> q28Oracle,
    "q237_xlsx_ingest" -> q237Oracle,
    "q29_sanitize_identifiers" -> q29Oracle,
    "q74_jsonl_roundtrip" -> q74Oracle,
    "q75_merge_upsert" -> q75Oracle,
    "q82_orc_roundtrip" -> q82Oracle,
    "q88_sql_delete_update" -> q88Oracle,
    "q421_alter_evolution" -> q421Oracle,
    "q89_schema_drift" -> q89Oracle,
    "q93_xml_roundtrip" -> q93Oracle,
    "q96_jdbc_roundtrip" -> q96Oracle,
    "q100_partitioned_pruning" -> q100Oracle,
    "q101_bucketed_join" -> q101Oracle)
}
