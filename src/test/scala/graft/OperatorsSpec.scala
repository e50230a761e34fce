package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Semantics tests for the operators whose outputs are hash-valued (no DuckDB
  * oracle): planted-duplicate recall for the dedup family, ANN recall vs the
  * exact answer, fingerprint stability. Plus spot-value checks for a few
  * oracle'd queries so failures localize without the driver.
  */
class OperatorsSpec extends SparkSuite {

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs and every oracle key exists in queries") {
    val qs = SparkEntry.queries
    assert(qs.size >= 108) // a module dropped from the catalog fails here
    SparkEntry.oracleSql.keys.foreach(k => assert(qs.contains(k), s"oracle for unknown query $k"))
  }

  test("q01 pricing summary: group count and a pinned aggregate") {
    val rows = Relational.q01PricingSummary(spark, sf).collect()
    assert(rows.length == 6) // 3 returnflags × 2 linestatus
    val total = rows.map(_.getAs[Long]("count_order")).sum
    assert(total > 1000 && total <= 6000) // shipdate filter keeps ~54% at this sf
  }

  test("q30 exact dedup finds exactly the 20 planted copies") {
    val rows = Dedup.q30ExactDedup(spark, sf).collect()
    val dups = rows.filter(_.getAs[Long]("n_copies") > 1)
    assert(dups.length == 20)
    assert(dups.forall(_.getAs[Long]("n_copies") == 2))
    assert(dups.forall(_.getAs[Long]("keep_id") < 20))
  }

  test("bloom dedup against a reference corpus removes exactly the overlap") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") < 200)   // "already ingested"
    val incoming = docs.filter(col("doc_id") >= 100) // 100 docs overlap
    val fresh = graft.operators.Dedup.bloomDedupAgainst(incoming, corpus, 1000L)
    assert(fresh.count() == incoming.count() - 100)
    // nothing surviving is in the corpus
    assert(fresh.join(corpus, Seq("doc_id"), "left_semi").count() == 0)
  }

  test("minhash-LSH recovers planted NEAR-dup pairs (high recall, probabilistic)") {
    val corpus = Dedup.withPlantedDups(
      graft.sources.Tables.documents(spark, sf), 50, 3)
    val rows = Dedup.minhashNearDups(corpus, 0.5).collect()
    val planted = rows.filter(r =>
      r.getAs[Long]("doc_b") == r.getAs[Long]("doc_a") + 1000000L)
    // LSH is probabilistic; with H=32/B=8 recall at s>=0.8 is ~0.99, lower-s
    // planted pairs (short docs) may legitimately miss
    assert(planted.length >= 47, s"got ${planted.length} of 50 planted pairs")
    planted.foreach(r => assert(r.getAs[Double]("jaccard") >= 0.5))
  }

  test("q31 certificate: all 50 planted exact copies recovered at Jaccard 1.0") {
    val r = Dedup.q31MinhashLsh(spark, sf).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_recovered") == 50L)
    assert(r.head.getAs[Long]("n_jaccard_one") == 50L)
    assert(r.head.getAs[Boolean]("planted_ok"))
  }

  test("simhash recovers planted NEAR-dup pairs whose bits stay close") {
    val corpus = Dedup.withPlantedDups(
      graft.sources.Tables.documents(spark, sf), 50, 3)
    val rows = Dedup.simhashNearDups(corpus, 3).collect()
    val planted = rows.filter(r =>
      r.getAs[Long]("doc_b") == r.getAs[Long]("doc_a") + 1000000L)
    // dropping 3 words from a short doc can flip >3 of 64 bits — those pairs
    // are genuinely not simhash-near; the long-doc majority must be found
    assert(planted.length >= 20, s"got ${planted.length} planted pairs")
    rows.foreach(r => assert(r.getAs[Int]("hamming") <= 3))
  }

  test("q32 certificate: all 50 planted exact copies recovered at hamming 0") {
    val r = Dedup.q32SimhashDedup(spark, sf).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_recovered") == 50L)
    assert(r.head.getAs[Long]("n_hamming_zero") == 50L)
    assert(r.head.getAs[Boolean]("planted_ok"))
  }

  test("ANN LSH top-5 ⊆ reasonable cosine neighbors (recall vs exact)") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val exact = Similarity.cosineTopK(emb, 0L, 50)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val ann = Similarity.annTopK(emb, 0L, 5).collect().map(_.getAs[Long]("vec_id"))
    assert(ann.nonEmpty)
    // every ANN hit should at least be in the exact top-50 of the full corpus
    assert(ann.count(exact.contains) >= ann.length / 2,
      s"ANN results ${ann.toSeq} poorly overlap exact top-50")
  }

  test("q35 certificate: planted twin of the query ranks first at cosine 1.0") {
    val r = Similarity.q35AnnLsh(spark, sf).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("top1_vec_id") == 1000000L)
    assert(r.head.getAs[Double]("top1_cos") == 1.0)
    assert(r.head.getAs[Boolean]("twin_rank1_ok"))
  }

  test("profile: per-column null and distinct counts in one pass") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("a")), (Some(2L), None), (Some(2L), Some("b")),
      (None, Some("a"))
    ).toDF("k", "s")
    val p = graft.operators.Profiling.profile(df, Seq("k", "s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(p("k") == ((4L, 1L, 2L))) // 4 rows, 1 null, distinct {1,2}
    assert(p("s") == ((4L, 1L, 2L))) // distinct {a,b}
  }

  test("kmeans iteration recovers planted cluster centers") {
    import spark.implicits._
    // two tight clusters around orthogonal unit vectors e0 and e1
    def near(base: Int, eps: Float): Seq[Float] =
      Seq.tabulate(4)(i => (if (i == base) 1.0f else 0.0f) + (if (i == (base + 1) % 4) eps else 0.0f))
    val rows =
      (0 until 10).map(i => (i.toLong, near(0, 0.01f * (i % 3)), "a")) ++
      (10 until 20).map(i => (i.toLong, near(1, 0.01f * (i % 3)), "b"))
    val emb = rows.toDF("vec_id", "embedding", "label")
    // seeds: vec 0 (cluster A) and vec 10 (cluster B) — ids 0 and 1 after remap
    val seeds = emb.filter(col("vec_id").isin(0L, 10L))
      .select((col("vec_id") / 10).cast("long").as("cid"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("ce"))
    val refined = Similarity.kmeansIteration(emb, seeds)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(refined.keySet == Set(0L, 1L))
    // centroid 0 ≈ e0 (mean of cluster A), dominant dim must be dim 0
    assert(refined(0L).zipWithIndex.maxBy(_._1)._2 == 0)
    assert(refined(1L).zipWithIndex.maxBy(_._1)._2 == 1)
    assert(math.abs(refined(0L).head - 1.0) < 0.05)
    // the mean of the eps-jitter (0, .01, .02 cycling) lands on dim 1
    assert(math.abs(refined(0L)(1) - 0.01) < 0.005)
  }

  test("batch ANN equals per-query ANN for each query id") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val ids = Seq(0L, 7L, 42L)
    val batch = Similarity.annTopKBatch(emb, ids, 5).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.map(r =>
        (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq }
    ids.foreach { q =>
      val single = Similarity.annTopK(emb.filter(col("vec_id").isNotNull), q, 5)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
      assert(batch.getOrElse(q, Seq.empty) == single, s"mismatch for query $q")
    }
  }

  test("q58 embedding LSH dedup recovers all 20 planted duplicate vectors") {
    val rows = Similarity.q58EmbeddingDedupLsh(spark, sf).collect()
    val planted = rows.filter(r =>
      r.getAs[Long]("id_b") == r.getAs[Long]("id_a") + 1000000L)
    assert(planted.length == 20, s"got ${planted.length} of 20 planted pairs")
    planted.foreach(r => assert(r.getAs[Double]("cos_sim") >= 0.9999))
  }

  test("fingerprints are stable across runs and collision-free on this corpus") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val a = TextAnalysis.fingerprints(docs).orderBy(col("doc_id")).collect()
    val b = TextAnalysis.fingerprints(docs).orderBy(col("doc_id")).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.map(_.getAs[Long]("rolling_fp")).distinct.length == a.length)
  }

  test("q40 certificate: planted twins collide, distinct texts don't") {
    val r = TextAnalysis.q40Fingerprint(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_twin_hash_collisions") == 50L)
    assert(row.getAs[Long]("n_twin_fp_collisions") == 50L)
    assert(row.getAs[Long]("n_distinct_content_hash") ==
      row.getAs[Long]("n_docs") - 50L)
  }

  test("BMP header probe: constructed image parses back to its dimensions") {
    val bytes = graft.functions.Bmp.make(33, 21)
    val meta = Multimodal.parseBmpHeader(7L, bytes)
    assert(meta.contains(Multimodal.MediaMeta(7L, bytes.length.toLong, 33L, 21L, 1L, "image/bmp")))
    // non-BMP bytes fall back to the stub
    assert(Multimodal.parseBmpHeader(7L, "not an image".getBytes).isEmpty)
  }

  test("multimodal decode stub: meta derives from byte length") {
    val rows = Multimodal.q41MultimodalDecode(spark, sf).limit(5).collect()
    rows.foreach { r =>
      val n = r.getAs[Long]("byte_len")
      assert(r.getAs[Long]("width") == n % 640 + 1)
      assert(r.getAs[Long]("height") == n % 480 + 1)
    }
  }

  test("curation with near-dup removal drops planted near-duplicates") {
    import graft.operators.Curation
    // corpus + 30 planted near-dups (doc_id+1000000, last words dropped):
    // near-dup-aware curation must keep the originals and drop the plants
    val docs = graft.sources.Tables.documents(spark, sf)
    val dups = docs.filter(col("doc_id") < 30)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", expr(
        "concat_ws(' ', slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 3, 1)))"))
    val corpus = docs.unionByName(dups)
    val keptExact = Curation.curate(corpus,
      Curation.CurationConfig(minTokens = 5, maxStopwordRatio = 1.0))
    val keptNear = Curation.curate(corpus,
      Curation.CurationConfig(minTokens = 5, maxStopwordRatio = 1.0,
        nearDupThreshold = Some(0.5)))
    val plantsExact = keptExact.filter(col("doc_id") >= 1000000L).count()
    val plantsNear = keptNear.filter(col("doc_id") >= 1000000L).count()
    // exact dedup can't see near-dups (a plant can still fall below the
    // token minimum after truncation, hence >= 28)
    assert(plantsExact >= 28)
    assert(plantsNear <= 3,         // LSH removes (allow probabilistic misses)
      s"$plantsNear planted near-dups survived")
    // originals survive near-dup removal except when two ORIGINALS are
    // organically near-dup (the corpus has a few such pairs; the higher id
    // of each is correctly dropped)
    val origExact = keptExact.filter(col("doc_id") < 30).count()
    val origNear = keptNear.filter(col("doc_id") < 30).count()
    assert(origNear >= origExact - 5 && origNear <= origExact)
  }

  test("TopKAggregator UDAF equals window-rank top-k with O(k) state") {
    import org.apache.spark.sql.functions.udaf
    val topk = udaf(new graft.functions.TopKAggregator(3))
    val li = graft.sources.Tables.lineitem(spark, sf)
    // rank by extendedprice with a unique tiebreak folded into the payload
    val viaUdaf = li
      .select(col("l_returnflag"),
        struct(col("l_extendedprice").as("_1"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("_2")).as("in"))
      .groupBy(col("l_returnflag"))
      .agg(topk(col("in._1"), col("in._2")).as("top_ids"))
      .orderBy(col("l_returnflag")).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    val viaWindow = Relational.q16GroupedTopK(spark, sf).collect()
      .groupBy(_.getAs[String]("l_returnflag"))
      .map { case (k, rows) =>
        k -> rows.sortBy(_.getAs[Int]("rn")).map(r =>
          r.getAs[Long]("l_orderkey") * 10 + r.getAs[Int]("l_linenumber")).toSeq }
    viaWindow.foreach { case (flag, expected) =>
      assert(viaUdaf(flag) == expected, s"flag $flag")
    }
  }

  test("q10 HLL approximation certifies itself within its error bound") {
    val rows = Relational.q10ApproxDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("exact_parts") > 0)
      assert(r.getAs[Boolean]("approx_ok"),
        s"HLL estimate outside 3×rsd of exact for ${r.getString(0)}")
    }
  }

  test("q62 approx percentiles certify themselves within 5% of exact") {
    val rows = Relational.q62ApproxPercentile(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq("p25_ok", "p50_ok", "p75_ok", "p99_ok").foreach { c =>
        assert(r.getAs[Boolean](c), s"$c false for ${r.getString(0)}")
      }
    }
  }

  test("q50 binaryFile source certifies name, magic bytes, and length") {
    val rows = Multimodal.q50BinaryFileSource(spark, sf).collect()
    assert(rows.length == 1)
    val row = rows.head
    assert(row.getAs[String]("file_name") == "region.parquet")
    assert(row.getAs[Boolean]("magic_ok"))
    assert(row.getAs[Boolean]("length_ok"))
  }

  test("warehouse routes DELETE/UPDATE statement text to rewrite-on-write") {
    val db = "graft_test_dml"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    graft.etl.Warehouse.runStatements(spark, Seq(
      s"CREATE DATABASE $db",
      s"CREATE TABLE $db.t (id INT, v STRING) USING parquet",
      s"INSERT INTO $db.t VALUES (1, 'a'), (2, 'b'), (3, 'c')",
      s"DELETE FROM $db.t WHERE id = 1",
      s"UPDATE $db.t SET v = 'updated' WHERE id = 3"))
    val rows = spark.table(s"$db.t").orderBy(col("id")).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((2, "b"), (3, "updated")))
    spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("warehouse UPDATE with several assignments evaluates each against the original row") {
    val db = "graft_test_update_multi"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    graft.etl.Warehouse.runStatements(spark, Seq(
      s"CREATE DATABASE $db",
      s"CREATE TABLE $db.t (id INT, status STRING, amount INT, a INT, b INT) USING parquet",
      s"INSERT INTO $db.t VALUES (1, 'open', 10, 1, 2), (2, 'paid', 20, 3, 4)",
      s"UPDATE $db.t SET status = 'closed', amount = 0 WHERE status = 'open'",
      s"UPDATE $db.t SET a = b, b = a WHERE id = 2"))
    val rows = spark.table(s"$db.t").orderBy(col("id")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))).toSeq
    assert(rows == Seq((1, "closed", 0, 1, 2), (2, "paid", 20, 4, 3)))
    spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("warehouse runs ALTER TABLE schema evolution: ADD COLUMNS native, RENAME COLUMN via rewrite") {
    // round 13: the last whitelisted DDL verb with zero coverage
    // (reference pipeline.py:112 admits ALTER). ADD COLUMNS flows
    // through Catalyst's v1 command (pre-evolution rows read NULL);
    // RENAME COLUMN is v2-only in Spark SQL and must route through the
    // Warehouse rewrite shim, not fail in the parser.
    val db = "graft_test_alter"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    graft.etl.Warehouse.runStatements(spark, Seq(
      s"CREATE DATABASE $db",
      s"CREATE TABLE $db.t (id INT, v STRING) USING parquet",
      s"INSERT INTO $db.t VALUES (1, 'a'), (2, 'b')",
      s"ALTER TABLE $db.t ADD COLUMNS (w STRING)",
      s"ALTER TABLE $db.t RENAME COLUMN v TO label",
      s"INSERT INTO $db.t VALUES (3, 'c', 'post-evolution')"))
    val t = spark.table(s"$db.t")
    assert(t.columns.toSeq == Seq("id", "label", "w"),
      s"evolved schema mismatch: ${t.columns.mkString(",")}")
    val rows = t.orderBy(col("id")).collect()
      .map(r => (r.getInt(0), r.getString(1), Option(r.getString(2)))).toSeq
    assert(rows == Seq((1, "a", None), (2, "b", None),
      (3, "c", Some("post-evolution"))))
    spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("xlsx dispatch routes to the OOXML reader; a non-xlsx file fails with a clear message") {
    // round 7: .xlsx is a real format now (graft.etl.Xlsx); dispatching a
    // file that is not actually a ZIP/OOXML container must still fail
    // loudly, not produce garbage
    val e = intercept[Exception] {
      java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/graft_not_really.xlsx"),
        "this,is,csv".getBytes("UTF-8"))
      graft.etl.Ingest.ingestFile(spark, "/tmp/graft_not_really.xlsx", "src")
    }
    assert(e.getMessage != null)
  }
}
