package graft

import graft.operators._

import org.apache.spark.sql.functions._

/** Round-4 specs: fuzzy-join block cap, planted-oracle certifications, and
  * the alternating-star connected-components variant.
  */
class Round4Spec extends SparkSuite {

  test("fuzzySelfJoin: adversarial giant block is capped, completes, and overflow is loud") {
    import spark.implicits._
    // 3000 rows sharing one 8-char block prefix — uncapped this is ~4.5M
    // levenshtein pairs in a single task; capped at 100 it is ~5k.
    val giant = (0 until 3000).map(i => (i.toLong, f"BLOCKED_$i%04d")).toDF("id", "name")
    val pairs = Linkage.fuzzySelfJoin(giant, "id", "name",
      blockPrefixLen = 8, maxDist = 2, maxBlockSize = 100).collect()
    // join completed and only considered the kept lowest-id 100 rows
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => r.getAs[Long]("id_a") < 100 && r.getAs[Long]("id_b") < 100))

    val overflow = Linkage.blockOverflow(giant, "name",
      blockPrefixLen = 8, maxBlockSize = 100).collect()
    assert(overflow.length == 1)
    val r = overflow.head
    assert(r.getAs[Long]("block_size") == 3000L)
    assert(r.getAs[Long]("kept") == 100L)
    assert(r.getAs[Long]("dropped") == 2900L)
  }

  test("graft_cms_estimate: INT probe widens; STRING probe fails at analysis") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val sketch = Seq(1L, 1L, 2L).toDF("v")
      .selectExpr("count_min_sketch(v, 0.01d, 0.99d, 42) AS sk")
    sketch.createOrReplaceTempView("cms_r4")
    // INT literal probe (pre-widening this threw ClassCastException / failed analysis)
    val est = spark.sql(
      "SELECT graft_cms_estimate(sk, CAST(1 AS INT)) AS e FROM cms_r4").collect()
    assert(est.head.getLong(0) == 2L)
    val err = intercept[Exception] {
      spark.sql("SELECT graft_cms_estimate(sk, 'one') FROM cms_r4").collect()
    }
    assert(err.getMessage.contains("graft_cms_estimate"))
  }

  test("connectedComponentsStar matches min-label CC on chains, isolates, blobs") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponentsStar(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("connectedComponentsStar: empty edge set leaves every node a singleton") {
    import spark.implicits._
    val nodes = Seq(5L, 6L).toDF("id")
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponentsStar(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(5L -> 5L, 6L -> 6L))
  }

  test("connectedComponentsStar converges on a 512-chain within 12 rounds (min-label cannot)") {
    import spark.implicits._
    // one path 0-1-...-511: diameter 511. Min-label propagation would need
    // 511 rounds; the star variant must land it in O(log² n).
    val nodes = (0L until 512L).toDF("id")
    val pairs = (0L until 511L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponentsStar(nodes, pairs, maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 512)
    assert(got.forall(_._2 == 0L), s"non-zero components: ${got.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("connectedComponentsStar on a random graph agrees with min-label propagation") {
    import spark.implicits._
    // deterministic pseudo-random edges over 200 nodes (seeded LCG, not
    // Math.random — reproducible)
    var s = 12345L
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue; s }
    val edges = (0 until 150).map(_ => (next() % 200, next() % 200))
      .filter { case (a, b) => a != b }
    val nodes = (0L until 200L).toDF("id")
    val pairs = edges.toDF("doc_a", "doc_b")
    val star = Dedup.connectedComponentsStar(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val label = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == label)
  }

  test("zValue interleaves bits correctly and zOrderLayout yields disjoint partition z-ranges") {
    import spark.implicits._
    // hand-computed Morton codes: (x=3, y=5) -> binary x=011 y=101 ->
    // interleave (y bit above x bit per position): 100111 = 39
    val pts = Seq((3L, 5L), (0L, 0L), (1023L, 1023L), (1L, 0L), (0L, 1L))
      .toDF("zx", "zy")
    val z = pts.withColumn("z", EtlQueries.zValue("zx", "zy", 10))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(z((3L, 5L)) == 39L)
    assert(z((0L, 0L)) == 0L)
    assert(z((1023L, 1023L)) == (1L << 20) - 1)
    assert(z((1L, 0L)) == 1L)
    assert(z((0L, 1L)) == 2L)

    val base = graft.sources.Tables.orders(spark, sf)
      .select((col("o_custkey") % 1024).as("zx"), (col("o_orderkey") % 1024).as("zy"))
    val laid = EtlQueries.zOrderLayout(base, "zx", "zy", 10, 4)
    assert(laid.queryExecution.executedPlan.toString.contains("rangepartitioning(z"),
      "z-order layout must range-partition on z")
    val ranges = laid
      .groupBy(org.apache.spark.sql.functions.spark_partition_id().as("pid"))
      .agg(min(col("z")).as("lo"), max(col("z")).as("hi"))
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlap: $ranges")
      case _ =>
    }
  }

  test("incrementalAggMaintain equals full recompute, including group moves and empty groups") {
    import spark.implicits._
    val v1 = Seq((1L, "a", 10.00), (2L, "a", 5.50), (3L, "b", 7.25), (4L, "c", 1.00))
      .toDF("k", "g", "v")
    // key 1 repriced, key 2 MOVES a->b, key 3 deleted, key 5 added in d,
    // key 4 untouched; group c survives untouched, group a shrinks to 1 row
    val v2 = Seq((1L, "a", 11.00), (2L, "b", 5.50), (4L, "c", 1.00), (5L, "d", 2.75))
      .toDF("k", "g", "v")
    val got = Cdc.incrementalAggMaintain(v1, v2, "k", "g", "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == Map("a" -> ((1L, 11.00)), "b" -> ((1L, 5.50)),
      "c" -> ((1L, 1.00)), "d" -> ((1L, 2.75))))
  }

  test("incrementalAggMaintain drops a group emptied by the delta") {
    import spark.implicits._
    val v1 = Seq((1L, "a", 3.00), (2L, "b", 4.00)).toDF("k", "g", "v")
    val v2 = Seq((2L, "b", 4.00)).toDF("k", "g", "v")
    val got = Cdc.incrementalAggMaintain(v1, v2, "k", "g", "v")
      .collect().map(_.getString(0)).toSet
    assert(got == Set("b"))
  }

  test("crypto-shred: null key and wrong key decrypt to null, right key round-trips") {
    import spark.implicits._
    import graft.crypto.{CryptoFunctions, Fernet}
    val k1 = Fernet.deriveKey("subject-1")
    val k2 = Fernet.deriveKey("subject-2")
    val df = Seq(("secret", k1)).toDF("v", "k")
      .withColumn("token", CryptoFunctions.encryptWithKeyUdf(col("k"), col("v")))
    val r = df.select(
      CryptoFunctions.decryptWithKeyUdf(col("k"), col("token")).as("right_key"),
      CryptoFunctions.decryptWithKeyUdf(lit(k2), col("token")).as("wrong_key"),
      CryptoFunctions.decryptWithKeyUdf(lit(null).cast("string"), col("token")).as("shredded"))
      .collect().head
    assert(r.getString(0) == "secret")
    assert(r.isNullAt(1)) // MAC failure -> null, not an exception
    assert(r.isNullAt(2)) // destroyed key -> null
    // derivation is deterministic: same seed, same key
    assert(Fernet.deriveKey("subject-1") == k1)
  }

  test("distributed prefixSum equals the single-partition global window sum") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // sparse, unordered ids across many buckets, incl. empty buckets
    val rows = Seq(3L -> 10L, 250L -> 7L, 1L -> 5L, 999L -> 2L, 500L -> 1L,
      501L -> 4L, 100L -> 9L).map { case (id, v) => (id, v) }
    val df = rows.toDF("id", "v")
    val got = BucketRank.Running(Nil, floor(col("id") / 100L), Seq(col("id")),
        "cum" -> col("v"))(df)
      .select(col("id"), col("cum"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val spec = df.withColumn("cum", sum(col("v")).over(Window.orderBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cum")).toMap
    assert(got == spec)
  }

  test("q119 corpus mix selects exactly floor(weight*budget) per source, deterministically") {
    val a = Curation.q119CorpusMix(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = Curation.q119CorpusMix(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
    // 25 docs per source at sf0.001; budget 400 → floor caps bind at 25
    Curation.Q119Weights.foreach { case (s, w) =>
      assert(a(s) == math.min(math.floor(w * Curation.Q119Budget).toLong, 25L))
    }
  }

  test("minhashBucketOverflow: identical-text flood overflows, healthy corpus reports empty") {
    import spark.implicits._
    // 120 identical docs share every band bucket -> 8 overflowing buckets
    val flood = (0 until 120).map(i =>
      (i.toLong, "the same exact boilerplate text repeated in every document forever and ever amen"))
      .toDF("doc_id", "text")
    val over = Dedup.minhashBucketOverflow(flood, maxBucketSize = 100).collect()
    assert(over.length == Dedup.NumBands)
    over.foreach { r =>
      assert(r.getAs[Long]("bucket_size") == 120L)
      assert(r.getAs[Long]("dropped") == 20L)
    }
    val healthy = Dedup.minhashBucketOverflow(
      graft.sources.Tables.documents(spark, sf)).collect()
    assert(healthy.isEmpty)
  }

  test("stripMarkup survives script blocks containing '<' and collapses whitespace") {
    import spark.implicits._
    val html = Seq(
      "<html><script>if (a < b) { x(); }</script><p>Hello  &amp;\n<b>world</b></p></html>")
      .toDF("h")
    val got = html.select(TextAnalysis.stripMarkup(col("h")).as("c")).collect().head.getString(0)
    assert(got == "Hello & world")
  }

  test("canonicalizeUrl edge cases: ports, case, fragments, utm stripping, bare paths") {
    import spark.implicits._
    val cases = Seq(
      "HTTPS://Host.COM:443/Path?a=1&utm_x=2&b=3#f" -> "https://host.com/Path?a=1&b=3",
      "http://HOST.com:80/p"                        -> "http://host.com/p",
      "https://host.com:8443/p"                     -> "https://host.com:8443/p", // non-default port kept
      "https://host.com/p?utm_only=1"               -> "https://host.com/p",      // query vanishes entirely
      "https://host.com/CaseSensitive/Path"         -> "https://host.com/CaseSensitive/Path",
      "https://host.com"                            -> "https://host.com")
    val got = cases.map(_._1).toDF("u")
      .select(col("u"), Curation.canonicalizeUrl(col("u")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) => assert(got(in) == want, s"for $in") }
  }

  test("fuzzySelfJoin: blocks under the cap are untouched (q98 overflow report is empty)") {
    val overflow = Linkage.blockOverflow(
      graft.sources.Tables.customer(spark, sf).withColumnRenamed("c_name", "name"),
      "name", blockPrefixLen = 16).collect()
    assert(overflow.isEmpty)
  }
}
