package graft

import org.apache.spark.sql.DataFrame

/** Round-14 hardening (round-13 ADVICE + verdict items).
  *
  *  - The staged r²_ppm readout (q414/q386) carries a LOUD overflow
  *    envelope: Spark's `div` narrows to BIGINT while DuckDB's `//` stays
  *    HUGEINT, so an out-of-envelope series used to DIVERGE (null/wrap vs
  *    truncate) instead of failing. Both guard branches are replayed here
  *    against planted moments, and the in-envelope arm is replayed
  *    value-exact against driver-side BigInt math so the guard cannot
  *    silently change the formula.
  *  - The empty-stage JDBC bounds probe: MIN/MAX over an empty table is
  *    SQL NULL, which rs.getLong reports as 0 — the probe must detect it
  *    via wasNull and fall back to a trivial single-partition read, not
  *    fabricate a [0, 1) key range.
  */
class Round14Spec extends SparkSuite {

  // ------------------------------------------ r2_ppm envelope guard
  private def r2Frame(covN: String, varA: String, varB: String): DataFrame =
    spark.range(1).selectExpr(
      s"CAST($covN AS DECIMAL(38,0)) AS cov_n",
      s"CAST($varA AS DECIMAL(38,0)) AS var_a",
      s"CAST($varB AS DECIMAL(38,0)) AS var_b")

  private def r2Of(covN: String, varA: String, varB: String): Long =
    r2Frame(covN, varA, varB)
      .selectExpr(s"${graft.operators.EventAnalytics.R2PpmStagedSql} AS r2_ppm")
      .collect()(0).getLong(0) // 1-row planted-moment frame

  test("r2_ppm staged form matches driver-side BigInt math in envelope") {
    // genuine-moment shape: x=[1,2,3], y=[2,4,7] scaled by 1e6 per day
    // (n=3, cov_n = n*Sxy - Sx*Sy, var likewise — C-S holds)
    val s = BigInt(1000000)
    val (n, sa, sb) = (BigInt(3), BigInt(6) * s, BigInt(13) * s)
    val sab = BigInt(31) * s * s; val saa = BigInt(14) * s * s
    val sbb = BigInt(69) * s * s
    val cov = n * sab - sa * sb
    val va = n * saa - sa * sa; val vb = n * sbb - sb * sb
    val expected = (cov.abs * 1000000 / va) * cov.abs / vb
    assert(r2Of(cov.toString, va.toString, vb.toString) === expected.toLong)
    // perfectly correlated series: r2_ppm lands exactly at 1e6
    assert(r2Of("8", "8", "8") === 1000000L)
    assert(r2Of("0", "5", "7") === 0L)
    assert(r2Of("3", "0", "7") === 0L) // degenerate variance short-circuits
  }

  test("r2_ppm fails LOUDLY beyond the 1e32 moment envelope") {
    val big = "1" + "0" * 32 // 1e32
    val e = intercept[Exception] { r2Of("5", big, "7") }
    assert(e.getMessage.contains("r2_ppm envelope exceeded"))
    val e2 = intercept[Exception] { r2Of(big, "7", "5") }
    assert(e2.getMessage.contains("r2_ppm envelope exceeded"))
  }

  test("r2_ppm fails LOUDLY where the staged quotient would wrap BIGINT") {
    // |cov|/var_a = 1e16 > 9e12: |cov|*1e6 div var_a would need 1e22 —
    // far past Long.Max; pre-guard this wrapped/nulled while DuckDB kept
    // truncating in HUGEINT (the round-13 ADVICE divergence)
    val e = intercept[Exception] { r2Of("1" + "0" * 16, "1", "1" + "0" * 16) }
    assert(e.getMessage.contains("r2_ppm envelope exceeded"))
  }

  // ------------------------------------------ streaming state laws
  // The StateMetrics capture pinned at
  // fixture scale: resident state must follow KEY populations exactly —
  // one row per stateful group/key — and stream-stream join state must
  // be watermark-EVICTED, never retained for the stream's length. These
  // are the laws the sf0.1/sf1 rehearsal in SCALE.md measures at scale;
  // a state leak (rows tracking events past keys) fails here first.
  private def stateOf(name: String): Seq[graft.streaming.StateMetrics.OperatorState] = {
    graft.streaming.StateMetrics.clear()
    SparkEntry.queries(name)(spark, sf).count()
    graft.streaming.StateMetrics.drives.flatMap(_.operators)
  }

  test("streaming state is key-bounded: one row per user / per dedup key") {
    val ev = graft.sources.Tables.events(spark, sf)
    val users = ev.select("user_id").distinct().count()
    val eventIds = ev.select("event_id").distinct().count()
    val st46 = stateOf("q46_stream_stateful")
    assert(st46.map(_.peakRows).sum === users,
      "per-user stateful aggregation must hold EXACTLY one state row per user")
    val st45 = stateOf("q45_stream_dedup")
    assert(st45.map(_.peakRows).sum === eventIds,
      "streaming dedup must hold EXACTLY one state row per distinct key")
  }

  test("stream-stream join state is watermark-bounded and evicted") {
    val ev = graft.sources.Tables.events(spark, sf)
    val joinSides = ev.filter(
      org.apache.spark.sql.functions.col("event_type").isin("click", "purchase")).count()
    val st = stateOf("q110_stream_stream_join")
    val peak = st.map(_.peakRows).sum
    val fin = st.map(_.finalRows).sum
    assert(peak > 0L && peak <= joinSides,
      "join state must buffer at most the click/purchase rows, never the whole stream")
    assert(fin < peak,
      "the terminal watermark advance must EVICT buffered join state")
  }

  // ------------------------------------------ window annotations, falsified
  // Round13Spec verifies a size annotation EXISTS on every unpartitioned
  // window; these replays verify the three LARGEST declared frames are
  // TRUE (round-13 verdict item 6): compute the actual frame row count at
  // fixture scale with the same bucket law the operator uses and assert
  // it sits inside the annotated class. A wrong annotation now fails a
  // test instead of surviving as prose.
  private val DeclaredBucketFrameBound = 1L << 20

  private[graft] def frameWithin(site: String, actual: Long, declared: Long): Unit =
    assert(actual <= declared,
      s"$site: annotated <= $declared-row frame actually has $actual rows — " +
        "the size annotation is a LIE; re-audit the site (two-phase/bucket " +
        "rewrite or fix the annotation)")

  test("the three largest annotated window frames measure inside their class") {
    import org.apache.spark.sql.functions._
    // Sampling.scala q216 offsets frame: one row per acctbal-cents bucket
    val f1 = graft.sources.Tables.customer(spark, sf)
      .select(expr("cast(round(c_acctbal * 100) as bigint) div 100000").as("b"))
      .distinct().count()
    frameWithin("Sampling q216 bucket-offsets", f1, DeclaredBucketFrameBound)
    // Sampling.scala mixture-chain frame: one row per md5-hash div 2^40
    // bucket — ALSO structurally bounded (h < 2^60 ⇒ b < 2^20), asserted
    val bCol = expr(
      """CAST(conv(substring(md5(concat('mix#', CAST(doc_id AS STRING))), 1, 15), 16, 10)
         AS BIGINT) div 1099511627776""")
    val stats = graft.sources.Tables.documents(spark, sf)
      .select(bCol.as("b"))
      .agg(countDistinct(col("b")).as("n"), max(col("b")).as("mx")).collect()(0)
    frameWithin("Sampling mixture-chain buckets", stats.getLong(0), DeclaredBucketFrameBound)
    assert(stats.getLong(1) < DeclaredBucketFrameBound,
      "mixture-chain bucket ids are VALUE-DOMAIN bounded: h < 2^60 div 2^40")
    // q118's BucketRank running sum (width 100): one row per doc_id div 100
    val f3 = graft.sources.Tables.documents(spark, sf)
      .select(expr("floor(doc_id / 100)").as("b")).distinct().count()
    frameWithin("q118 bucket frame", f3, DeclaredBucketFrameBound)
  }

  test("frame replay self-test: a planted size-annotation lie fails") {
    val e = intercept[org.scalatest.exceptions.TestFailedException] {
      frameWithin("planted", DeclaredBucketFrameBound + 1, DeclaredBucketFrameBound)
    }
    assert(e.getMessage.contains("LIE"))
  }

  // ------------------------------------------ wordpiece count-only path
  test("wordpieceCount agrees with wordpiece on every segmentation class") {
    import graft.operators.TextAnalysis
    val vocab = TextAnalysis.WordpieceVocab.toSet
    val prefix = vocab.filterNot(_.startsWith("##"))
    val cont = vocab.collect { case t if t.startsWith("##") => t.substring(2) }
    val maxLen = (prefix.iterator.map(_.length) ++ cont.iterator.map(_.length)).max
    val rng = new scala.util.Random(14)
    val letters = "abcdefghijklmnopqrstuvwxyz4"
    // '#'-leading words exercise the start==0 full-vocab rule: a word that
    // literally begins with "##" may match a continuation entry first.
    val words = Seq("customer", "streaming", "the", "zzqx", "spark4me", "a",
      "##ing", "##ings", "##zz", "#the", "##", "###s") ++
      (1 to 500).map(_ => (1 to (1 + rng.nextInt(12)))
        .map(_ => letters(rng.nextInt(letters.length))).mkString) ++
      (1 to 200).map(_ => (1 to (1 + rng.nextInt(10)))
        .map(_ => "abc#"(rng.nextInt(4))).mkString)
    words.foreach { w =>
      val full = TextAnalysis.wordpiece(w, vocab, maxLen)
      val fast = TextAnalysis.wordpieceCount(w, prefix, cont, maxLen)
      val expected = if (full == Seq("[UNK]")) -1 else full.length
      assert(fast === expected, s"word '$w': wordpiece=$full, count=$fast")
    }
  }

  // ------------------------------------------ one-pass token-count kernels
  test("bpe/ws token-count kernels agree with the regex/split forms") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cases = Seq(
      "the quick brown fox", "abc123def", "a1b2c3", "  leading",
      "trailing  ", "two  spaces", "", " ", "...", "a.b,c;d",
      "mixed CASE Words", "42 is 6x7!", "café naïve", // 2-byte UTF-8
      "日本語 テスト",                   // 3-byte UTF-8
      "emoji 😀 end",                                  // 4-byte UTF-8
      "tab\tsep", "newline\nsep", "a-b_c", "(parens) [brackets]",
      "12345", "!!!???", "x") ++
      (1 to 200).map { i =>
        val rng = new scala.util.Random(i)
        (1 to rng.nextInt(40)).map(_ =>
          "abcXYZ019 .,!é世".charAt(rng.nextInt(15))).mkString
      }
    val df = cases.toDF("text").select(
      graft.functions.GraftFunctions.bpeTokenCount(spark, col("text")).as("bpe_fast"),
      size(expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)"))
        .cast("long").as("bpe_ref"),
      graft.functions.GraftFunctions.wsTokenCount(spark, col("text")).as("ws_fast"),
      size(split(col("text"), " ")).cast("long").as("ws_ref"),
      col("text"))
    val bad = df.filter(col("bpe_fast") =!= col("bpe_ref") ||
      col("ws_fast") =!= col("ws_ref")).collect() // tiny fixture frame
    assert(bad.isEmpty, s"kernel/regex disagreement: ${bad.mkString("; ")}")
  }

  // ------------------------------------------ empty-stage JDBC probe
  test("jdbcPartitionedRead: empty stage falls back to a plain read instead of 0-bound ranges") {
    val home = graft.core.Scratch.dir("derby_r14")
    System.setProperty("derby.system.home", home)
    val base = Map(
      "url" -> s"jdbc:derby:$home/graftdb;create=true",
      "driver" -> "org.apache.derby.jdbc.EmbeddedDriver",
      "dbtable" -> "orders_stage_empty")
    spark.range(0).selectExpr("id AS o_orderkey")
      .write.mode("overwrite").format("jdbc").options(base).save()
    val df = graft.operators.EtlQueries.jdbcPartitionedRead(spark, base)
    assert(df.count() === 0L)
    assert(df.rdd.getNumPartitions === 1,
      "empty stage must read through ONE trivial partition, not fabricated ranges")
  }
}
