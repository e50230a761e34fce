package graft

import graft.core.Pin._
import org.apache.spark.sql.{DataFrame, PinStats}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** `Pin`: a pinned frame is planned with the bytes its checkpoint stored,
  * so an unhinted join broadcasts a small pin; bounds refuse the corpus;
  * measuring starts no job.
  */
class PinSpec extends SparkSuite {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** 10 rows aggregated from 200k: the optimizer's estimate stays near the
    * input's size, the stored blocks hold a few hundred bytes.
    */
  private def small: DataFrame =
    spark.range(0, 200000).groupBy((col("id") % 10).as("k")).agg(sum(col("id")).as("s"))

  private def big: DataFrame = spark.range(0, 200000).withColumn("k", col("id") % 10)

  private def withThreshold[T](bytes: Long)(body: => T): T = {
    val old = spark.conf.get(Threshold)
    spark.conf.set(Threshold, bytes.toString)
    try body finally spark.conf.set(Threshold, old)
  }

  private def size(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  test("a pin reports the bytes its checkpoint stored as sizeInBytes") {
    withThreshold(100000) {
      val estimate = size(small)
      assert(estimate > 100000, s"the estimate $estimate must be above the threshold")
      val pinned = small.pin(Rows(10))
      val rddId = pinned.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd.id }.get
      val stored = PinStats.storedBytes(rddId)
      assert(stored > 0 && stored < 100000, s"stored $stored bytes")
      assert(size(pinned) === stored)
      assert(pinned.orderBy("k").collect().map(_.getLong(0)).toSeq === (0L until 10L))
    }
  }

  test("an unhinted join broadcasts a small pin; a bare localCheckpoint sorts and merges") {
    withThreshold(100000) {
      val pinned = Explain.joinCounts(big.join(small.pin(Rows(10)), "k"))
      assert(pinned === Map("BroadcastHashJoin(right)" -> 1), pinned)
      val bare = Explain.joinCounts(big.join(small.localCheckpoint(), "k"))
      assert(bare === Map("SortMergeJoin" -> 1), bare)
      val line = Explain.auditLine("pinned", big.join(small.pin(Rows(10)), "k"))
      assert(line.forall(_ < 128), s"non-ASCII audit line: $line")
    }
  }

  test("a bound that names the corpus is refused") {
    val e = intercept[IllegalArgumentException](SizedBy("Corpus"))
    assert(e.getMessage.contains("persisted artifact"))
    intercept[IllegalArgumentException](SizedBy("corpus-count narrow"))
    intercept[IllegalArgumentException](Rows(0))
    assert(SizedBy("vocab").domain === "vocab")
  }

  test("a pin starts no job beyond its checkpoint's") {
    val bare = jobsOf("bare")(small.localCheckpoint())
    val pinned = jobsOf("pin")(small.pin(Rows(10)))
    assert(bare > 0)
    assert(pinned === bare)
    // a lazy pin stores nothing yet; it plans its input as the bare call does
    assert(jobsOf("lazy")(small.pinLazily(Rows(10))) === jobsOf("bare lazy")(small.localCheckpoint(false)))
  }
}
