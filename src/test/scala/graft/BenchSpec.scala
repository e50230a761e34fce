package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft.Bench failure visibility: a throwing query is reported, not timed,
  * and a mistyped SPARK_GRAFT_BENCH_ONLY name fails fast.
  */
class BenchSpec extends AnyFunSuite {

  test("a query that throws goes to failed and out of every pass's times") {
    val cold = Bench.timePass(Seq("q1_a", "q2_b", "q3_c")) { name =>
      if (name == "q2_b") throw new IllegalStateException("boom")
    }
    assert(cold.failed == Seq("q2_b"))
    assert(cold.times.map(_._1) == Seq("q1_a", "q3_c"))
    // q3_c fails only in the warm pass: it leaves the cold totals too
    val warm = Bench.timePass(Seq("q1_a", "q2_b", "q3_c")) { name =>
      if (name == "q3_c") throw new IllegalStateException("boom")
    }
    val (failed, timed) = Bench.dropFailed(Seq(cold, warm))
    assert(failed == Seq("q2_b", "q3_c"))
    assert(timed.map(_.map(_._1)) == Seq(Seq("q1_a"), Seq("q1_a")))
  }

  test("SPARK_GRAFT_BENCH_ONLY: unknown names throw, known names select in catalog order") {
    val catalog = SparkEntry.queries.keys
    val some = catalog.toSeq.sorted.take(2)
    assert(Bench.selectQueries(catalog, None) == catalog.toSeq.sorted)
    assert(Bench.selectQueries(catalog, Some(some.reverse.mkString(" , "))) == some)
    val e = intercept[IllegalArgumentException] {
      Bench.selectQueries(catalog, Some(s"${some.head},q01_pricing_sumary"))
    }
    assert(e.getMessage.contains("q01_pricing_sumary"))
  }
}
