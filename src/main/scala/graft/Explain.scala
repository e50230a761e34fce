package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildSide}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins._

/** Dev tool: print the formatted physical plan and wall time for the named
  * queries (all queries if none named). Usage:
  *   sbt "runMain graft.Explain q35_similarity_ann_lsh [more...]"
  * `--scan-audit` as the first argument prints only the `[scan-audit]`
  * lines (scans, exchanges and joins per query) without running anything.
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_CPUS.
  */
object Explain {

  /** Every node of the physical plan, once: adaptive plans are expanded,
    * subqueries walked, each DISTINCT cached relation's build walked once
    * (its cost is paid once at runtime), and each DISTINCT exchange walked
    * once — `ReusedExchangeExec` edges are followed (an exchange only
    * reachable through a reuse reference still moves data once) but
    * identity-deduped, so original + reuse never double-count.
    */
  def planNodes(df: DataFrame): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: InMemoryTableScanExec =>
        if (seen.add(s.relation.cacheBuilder)) walk(s.relation.cachedPlan) else Nil
      case r: ReusedExchangeExec => walk(r.child)
      case e: Exchange if !seen.add(e) => Nil
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Per-table file-scan counts. A fact table appearing more than ~3× in
    * one plan means some branch forks the lineage back to the raw scan —
    * the q150 bug class from round 4.
    */
  def scanCounts(df: DataFrame): Map[String, Int] =
    planNodes(df).collect { case f: FileSourceScanExec =>
      f.relation.location.rootPaths.headOption.map(_.getName.stripSuffix(".parquet"))
    }.flatten.groupBy(identity).view.mapValues(_.size).toMap

  /** Shuffle-exchange count — the per-query "how many times does data
    * move" number for scale audits.
    */
  def exchangeCount(df: DataFrame): Int =
    planNodes(df).count(_.isInstanceOf[ShuffleExchangeLike])

  /** Join-operator counts, keyed by operator and, where it has one, its
    * build side: removing a broadcast hint must leave these unchanged.
    */
  def joinCounts(df: DataFrame): Map[String, Int] = {
    def side(b: BuildSide) = if (b == BuildLeft) "left" else "right"
    planNodes(df).collect {
      case j: BroadcastHashJoinExec => s"BroadcastHashJoin(${side(j.buildSide)})"
      case j: ShuffledHashJoinExec => s"ShuffledHashJoin(${side(j.buildSide)})"
      case j: BroadcastNestedLoopJoinExec => s"BroadcastNestedLoopJoin(${side(j.buildSide)})"
      case _: SortMergeJoinExec => "SortMergeJoin"
      case _: CartesianProductExec => "CartesianProduct"
    }.groupBy(identity).view.mapValues(_.size).toMap
  }

  /** One `[scan-audit]` line: scans, shuffle exchanges and joins. ASCII
    * only, so it prints the same under any default charset.
    */
  def auditLine(name: String, df: DataFrame): String = {
    def counts(m: Map[String, Int]) =
      m.toSeq.sortBy { case (k, n) => (-n, k) }.map { case (k, n) => s"${k}x$n" }.mkString(", ")
    s"[scan-audit] $name: ${counts(scanCounts(df))}; exchanges=${exchangeCount(df)}; " +
      s"joins=${counts(joinCounts(df))}"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val auditOnly = args.headOption.contains("--scan-audit")
    val qargs = if (auditOnly) args.drop(1).toSeq else args.toSeq
    val spark = graft.core.SparkConfigs.localSession("graft-explain")
    spark.sparkContext.setLogLevel("WARN")
    val names = if (qargs.nonEmpty) qargs else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (!auditOnly) {
        println(s"\n========== $name ==========")
        df.explain("formatted")
      }
      println(auditLine(name, df))
      if (!auditOnly) {
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        println(f"[explain] $name took ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
