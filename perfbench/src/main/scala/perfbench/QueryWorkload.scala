package perfbench

import graft.operators._
import graft.streaming.StreamingOps

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

final case class Query(module: String, name: String, fn: (SparkSession, String) => DataFrame,
                       checksummed: Boolean)

object QueryWorkload {
  type Catalog = Map[String, (SparkSession, String) => DataFrame]

  /** The per-module catalogs `graft.SparkEntry.queries` is assembled from. */
  val Modules: Seq[(String, Catalog)] = Seq(
    "Relational" -> Relational.queries, "Scalars" -> Scalars.queries,
    "EventTime" -> EventTime.queries, "Temporal" -> Temporal.queries,
    "Dedup" -> Dedup.queries, "Similarity" -> Similarity.queries,
    "TextAnalysis" -> TextAnalysis.queries, "Multimodal" -> Multimodal.queries,
    "Curation" -> Curation.queries, "Profiling" -> Profiling.queries,
    "EventAnalytics" -> EventAnalytics.queries, "Sampling" -> Sampling.queries,
    "Linkage" -> Linkage.queries, "StreamingOps" -> StreamingOps.queries)

  /** The extension operators, where eager `localCheckpoint` pins, multi-job
    * query builders and streaming drives live, and beside them one short
    * scan, join or aggregate query from each core module, which reaches no
    * pin, crypto or ingest layer.
    */
  val ExtOps: Seq[(String, String)] = Seq(
    "Dedup" -> "q157_containment_join",
    "Similarity" -> "q229_embedding_audit", "TextAnalysis" -> "q274_tokenizer_fertility",
    "Multimodal" -> "q151_image_ahash_dedup", "Curation" -> "q254_epoch_plan",
    "Profiling" -> "q395_t_closeness", "EventAnalytics" -> "q414_acf_spectrum",
    "Sampling" -> "q256_quota_allocation", "Linkage" -> "q224_block_overflow_report",
    "StreamingOps" -> "q406_stream_token_bucket",
    "Relational" -> "q02_filter_project", "Scalars" -> "q19_string_funcs",
    "EventTime" -> "q23_event_tumbling_window", "Temporal" -> "q217_asof_tolerance")

  /** Resolve a list against the catalogs; any unknown name stops the run. */
  def resolve(list: Seq[(String, String)]): Seq[Query] = {
    val catalogs = Modules.toMap
    val oracle = graft.SparkEntry.oracleSql.keySet
    val unknown = list.filterNot { case (m, n) => catalogs.get(m).exists(_.contains(n)) }
    require(unknown.isEmpty,
      s"unknown queries in the workload list: ${unknown.map { case (m, n) => s"$m.$n" }.mkString(", ")}")
    list.map { case (m, n) => Query(m, n, catalogs(m)(n), oracle.contains(n)) }
  }

  /** Expected (rows, checksum) per query, recorded from the engine at the
    * commit that introduced the benchmark; checksum "-" means rows only.
    */
  def readExpected(file: Path): Map[String, (Long, String)] =
    if (!Files.exists(file)) Map.empty
    else Files.readAllLines(file, UTF_8).asScala.filter(_.nonEmpty).map { l =>
      val Array(n, r, c) = l.split("\t")
      n -> (r.toLong, c)
    }.toMap
}

/** A closed loop over a fixed query list. Each pass runs every query once,
  * in an order drawn from the seed, through a `noop` write so the whole
  * plan executes; on a checked pass the output check executes it instead.
  * With tracing on, each query is split into three phases: build (the
  * catalog function call, which runs eager pins and streaming drives), plan
  * (forcing `executedPlan`) and exec (the noop write).
  */
final class QueryWorkload(spark: SparkSession, sfDir: String, seed: Long,
                          val queries: Seq[Query], expected: Map[String, (Long, String)],
                          tracer: Tracer, record: Option[Path]) extends Workload {
  private val rnd = new scala.util.Random(seed)
  val moduleOf: Map[String, String] = queries.map(q => q.name -> q.module).toMap
  private val recorded = collection.mutable.ArrayBuffer.empty[String]

  def warmupPasses = 2

  def describe: Seq[(String, String)] = Seq("queries" -> queries.size.toString, "sf_dir" -> sfDir)

  def order(): Seq[Query] = rnd.shuffle(queries)

  def pass(op: OpRunner, check: Option[Checks]): Unit = {
    val t0 = System.nanoTime()
    for (q <- order()) {
      val r = op.timed("query", q.name, q.module) {
        if (tracer.on) {
          val df = tracer("phase", "build")(q.fn(spark, sfDir))
          tracer("phase", "plan")(df.queryExecution.executedPlan)
          tracer("phase", "exec")(df.write.mode("overwrite").format("noop").save())
          df
        } else {
          val df = q.fn(spark, sfDir)
          if (check.isEmpty) df.write.mode("overwrite").format("noop").save()
          df
        }
      }
      for (c <- check; df <- r.value) verify(c, q, df)
      spark.catalog.clearCache()
    }
    op.passDone(Util.seconds(t0))
  }

  private def verify(c: Checks, q: Query, df: DataFrame): Unit = {
    val got = if (q.checksummed) Checksum.of(df) else Checksum.Result(df.count(), "-")
    if (record.isDefined) recorded += s"${q.name}\t${got.rows}\t${got.sum}"
    else expected.get(q.name) match {
      case Some((rows, sum)) =>
        c.expect(s"${q.name} rows", rows, got.rows)
        c.expect(s"${q.name} checksum", sum, got.sum)
      case None => c.fail(s"${q.name}: no expected output recorded")
    }
  }

  def close(): Unit = record.foreach { f =>
    Files.createDirectories(f.getParent)
    Files.write(f, recorded.sorted.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
