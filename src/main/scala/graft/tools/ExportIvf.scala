package graft.tools

import org.apache.spark.sql.SparkSession

/** Export the stored IVF centroid artifact (and the engine's q300 output)
  * for the STAGED sf10 q300 certificate.
  *
  * q300's one-statement DuckDB oracle re-runs the whole Lloyd training
  * prelude inline and hits the oracle engine's memory ceiling at 200k
  * vectors (round-15's named exception). The staged replay splits the
  * certificate at the artifact boundary instead: q235's own sf10 oracle
  * already pins training + assignment (per-list member-id checksums and
  * centroid coordinates, value-exact at sf10), so the staged script only
  * needs the trained centroid VALUES to replay probe assignment, candidate
  * generation, exact integer dots, and margins from raw embeddings —
  * stage by stage, each a bounded DuckDB statement.
  *
  * Usage: runMain graft.tools.ExportIvf <sfDir> <outDir>
  * Writes <outDir>/ivf_centroids.parquet (cid, ce: array<double>).
  */
object ExportIvf {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val spark: SparkSession =
      graft.core.SparkConfigs.localSession("graft-export-ivf")
    spark.sparkContext.setLogLevel("WARN")
    graft.operators.Similarity.ivfCentroidTable(spark, sfDir)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/ivf_centroids.parquet")
    println(s"[export] ivf_centroids -> $outDir")
    spark.stop()
  }
}
