package graft.core

import org.apache.spark.sql.SparkSession

/** The session knobs that matter at 100 TB, centralized so every entry point
  * (Verify, Bench, PipelineMain, user code) starts from the same defaults.
  * Values are per-knob documented because they're the difference between a
  * plan that survives 1000 executors and one that doesn't.
  */
object SparkConfigs {

  /** Scale-relevant defaults:
    *  - AQE on: runtime re-planning (partition coalescing, skew-join
    *    splitting, broadcast demotion) replaces hand-tuned shuffle counts;
    *  - skewJoin on: oversized shuffle partitions split automatically —
    *    first line of defense before explicit salting (graft.operators.Skew);
    *  - 128 MB file partitions: task granularity that amortizes scheduling
    *    without spilling typical executors;
    *  - maxRecordsPerFile bounds produced files so downstream scans stay
    *    balanced;
    *  - UTC session TZ: timestamp semantics identical across engines and
    *    clusters (and required for the correctness oracle).
    */
  val ScaleDefaults: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
    "spark.sql.files.maxRecordsPerFile" -> "5000000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.compression.codec" -> "zstd",
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    // whole-stage-codegen class cache (STATIC conf, default 100 entries):
    // a warehouse serving hundreds of distinct queries per session compiles
    // thousands of codegen units; at 100 entries the cache thrashes and
    // every re-run of a query recompiles its stages from scratch (Janino,
    // ~10-50 ms per unit). 5000 entries holds a full catalog's units for
    // the cost of ~100-200 MB of driver metaspace — the standard
    // memory-for-compile-time trade for a repeated query mix at any scale.
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    // runtime bloom-filter join pruning: a shuffle join against a selective
    // build side injects a bloom on the probe-side scan — at 100 TB this is
    // the difference between scanning the fact table and scanning the ~1%
    // of it that can possibly join
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    // parquet TIMESTAMP(NANOS) columns (events.ts) read as raw long nanos
    // instead of being rejected; affects ONLY nanos-typed columns. Set here
    // at session build — not inside readers — so no reader silently mutates
    // shared session state (Tables.events does the ns→µs conversion).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // parquet µs timestamps written with isAdjustedToUTC=false (all the
    // testdata date/ts columns) would otherwise surface as TIMESTAMP_NTZ;
    // reading them as plain TimestampType under the UTC session zone keeps
    // one timestamp type across the engine and matches the oracle's naive
    // TIMESTAMP values bit for bit.
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")

  /** Apply the defaults to a builder; caller-provided configs set after this
    * win, and runtime-mutable ones can still be changed per query.
    */
  def applyScaleDefaults(builder: SparkSession.Builder): SparkSession.Builder =
    ScaleDefaults.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }

  /** Local-mode builder used by this repo's executables: `cpus` threads and
    * an equal shuffle-partition count (the 200-partition default is wrong
    * for local mode; on a real cluster AQE coalescing makes the initial
    * number far less critical). `cpus` defaults to `SPARK_GRAFT_CPUS`, else
    * every available processor.
    */
  def localSession(appName: String,
                   cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
                     Runtime.getRuntime.availableProcessors.toString)): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    val withState = stateProviderClass(sys.env.get("SPARK_GRAFT_STATE_PROVIDER"))
      .fold(b)(b.config("spark.sql.streaming.stateStore.providerClass", _))
    applyScaleDefaults(withState).getOrCreate()
  }

  /** Streaming state-store provider resolution. The default HDFS-backed
    * store keeps every loaded state map ON-HEAP (UnsafeRow pairs in a
    * ConcurrentHashMap, ~2 retained versions per store) — measured at the
    * sf10 rehearsal, a 10M-key stateful query GC-thrashes a 64 GB heap.
    * RocksDB moves resident state off-heap with changelog-style deltas; at
    * 100 TB / 1000 executors it is the only provider whose memory is
    * bounded independently of key count. Opt-in via env so fixture-scale
    * runs (and the DuckDB oracle gate) keep the stock provider:
    * SPARK_GRAFT_STATE_PROVIDER=rocksdb. Values are trimmed and
    * case-normalized, and an UNRECOGNIZED value fails fast — a typo at a
    * 100×-scale rehearsal must not silently fall back to the on-heap
    * provider and defeat the memory-bounding intent. Pinned in Round15Spec.
    */
  private[graft] def stateProviderClass(raw: Option[String]): Option[String] =
    raw.map(_.trim.toLowerCase) match {
      case Some("rocksdb") => Some(
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      case Some("hdfs") | Some("") | None => None
      case Some(other) => throw new IllegalArgumentException(
        s"SPARK_GRAFT_STATE_PROVIDER='$other' is not recognized (expected 'rocksdb' or 'hdfs')")
    }
}
