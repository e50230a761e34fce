package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Path, Paths}

/** Benchmark entry point, started by run.py with
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1>` plus the
  * directories run.py prepared. Prints diagnostic lines, then one result
  * line: `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0`
  * the metrics are the end-to-end ones; with `--trace 1` the per-layer ones.
  * Exits 1 when an output check fails.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        launchEpochS: Double, dataDir: Path, runDir: Path, benchDir: Path,
                        traceFile: Path, record: Boolean, revision: String)

  val Workloads = Seq("etl_load", "ext_ops")
  /** ETL input size: four files, the reference's pool width */
  val EtlFiles = 4
  val EtlRowsPerFile = 40000

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = get("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (expected one of ${Workloads.mkString(", ")})")
    Args(w, get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("launch-epoch-s").toDouble, Paths.get(get("data-dir")), Paths.get(get("run-dir")),
      Paths.get(get("bench-dir")), Paths.get(get("trace-file")), m.get("record").contains("1"),
      m.getOrElse("revision", "unknown"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    // fail fast: a misspelt query name stops the run before the session starts
    val querySpecs = args.workload match {
      case "ext_ops" => QueryWorkload.resolve(QueryWorkload.ExtOps)
      case _ => Nil
    }
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.core.SparkConfigs.localSession("perfbench", cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyS = System.currentTimeMillis() / 1000.0 - args.launchEpochS
    val code =
      try run(spark, args, querySpecs, cores, sessionReadyS)
      finally spark.stop()
    sys.exit(code)
  }

  /** A constant synthetic job (one map-side hash sum, one small shuffle),
    * timed before and after the run so a contended host shows in the record.
    */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L, 1, 8).selectExpr("sum(xxhash64(id) % 100000) AS s").collect()
    spark.range(0L, 2000000L, 1, 8).selectExpr("id % 1024 AS k").groupBy("k").count()
      .selectExpr("sum(count) AS n").collect()
    Util.seconds(t0)
  }

  def run(spark: SparkSession, args: Args, querySpecs: Seq[Query], cores: Int,
          sessionReadyS: Double): Int = {
    val tracer = new Tracer(spark.sparkContext)
    val op = new OpRunner(tracer)
    val checks = new Checks(op)
    val genS = if (querySpecs.isEmpty) 0.0 else WarehouseData.ensure(spark, args.dataDir)
    val t0 = System.nanoTime()
    val workload: Workload = args.workload match {
      case "etl_load" =>
        new EtlLoad(spark, args.seed, args.runDir.resolve("input"), tracer, EtlFiles, EtlRowsPerFile)
      case w =>
        new QueryWorkload(spark, args.dataDir.toString, args.seed, querySpecs,
          QueryWorkload.readExpected(args.benchDir.resolve(s"expected/$w.tsv")), tracer,
          if (args.record) Some(args.benchDir.resolve(s"expected/$w.tsv")) else None)
    }
    val inputS = Util.seconds(t0)

    try {
      // warm-up: unchecked passes, then one checked pass; their operations
      // (not the checks) are set-up
      (1 until workload.warmupPasses).foreach(_ => workload.pass(op, None))
      val opsBefore = op.unrecordedSeconds
      val tWarm = System.nanoTime()
      workload.pass(op, Some(checks))
      val checksS = Util.seconds(tWarm) - (op.unrecordedSeconds - opsBefore)
      val setupS = sessionReadyS + op.unrecordedSeconds
      canary(spark) // the first call pays codegen
      val canaryStart = canary(spark)

      // the timed window: whole passes until `seconds` have elapsed, and at
      // least three, so that a slow host still gives a median of passes; the
      // traced run alternates untraced and traced passes so that it can
      // state its own overhead
      op.recording = true
      val stream0 = graft.streaming.StreamMetrics.snapshot
      val tw = System.nanoTime()
      var i = 0
      val layers = new Layers(tracer, workload, cores)
      while (Util.seconds(tw) < args.seconds || i < 3) {
        val traced = args.trace && i % 2 == 1
        if (traced) { layers.beforeTracedPass(); tracer.start() }
        workload.pass(op, None)
        if (traced) { tracer.stop(); layers.afterTracedPass() }
        i += 1
      }
      val windowS = Util.seconds(tw)
      op.recording = false
      val canaryEnd = canary(spark)

      val diagnostics = Seq(
        "workload" -> Util.jsonString(args.workload), "seed" -> args.seed.toString,
        "nproc" -> cores.toString, "heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
        "jdk" -> Util.jsonString(System.getProperty("java.version")),
        "spark" -> Util.jsonString(spark.version), "revision" -> Util.jsonString(args.revision),
        "canary_start_s" -> Util.jsonNumber(canaryStart), "canary_end_s" -> Util.jsonNumber(canaryEnd),
        "session_s" -> Util.jsonNumber(sessionReadyS), "warmup_ops_s" -> Util.jsonNumber(op.unrecordedSeconds),
        "checks_s" -> Util.jsonNumber(checksS), "data_gen_s" -> Util.jsonNumber(genS),
        "input_gen_s" -> Util.jsonNumber(inputS),
        "window_s" -> Util.jsonNumber(windowS), "passes" -> op.passes.size.toString,
        "pass_times_s" -> op.passes.map(p => Util.jsonNumber(p._1)).mkString("[", ",", "]"),
        "window_jit_s" -> Util.jsonNumber(op.jitSeconds),
        "executions" -> op.latencies.size.toString,
        "op_times_s" -> Util.jsonObject(op.byName.toSeq.sortBy(_._1).map { case (k, v) =>
          k -> v.map(Util.jsonNumber).mkString("[", ",", "]") }),
        "op_cpu_s" -> Util.jsonObject(op.cpuByName.toSeq.sortBy(_._1).map { case (k, v) =>
          k -> v.map(Util.jsonNumber).mkString("[", ",", "]") })) ++
        workload.describe.map { case (k, v) => k -> Util.jsonString(v) }
      println(Util.jsonObject(Seq("diagnostics" -> Util.jsonObject(diagnostics))))

      val report = Report(workload, op, setupS)
      println(Util.jsonObject(Seq("report" -> Report.render(report))))
      if (op.errors.nonEmpty || checks.failures.nonEmpty)
        println(Util.jsonObject(Seq("errors" -> (op.errors ++ checks.failures).take(20)
          .map(Util.jsonString).mkString("[", ",", "]"))))

      val metrics =
        if (!args.trace) Report.endToEnd(report)
        else {
          val per = layers.metrics(op, graft.streaming.StreamMetrics.snapshot, stream0)
          tracer.write(args.traceFile)
          println(Util.jsonObject(Seq("trace" -> Util.jsonObject(Seq(
            "spans" -> tracer.all.size.toString, "file" -> Util.jsonString(args.traceFile.toString),
            "overhead_frac" -> Util.jsonNumber(layers.overheadFrac(op)))))))
          per
        }
      val correct = checks.failures.isEmpty && op.failed == 0
      println(Util.jsonObject(Seq(
        "correct" -> correct.toString, "attempted" -> op.attempted.toString,
        "failed" -> op.failed.toString,
        "metrics" -> Util.jsonObject(metrics.map { case (name, unit, v) =>
          name -> Util.jsonObject(Seq("value" -> Util.jsonNumber(v), "unit" -> Util.jsonString(unit)))
        }))))
      if (correct) 0 else 1
    } finally workload.close()
  }
}
