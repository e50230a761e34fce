package perfbench

/** The run's figures in the names a user of each workload would look for. */
final case class Report(setupS: Double, passS: Double, passCpuS: Double, p50S: Double, p90S: Double,
                        executions: Int, passes: Int, attempted: Long, failed: Long,
                        peakRssMb: Double, etl: Option[(Double, Double)])

object Report {
  def apply(w: Workload, op: OpRunner, setupS: Double): Report = {
    val passes = op.passes.filterNot(_._2).map(_._1)
    val lat = op.latencies.filterNot(_._2).map(_._1)
    val etl = w match {
      case e: EtlLoad =>
        val untraced = e.timings.filterNot(_.traced)
        Some((e.csvBytes / 1e6 / Util.median(untraced.map(_.loadS)), Util.median(untraced.map(_.dmlS))))
      case _ => None
    }
    Report(setupS, Util.median(passes.toSeq), op.passCpuSeconds, Util.median(lat.toSeq),
      Util.quantile(lat.toSeq, 0.9),
      lat.size, passes.size, op.attempted, op.failed, Util.peakRssMb(), etl)
  }

  private def m(v: Double, unit: String) =
    Util.jsonObject(Seq("value" -> Util.jsonNumber(v), "unit" -> Util.jsonString(unit)))

  /** Each workload's own metric names, with units and sample counts. */
  def render(r: Report): String = {
    val common = Seq("setup_s" -> m(r.setupS, "s"), "pass_cpu_s" -> m(r.passCpuS, "s"),
      "failed_frac" -> m(r.failed.toDouble / math.max(1L, r.attempted), "frac"),
      "peak_rss_mb" -> m(r.peakRssMb, "MB"))
    val specific = r.etl match {
      case Some((mbps, dml)) => Seq("load_mb_per_s" -> m(mbps, "MB/s"), "dml_s" -> m(dml, "s"))
      case None => Seq("query_s" -> m(r.passS, "s"), "query_p50_s" -> m(r.p50S, "s"),
        "query_p90_s" -> m(r.p90S, "s"))
    }
    Util.jsonObject(common ++ specific ++ Seq("passes" -> r.passes.toString, "executions" -> r.executions.toString))
  }

  /** The end-to-end metrics of BENCHMARK.json, defined for every workload.
    * A pass is one run over the workload's operation list; its CPU seconds,
    * each operation at its median and the JIT compiler's threads left out,
    * are what the pass costs. They are gated in place of wall times, which
    * on a shared host move with the neighbours' load by more than any bound
    * allows (see README.md).
    */
  def endToEnd(r: Report): Seq[(String, String, Double)] = Seq(
    ("setup_s", "s", r.setupS), ("pass_cpu_s", "s", r.passCpuS))
}

/** Per-layer figures of the traced passes, each per pass so that runs with a
  * different number of passes compare. A layer a workload does not reach
  * reads 0: that is the prediction for it.
  */
final class Layers(tracer: Tracer, workload: Workload, cores: Int) {
  private var served0 = (0L, 0L, 0L)
  private var served = (0L, 0L, 0L)
  private def fetchCounters: (Long, Long, Long) = workload match {
    case e: EtlLoad => (e.server.requests.get, e.server.bytes.get, e.server.busyNs.get)
    case _ => (0L, 0L, 0L)
  }
  def beforeTracedPass(): Unit = served0 = fetchCounters
  def afterTracedPass(): Unit = {
    val now = fetchCounters
    served = (served._1 + now._1 - served0._1, served._2 + now._2 - served0._2, served._3 + now._3 - served0._3)
  }

  def overheadFrac(op: OpRunner): Double = {
    val on = op.passes.filter(_._2).map(_._1).toSeq
    val off = op.passes.filterNot(_._2).map(_._1).toSeq
    Util.median(on) / Util.median(off) - 1.0
  }

  def metrics(op: OpRunner, stream1: (Long, Long, Long), stream0: (Long, Long, Long)): Seq[(String, String, Double)] = {
    import scala.jdk.CollectionConverters._
    val n = math.max(1, op.passes.count(_._2)).toDouble
    val tracedWall = op.passes.filter(_._2).map(_._1).sum
    // jobs of the benchmark's own probes are not the engine's work
    val jobs = tracer.listener.jobs.values().asScala.toSeq
      .filterNot(js => tracer.lineage(js.span.id).exists(_.kind == "probe"))
    def under(js: JobStats): List[Span] = tracer.lineage(js.span.id).tail
    def opOf(js: JobStats): Option[Span] = under(js).find(s => s.kind == "query" || s.kind == "load" || s.kind == "statement")
    def sumJobs(sel: Seq[JobStats])(f: JobStats => Double): Double = sel.map(f).sum / n
    val spans = tracer.all
    def spanS(kind: String, name: String): Double = spans.filter(s => s.kind == kind && s.name == name).map(_.seconds).sum / n
    val MB = 1e6

    val pins = jobs.filter(_.callSite.startsWith("localCheckpoint"))
    val loadJobs = jobs.filter(js => opOf(js).exists(_.kind == "load"))
    // inference and the write keep their call sites; the row count runs
    // through AQE's stage threads, which do not, so it is the remainder
    def ingest(method: String) = loadJobs.filter(_.callSite.startsWith(method + " at "))
    val ingestCount = loadJobs.diff(ingest("csv") ++ ingest("saveAsTable"))
    val stmtJobs = jobs.filter(js => opOf(js).exists(_.kind == "statement"))
    val streamDelta = ((stream1._1 - stream0._1) / 1000.0, (stream1._2 - stream0._2) / 1000.0, (stream1._3 - stream0._3).toDouble)
    // StreamMetrics is cumulative over the JVM; only traced and untraced
    // passes ran streams in the window, so half-and-half is per pass
    val allPasses = math.max(1, op.passes.size).toDouble

    val etl = workload match { case e: EtlLoad => Some(e) case _ => None }
    val q = workload match { case w: QueryWorkload => Some(w) case _ => None }
    val (cells, usPerCell) = etl.map(e => (e.cellsPerPass.toDouble, e.encryptMicrosPerCell())).getOrElse((0.0, 0.0))

    val moduleMetrics = QueryWorkload.Modules.map(_._1).flatMap { mod =>
      val qs = spans.filter(s => s.kind == "query" && q.exists(_.moduleOf.get(s.name).contains(mod)))
      val ids = qs.map(_.id).toSet
      val modJobs = jobs.filter(js => opOf(js).exists(s => ids.contains(s.id)))
      Seq((s"ops.$mod.s", "s", qs.map(_.seconds).sum / n), (s"ops.$mod.jobs", "count", modJobs.size / n))
    }

    Seq(
      ("fetch.s", "s", served._3 / 1e9 / n), ("fetch.mb", "MB", served._2 / MB / n),
      ("fetch.requests", "count", served._1 / n),
      ("fetch.retries", "count", math.max(0.0, served._1 / n - etl.map(_.data.files.toDouble).getOrElse(0.0))),
      ("ingest.infer_task_s", "s", sumJobs(ingest("csv"))(_.runMs / 1e3)),
      ("ingest.write_task_s", "s", sumJobs(ingest("saveAsTable"))(_.runMs / 1e3)),
      ("ingest.count_task_s", "s", sumJobs(ingestCount)(_.runMs / 1e3)),
      ("ingest.files", "count", etl.map(e => e.timings.filter(_.traced).map(_.filesLoaded).sum / n).getOrElse(0.0)),
      ("ingest.rows", "count", etl.map(e => e.timings.filter(_.traced).map(_.rows).sum / n).getOrElse(0.0)),
      ("crypto.cells", "count", cells), ("crypto.encrypt_us_per_cell", "us", usPerCell),
      ("warehouse.update_s", "s", spanS("statement", "update")),
      ("warehouse.delete_s", "s", spanS("statement", "delete")),
      ("warehouse.merge_s", "s", spanS("statement", "merge")),
      ("warehouse.rename_s", "s", spanS("statement", "rename")),
      ("warehouse.rows_changed", "count", etl.map(e => e.timings.filter(_.traced).map(_.rowsChanged).sum / n).getOrElse(0.0)),
      ("warehouse.rewrite_mb", "MB", sumJobs(stmtJobs)(_.outputBytes / MB)),
      ("query.build_s", "s", spanS("phase", "build")), ("query.plan_s", "s", spanS("phase", "plan")),
      ("query.exec_s", "s", spanS("phase", "exec")),
      ("pin.jobs", "count", pins.size / n), ("pin.task_s", "s", sumJobs(pins)(_.runMs / 1e3)),
      ("pin.mb", "MB", sumJobs(pins)(_.blockBytes / MB)),
      ("stream.startup_s", "s", streamDelta._1 / allPasses), ("stream.data_s", "s", streamDelta._2 / allPasses),
      ("stream.batches", "count", streamDelta._3 / allPasses),
      ("spark.jobs", "count", jobs.size / n), ("spark.stages", "count", sumJobs(jobs)(_.stages)),
      ("spark.single_task_stages", "count", sumJobs(jobs)(_.singleTaskStages)),
      ("spark.tasks", "count", sumJobs(jobs)(_.tasks.toDouble)), ("spark.task_s", "s", sumJobs(jobs)(_.runMs / 1e3)),
      ("spark.cpu_s", "s", sumJobs(jobs)(_.cpuNs / 1e9)), ("spark.gc_s", "s", sumJobs(jobs)(_.gcMs / 1e3)),
      ("spark.shuffle_write_mb", "MB", sumJobs(jobs)(_.shuffleWriteBytes / MB)),
      ("spark.spill_mb", "MB", sumJobs(jobs)(_.spillBytes / MB)),
      ("spark.peak_exec_mem_mb", "MB", if (jobs.isEmpty) 0.0 else jobs.map(_.peakExecMem).max / MB),
      ("spark.util", "frac", jobs.map(_.runMs / 1e3).sum / math.max(1e-9, tracedWall * cores)),
      ("jvm.jit_s", "s", op.jitSeconds / math.max(1, op.passes.count(!_._2))),
      ("trace.overhead_frac", "frac", overheadFrac(op))) ++ moduleMetrics
  }
}
