package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** One timed interval at a layer boundary. `kind` is the boundary (load,
  * query, statement, phase, job); `parent` is the span that caused it, 0 for
  * none. A job span's name is the job's call site.
  */
final class Span(val id: Long, val parent: Long, val kind: String, val name: String,
                 val startNs: Long) {
  @volatile var endNs: Long = -1L
  def seconds: Double = if (endNs < 0) 0.0 else (endNs - startNs) / 1e9

  def json: String = Util.jsonObject(Seq(
    "id" -> id.toString, "parent" -> parent.toString, "kind" -> Util.jsonString(kind),
    "name" -> Util.jsonString(name), "start_ns" -> startNs.toString, "end_ns" -> endNs.toString))
}

/** Task-level totals of one Spark job, filled by [[LayerListener]]. */
final class JobStats(val jobId: Int, val span: Span, val callSite: String) {
  var stages = 0
  var singleTaskStages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var peakExecMem = 0L
  var blockBytes = 0L
}

/** Spans kept in memory until the run ends. With tracing off a span call
  * only runs its body, so untraced passes pay one branch; the traced run
  * turns tracing on for alternate passes.
  */
final class Tracer(sc: SparkContext) {
  val Property = "perfbench.span"
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  @volatile var on = false
  val listener = new LayerListener(this)

  private[perfbench] def span(id: Long): Option[Span] = Option(spans.get(id))

  def current: Option[Span] = stack.get.headOption

  /** Time `body` as a child span of the current one (when tracing is on). */
  def apply[T](kind: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = current.map(_.id).getOrElse(0L)
      val s = new Span(ids.incrementAndGet(), parent, kind, name, System.nanoTime())
      spans.put(s.id, s)
      stack.set(s :: stack.get)
      val prevProp = sc.getLocalProperty(Property)
      sc.setLocalProperty(Property, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        sc.setLocalProperty(Property, prevProp)
        stack.set(stack.get.tail)
      }
    }

  private[perfbench] def newJobSpan(parent: Long, name: String, startNs: Long): Span = {
    val s = new Span(ids.incrementAndGet(), parent, "job", name, startNs)
    spans.put(s.id, s)
    s
  }

  /** Start a traced stretch: attach the listener. */
  def start(): Unit = { sc.addSparkListener(listener); on = true }

  /** End a traced stretch: wait until every event has reached the listener. */
  def stop(): Unit = {
    on = false
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  def all: Seq[Span] = spans.values().toArray(Array.empty[Span]).toSeq.sortBy(_.id)

  /** Ancestors of `id`, nearest first, including the span itself. */
  def lineage(id: Long): List[Span] = span(id) match {
    case Some(s) => s :: (if (s.parent == 0L) Nil else lineage(s.parent))
    case None => Nil
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s => w.write(s.json); w.newLine() } finally w.close()
  }
}

/** Spark events folded into per-job totals, each job attached to the span
  * whose id the benchmark put in the `perfbench.span` local property before
  * calling into the engine. Jobs started outside any span are kept under
  * parent 0 and still count towards the engine totals.
  */
final class LayerListener(tracer: Tracer) extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new ConcurrentHashMap[Int, JobStats]()
  private val rddJob = new ConcurrentHashMap[Int, JobStats]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty(tracer.Property))).map(_.toLong).getOrElse(0L)
    // a job's result stage is created last and is named after the job's
    // call site, e.g. "localCheckpoint at Dedup.scala:461"
    val callSite = props.flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("")
    val span = tracer.newJobSpan(parent, callSite, System.nanoTime())
    val js = new JobStats(e.jobId, span, callSite)
    jobs.put(e.jobId, js)
    e.stageInfos.foreach(si => stageJob.put(si.stageId, js))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.span.endNs = System.nanoTime())

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach { js =>
      e.stageInfo.rddInfos.foreach(r => rddJob.put(r.id, js))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach { js =>
      js.synchronized {
        js.stages += 1
        if (e.stageInfo.numTasks == 1) js.singleTaskStages += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (js <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) js.synchronized {
      js.tasks += 1
      js.runMs += m.executorRunTime
      js.cpuNs += m.executorCpuTime
      js.gcMs += m.jvmGCTime
      js.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      js.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      js.outputBytes += m.outputMetrics.bytesWritten
      js.peakExecMem = math.max(js.peakExecMem, m.peakExecutionMemory)
    }

  /** Bytes stored for an RDD block: this is where a `localCheckpoint` pin
    * lands, so its size is charged to the job that computed the RDD.
    */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { rdd =>
      Option(rddJob.get(rdd.rddId)).foreach { js =>
        js.synchronized(js.blockBytes += info.memSize + info.diskSize)
      }
    }
  }
}
