package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

trait Workload {
  def describe: Seq[(String, String)]
  /** Untimed passes before the window, the last of them checked: enough
    * that the first timed pass is no slower than the later ones.
    */
  def warmupPasses: Int
  /** One pass over the workload's operation list; `check` verifies outputs. */
  def pass(op: OpRunner, check: Option[Checks]): Unit
  def close(): Unit
}

final case class Timed[T](value: Option[T], seconds: Double)

/** Runs the program's operations one after another (a closed loop with one
  * client), timing each. An exception is a failed operation, never a fast
  * one. Latencies and pass times are kept only while `recording` is set.
  */
final class OpRunner(tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  var recording = false
  val errors: ArrayBuffer[String] = ArrayBuffer.empty
  /** (seconds, traced) of every recorded operation */
  val latencies: ArrayBuffer[(Double, Boolean)] = ArrayBuffer.empty
  /** untraced recorded seconds per operation name */
  val byName = collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** (seconds, traced) of every recorded pass */
  val passes: ArrayBuffer[(Double, Boolean)] = ArrayBuffer.empty
  /** seconds spent inside operations while not recording (the warm-up) */
  var unrecordedSeconds = 0.0
  /** untraced recorded CPU seconds per operation name: every thread of the
    * JVM but the JIT compiler's, while the operation ran
    */
  val cpuByName = collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** JIT compiler CPU seconds during recorded untraced operations */
  var jitSeconds = 0.0

  def timed[T](kind: String, name: String, layer: String, counted: Boolean = true)(body: => T): Timed[T] = {
    if (counted) attempted += 1
    val jit0 = Util.jitCpuNs()
    val cpu0 = Util.processCpuNs()
    val t0 = System.nanoTime()
    val value =
      try Some(tracer(kind, name)(body))
      catch {
        case NonFatal(e) =>
          if (counted) failed += 1
          error(s"$layer $kind $name failed", e)
          None
      }
    val dt = Util.seconds(t0)
    val cpu = Util.processCpuNs() - cpu0
    val jit = Util.jitCpuNs() - jit0
    if (!recording) unrecordedSeconds += dt
    else {
      latencies += ((dt, tracer.on))
      if (!tracer.on) {
        byName.getOrElseUpdate(name, ArrayBuffer.empty) += dt
        cpuByName.getOrElseUpdate(name, ArrayBuffer.empty) += (cpu - jit) / 1e9
        jitSeconds += jit / 1e9
      }
    }
    Timed(value, dt)
  }

  /** A file inside one `Ingest.run` call: counted on its own. */
  def fileDone(name: String, ok: Boolean, e: Option[Throwable] = None): Unit = {
    attempted += 1
    if (!ok) { failed += 1; error(s"ingest file $name failed", e.orNull) }
  }

  def passDone(seconds: Double): Unit = if (recording) passes += ((seconds, tracer.on))

  /** CPU seconds of one pass with each operation at its median over the
    * window: robust to a burst of host load that slows a few operations.
    */
  def passCpuSeconds: Double = cpuByName.values.map(Util.median).sum

  def error(what: String, e: Throwable): Unit = {
    val msg = if (e == null) what else s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    errors += msg
    System.err.println(s"[perfbench] $msg")
  }
}

/** Output checks. Each one is an operation: a mismatch or an exception makes
  * the run incorrect and counts as failed.
  */
final class Checks(op: OpRunner) {
  val failures: ArrayBuffer[String] = ArrayBuffer.empty

  def fail(what: String): Unit = {
    op.attempted += 1
    op.failed += 1
    failures += what
    System.err.println(s"[perfbench] check failed: $what")
  }

  def expect[T](what: String, want: T, got: => T): Unit =
    try {
      val g = got
      if (g == want) op.attempted += 1 else fail(s"$what: expected $want, got $g")
    } catch { case NonFatal(e) => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  def expectChecksum(what: String, got: => org.apache.spark.sql.DataFrame,
                     want: => org.apache.spark.sql.DataFrame): Unit =
    expect(s"$what checksum", Checksum.of(want), Checksum.of(got))
}
