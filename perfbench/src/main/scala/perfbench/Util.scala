package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

object Util {
  def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      finally walk.close()
    }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Quantile by linear interpolation between closest ranks. */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** This JVM's resident high-water mark (VmHWM) in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(Double.NaN)

  /** `schedstat` files of the JVM's JIT compiler threads. run.py starts
    * the JVM with `-XX:-UseDynamicNumberOfCompilerThreads`, so these threads
    * live as long as the JVM and the list is read once.
    */
  private lazy val jitThreads: Seq[java.nio.file.Path] =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.map(_.toPath).filter { t =>
      try {
        val comm = new String(Files.readAllBytes(t.resolve("comm"))).trim
        comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler")
      } catch { case _: java.io.IOException => false } // a thread that ended meanwhile
    }.map(_.resolve("schedstat"))

  /** CPU nanoseconds the JIT compiler threads have used so far. */
  def jitCpuNs(): Long =
    jitThreads.map(f => new String(Files.readAllBytes(f)).trim.split(" ")(0).toLong).sum

  private lazy val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU nanoseconds of the whole JVM (every thread, ended ones too). */
  def processCpuNs(): Long = osBean.getProcessCpuTime

  def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def jsonNumber(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** A flat JSON object from ordered (key, already-rendered value) pairs. */
  def jsonObject(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => jsonString(k) + ":" + v }.mkString("{", ",", "}")
}
