package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/** One shared local SparkSession across all suites (object-level, so suites
  * don't each pay session startup).
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = graft.core.SparkConfigs.applyScaleDefaults(SparkSession.builder())
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-test-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf = "/root/testdata/sf0.001"
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf: String = SparkTestBase.Sf

  /** The Spark jobs `body` starts, counted by a listener filtered on a job
    * group named after `label`.
    */
  def jobsOf(label: String)(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-of $label"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, label)
      try body
      finally sc.clearJobGroup()
      org.apache.spark.ListenerBusTestAccess.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get()
  }
}
