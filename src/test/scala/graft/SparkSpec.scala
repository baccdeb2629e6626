package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites are
  * sequential under sbt's default test execution). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.Sf

  /** Jobs Spark starts while `body` runs. */
  def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc); jobs.get }
    finally sc.removeSparkListener(listener)
  }

  /** Child processes this JVM starts while `body` runs, counted from the
    * `jdk.ProcessStart` events of an in-process flight recording. */
  def processStartsDuring(body: => Unit): Int = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    val out = java.nio.file.Files.createTempFile("graft_procs_", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
      import scala.jdk.CollectionConverters._
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala
        .count(_.getEventType.getName == "jdk.ProcessStart")
    } finally { rec.close(); java.nio.file.Files.deleteIfExists(out) }
  }
}
