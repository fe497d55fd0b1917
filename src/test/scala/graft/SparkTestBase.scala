package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Shared local session for all suites (tests fork one JVM; getOrCreate
  * reuses the session across suites). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkFunSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val Sf0001 = "/root/testdata/sf0.001"

  /** Run `f` and count the Spark jobs started meanwhile. A marker job
    * after `f` flushes the listener bus, so the count is exact. */
  def jobsRunBy[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.marker"
    val marker = java.util.UUID.randomUUID.toString
    val jobs = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty(key) == marker)) markerSeen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.setLocalProperty(key, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
