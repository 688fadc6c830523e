package graft

import java.util.Properties
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (getOrCreate → one JVM-wide session). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def resource(name: String): String =
    getClass.getResource(s"/$name").getPath

  private val FlushMarker = "graft.flushMarker"

  /** Whether a job or stage with these local properties is the marker
    * job of [[listening]], not one of `body`'s. */
  protected def flushing(properties: Properties): Boolean =
    properties != null && properties.getProperty(FlushMarker) != null

  /** Runs `body` with `listener` registered and returns once the
    * listener has seen every event `body` caused: a marker job (local
    * property `FlushMarker`) flushes the listener queue, whose events
    * arrive in order. */
  protected def listening(listener: SparkListener)(body: => Unit): Unit = {
    val flushed = new CountDownLatch(1)
    val marker = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (flushing(e.properties)) flushed.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.addSparkListener(marker)
    try {
      body
      sc.setLocalProperty(FlushMarker, "1")
      try spark.range(1).count() finally sc.setLocalProperty(FlushMarker, null)
      assert(flushed.await(60, TimeUnit.SECONDS), "listener queue did not drain")
    } finally {
      sc.removeSparkListener(marker)
      sc.removeSparkListener(listener)
    }
  }
}
