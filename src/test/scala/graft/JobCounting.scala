package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts, by job group, for specs that
  * guard against per-call jobs creeping back. */
trait JobCounting { self: SparkTestBase =>

  /** Spark jobs started by `body` on this thread. A marker job in a second
    * group runs after it; the listener bus delivers in order, so once the
    * marker is seen every job of `body` has been counted. */
  protected def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"counted-jobs-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(start: SparkListenerJobStart): Unit =
        Option(start.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet(): Unit
          case g if g == s"$group-marker" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
    } finally sc.removeSparkListener(listener)
    jobs.get
  }
}
