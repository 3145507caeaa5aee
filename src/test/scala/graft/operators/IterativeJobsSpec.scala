package graft.operators

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

/** Guards the iterative operators against per-round Spark jobs creeping
  * back: on a small input, one call runs a fixed handful of jobs however
  * many rounds it iterates. Jobs are counted by a listener, by job group. */
class IterativeJobsSpec extends SparkTestBase with Matchers {

  import spark.implicits._

  /** Spark jobs started by `body` on this thread. A marker job in a second
    * group runs after it; the listener bus delivers in order, so once the
    * marker is seen every job of `body` has been counted. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"iterative-jobs-${System.nanoTime()}"
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

  it("personalizedPageRank runs a fixed handful of jobs, not jobs per round") {
    val rnd = new scala.util.Random(3)
    val edges = Seq.fill(200)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)).toDF("src", "dst")
    // measured on 4 cores: 3 jobs (edge materialization, count, collect);
    // the distributed rounds (powerIterate with driverEdgeLimit = 0) ran 23
    // on the same input. One per-round job for each of the 3 rounds would
    // break the bound.
    val n = jobsOf {
      Graphs.personalizedPageRank(edges, "src", "dst", Seq("1", "2"), iterations = 3).collect()
    }
    info(s"$n jobs")
    n should be <= 4
  }

  it("learnBpe runs a fixed handful of jobs, not jobs per merge") {
    val docs = Seq("lower lowest newer newest wider widest", "the then than thinner inner winner")
      .toDF("text")
    // measured on 4 cores: 4 jobs (the word-count shuffle, its
    // materialization, count, collect); learnBpeRounds ran 28 for the same
    // 8 merges, with maxBatch 1 and with the default 16
    val n = jobsOf {
      val (merges, vocab) = Bpe.learnBpe(docs, col("text"), numMerges = 8)
      merges should have size 8
      vocab.unpersist()
    }
    info(s"$n jobs")
    n should be <= 5
  }
}
