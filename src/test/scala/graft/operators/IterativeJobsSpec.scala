package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.matchers.should.Matchers

import graft.{JobCounting, SparkTestBase}

/** Guards the iterative operators against per-round Spark jobs creeping
  * back: on a small input, one call runs a fixed handful of jobs however
  * many rounds it iterates. Jobs are counted by a listener, by job group. */
class IterativeJobsSpec extends SparkTestBase with JobCounting with Matchers {

  import spark.implicits._

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
