package graft.dataflow.spark

import org.apache.spark.sql.functions.lit
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase
import graft.dataflow.spark.actions._
import graft.dataflow.spark.caching._
import graft.dataflow.spark.commit._

/** Pins the DAG that flow preparation produces for a flow that uses every
  * rewrite at once: a commit whose label another action also reads, a
  * direct cache, a planned cache on a label read once (elided) and a label
  * cached through the session conf. Each prepared action is recorded as
  * (action name, sorted tags, sorted depends-on tags) in flow order. */
class PreparedFlowSpec extends SparkTestBase with Matchers {

  private def flow(root: String): SparkDataFlow =
    Graft.sparkFlow(spark, s"$root/tmp")
      .tag("load")(
        _.openFileParquet(s"${sf()}/region.parquet", "region")
          .openFileParquet(s"${sf()}/nation.parquet", "nation"))
      .tagDependency("load")(
        _.transform("region")("enriched")(_.withColumn("x", lit(1)))
          .transform("enriched")("enriched_keys")(_.select("r_regionkey")))
      .transform("nation")("shared")(_.withColumn("y", lit(2)))
      .cacheAsParquet("shared")
      .transform("shared")("shared_a")(_.select("n_nationkey"))
      .transform("shared")("shared_b")(_.select("n_name"))
      .transform("nation")("single")(_.select("n_regionkey"))
      .transform("single")("single_out")(_.distinct())
      .cacheAsParquetPlanned("single")
      .transform("region")("confed")(_.select("r_name"))
      .transform("confed")("confed_a")(identity(_))
      .transform("confed")("confed_b")(identity(_))
      .commit("pub")("enriched", "nation")
      .push("pub")(ParquetDataCommitter(s"$root/published")
        .snapshotFolder("snap=1").dateBasedSnapshotCleanup(1))

  private def withConfCache[T](labels: String)(body: => T): T = {
    spark.conf.set("spark.graft.dataflow.extensions", "cacheasparquet")
    spark.conf.set("spark.graft.spark.cacheAsParquet.labels", labels)
    try body finally {
      spark.conf.unset("spark.graft.dataflow.extensions")
      spark.conf.unset("spark.graft.spark.cacheAsParquet.labels")
    }
  }

  describe("flow preparation") {
    it("expands commits, then applies caches, in a fixed DAG") {
      withConfCache("confed") {
        val prepared = flow(s"$tmpDir/prepared").prepareForExecution().get
        val tags = prepared.state.tagState
        prepared.actions.map { a =>
          val meta = tags.forAction(a.guid)
          (a.actionName, meta.tags.toSeq.sorted, meta.dependsOnTags.toSeq.sorted)
        } shouldBe Seq(
          ("open:region", Seq("load"), Seq()),
          ("cacheAsParquet:open:nation", Seq("load"), Seq()),
          ("cacheAsParquet:transform:enriched", Seq(), Seq("load")),
          ("transform:enriched_keys", Seq(), Seq("load")),
          ("cacheAsParquet:transform:shared", Seq(), Seq()),
          ("transform:shared_a", Seq(), Seq()),
          ("transform:shared_b", Seq(), Seq()),
          ("transform:single", Seq(), Seq()),
          ("transform:single_out", Seq(), Seq()),
          ("cacheAsParquet:transform:confed", Seq(), Seq()),
          ("transform:confed_a", Seq(), Seq()),
          ("transform:confed_b", Seq(), Seq()),
          ("commitStage:pub/enriched", Seq("commit-stage-pub"), Seq()),
          ("commitStage:pub/nation", Seq("commit-stage-pub"), Seq()),
          ("commitMove:pub", Seq("commit-move-pub"), Seq("commit-stage-pub")),
          ("commitCleanup:pub", Seq("commit-finish-pub"), Seq("commit-move-pub")))
      }
    }

    it("executes the prepared flow and publishes every committed label") {
      withConfCache("confed") {
        val root = s"$tmpDir/executed"
        // keep the temp folder: `confed_b` reads the parquet cache of `confed`
        val (_, done) = Graft.sparkExecutor(4)
          .execute(flow(root).copy(removeTempAfterExecution = false))
        spark.read.parquet(s"$root/published/enriched/snap=1").count() shouldBe 5
        spark.read.parquet(s"$root/published/nation/snap=1").count() shouldBe 25
        done.inputs.get[org.apache.spark.sql.Dataset[_]]("confed_b").count() shouldBe 5
      }
    }
  }
}
