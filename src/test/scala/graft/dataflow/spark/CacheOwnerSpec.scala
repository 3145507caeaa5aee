package graft.dataflow.spark

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.lit
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase
import graft.dataflow.spark.actions._
import graft.dataflow.spark.caching._
import graft.dataflow.spark.commit._

/** Every way of asking for a cache — direct interceptor, planned request,
  * session-conf label, committed label read by another action — ends in at
  * most one cache wrapper on the label's producer. A second parquet wrapper
  * would overwrite the folder the first one is still reading. */
class CacheOwnerSpec extends SparkTestBase with Matchers {

  private val cacheKinds = Set("cacheAsParquet", "cacheAsPartitionedParquet", "sparkCache")

  /** Cache wrappers around the prepared producer of `label`. */
  private def wrappers(flow: SparkDataFlow, label: String): Seq[String] =
    flow.actions.find(_.outputLabels.contains(label)).get
      .actionName.split(":").toSeq.filter(cacheKinds)

  /** A label produced once and read by two actions. The temp folder is kept
    * so that `c1` can still read a parquet cache after the run. */
  private def reused(root: String): SparkDataFlow =
    Graft.sparkFlow(spark, s"$root/tmp").copy(removeTempAfterExecution = false)
      .openFileParquet(s"${sf()}/region.parquet", "region")
      .transform("region")("reused")(_.withColumn("x", lit(1)))
      .transform("reused")("c1")(_.select("r_regionkey"))
      .transform("reused")("c2")(_.select("r_name"))

  private def runs(flow: SparkDataFlow): Unit = {
    val (_, done) = Graft.sparkExecutor(4).execute(flow)
    done.inputs.get[Dataset[_]]("c1").count() shouldBe 5
  }

  describe("one cache wrapper per label") {
    it("a direct cache and a planned request on the same label") {
      val flow = reused(s"$tmpDir/direct-planned")
        .cacheAsParquet("reused").cacheAsParquetPlanned("reused")
      wrappers(flow.prepareForExecution().get, "reused") shouldBe Seq("cacheAsParquet")
      runs(flow)
    }

    it("a direct cache and a conf-listed label") {
      spark.conf.set("spark.graft.dataflow.extensions", "cacheasparquet")
      spark.conf.set("spark.graft.spark.cacheAsParquet.labels", "reused")
      try {
        val flow = reused(s"$tmpDir/direct-conf").cacheAsParquet("reused")
        wrappers(flow.prepareForExecution().get, "reused") shouldBe Seq("cacheAsParquet")
        runs(flow)
      } finally {
        spark.conf.unset("spark.graft.dataflow.extensions")
        spark.conf.unset("spark.graft.spark.cacheAsParquet.labels")
      }
    }

    it("a planned Spark cache on a committed label another action reads") {
      val root = s"$tmpDir/planned-commit"
      val flow = reused(root)
        .sparkCachePlanned("reused")
        .commit("pub")("reused")
        .push("pub")(ParquetDataCommitter(s"$root/published"))
      wrappers(flow.prepareForExecution().get, "reused") shouldBe Seq("sparkCache")
      runs(flow)
      spark.read.parquet(s"$root/published/reused").count() shouldBe 5
    }

    it("a direct partitioned cache on a committed label another action reads") {
      val root = s"$tmpDir/partitioned-commit"
      val flow = reused(root)
        .cacheAsPartitionedParquet(Seq("r_regionkey"))("reused")
        .commit("pub")("reused")
        .push("pub")(ParquetDataCommitter(s"$root/published"))
      wrappers(flow.prepareForExecution().get, "reused") shouldBe
        Seq("cacheAsPartitionedParquet")
      runs(flow)
      spark.read.parquet(s"$root/published/reused").count() shouldBe 5
    }
  }

  describe("commit phases") {
    it("a planned cache on a committed label that only staging reads is elided") {
      val root = s"$tmpDir/only-committed"
      val flow = Graft.sparkFlow(spark, s"$root/tmp")
        .openFileParquet(s"${sf()}/region.parquet", "region")
        .transform("region")("only_committed")(_.withColumn("x", lit(1)))
        .cacheAsParquetPlanned("only_committed")
        .commit("pub")("only_committed")
        .push("pub")(ParquetDataCommitter(s"$root/published"))
      val prepared = flow.prepareForExecution().get
      wrappers(prepared, "only_committed") shouldBe empty
      prepared.actions.filter(_.actionName.startsWith("commitMove")).map(_.inputLabels) shouldBe
        Seq(Nil)
      Graft.sparkExecutor(4).execute(flow)
      spark.read.parquet(s"$root/published/only_committed").count() shouldBe 5
    }
  }
}
