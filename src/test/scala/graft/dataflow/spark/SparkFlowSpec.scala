package graft.dataflow.spark

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase
import graft.dataflow.FlowException
import graft.dataflow.spark.actions._

class SparkFlowSpec extends SparkTestBase with Matchers {

  private def executor = Graft.sparkExecutor(8)

  describe("end-to-end Spark flow") {
    it("opens parquet, transforms, runs sql joins, writes parquet") {
      val out = s"$tmpDir/e2e"
      val flow = Graft.sparkFlow(spark, s"$tmpDir/e2e-tmp")
        .openFileParquet(s"${sf()}/lineitem.parquet", "lineitem")
        .openFileParquet(s"${sf()}/orders.parquet", "orders")
        .transform("lineitem")("agg") { li =>
          li.groupBy("l_orderkey")
            .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        }
        .sql("agg", "orders")("joined",
          """select o.o_orderkey, o.o_orderdate, a.revenue
            |from agg a join orders o on a.l_orderkey = o.o_orderkey""".stripMargin)
        .writeParquet(out)("joined")

      val (executed, finalFlow) = executor.execute(flow)
      executed.size shouldBe 5
      val joined = spark.read.parquet(s"$out/joined")
      joined.columns.sorted shouldBe Array("o_orderdate", "o_orderkey", "revenue")
      joined.count() should be > 0L
      // every order with lineitems is present exactly once
      val expected = spark.read.parquet(s"${sf()}/lineitem.parquet")
        .select("l_orderkey").distinct().count()
      joined.count() shouldBe expected
    }

    it("writes z-ordered parquet whose row-group stats bound every " +
        "clustered column") {
      val out = s"$tmpDir/zorder-action"
      val flow = Graft.sparkFlow(spark)
        .openFileParquet(s"${sf()}/lineitem.parquet", "lineitem")
        .writeZOrderedParquet(out, numFiles = 4)(
          "lineitem", "l_orderkey", "l_partkey")
      executor.execute(flow)
      val back = spark.read.parquet(s"$out/lineitem")
      back.count() shouldBe
        spark.read.parquet(s"${sf()}/lineitem.parquet").count()
      // each file's l_partkey range must be a strict subset of the global
      // range for most files (a plain l_orderkey sort leaves every file
      // spanning all of l_partkey)
      val global = back.agg(max("l_partkey") - min("l_partkey")).head().getLong(0)
      val perFile = back
        .withColumn("f", input_file_name())
        .groupBy("f").agg((max("l_partkey") - min("l_partkey")).as("span"))
        .select("span").collect().map(_.getLong(0))
      perFile.length shouldBe 4
      assert(perFile.count(_ <= global * 3 / 4) >= 2,
        s"no per-file l_partkey narrowing: $global vs ${perFile.mkString(",")}")
    }

    it("runs independent branches in parallel pools") {
      val flow = Graft.sparkFlow(spark)
        .executionPool("a")(
          _.openFileParquet(s"${sf()}/customer.parquet", "customer")
            .transform("customer")("c2")(_.select("c_custkey")))
        .executionPool("b")(
          _.openFileParquet(s"${sf()}/supplier.parquet", "supplier")
            .transform("supplier")("s2")(_.select("s_suppkey")))
      val (executed, finalFlow) = executor.execute(flow)
      executed.size shouldBe 4
      finalFlow.inputs.labels should contain allOf ("c2", "s2")
    }

    it("caches a reused label as parquet and cuts lineage") {
      // keep the temp folder alive so cached entities stay readable after the
      // flow finishes (default behaviour deletes it at finaliseExecution)
      val flow = Graft.sparkFlow(spark, s"$tmpDir/cache-tmp")
        .copy(removeTempAfterExecution = false)
        .openFileParquet(s"${sf()}/nation.parquet", "nation")
        .transform("nation")("enriched")(_.withColumn("x", lit(1)))
        .cacheAsParquet("enriched")
        .transform("enriched")("left")(_.select("n_nationkey"))
        .transform("enriched")("right")(_.select("n_name"))
      val (executed, finalFlow) = executor.execute(flow)
      executed.size shouldBe 4
      finalFlow.inputs.get[org.apache.spark.sql.Dataset[_]]("left").count() shouldBe 25
      // cached dataset reads from the temp parquet, not the original lineage
      val enriched = finalFlow.inputs.get[org.apache.spark.sql.Dataset[_]]("enriched")
      // plan is a bare parquet source read, not the original transform lineage
      enriched.queryExecution.logical.toString.toLowerCase should include("parquet")
    }

    it("cacheAsParquet keeps the producer's column names, types and order, also when empty") {
      val produce = (nation: org.apache.spark.sql.DataFrame) => nation.select(
        col("n_name"), col("n_nationkey"),
        lit(1.5).cast("decimal(10,2)").as("amount"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("at"),
        struct(col("n_regionkey").as("region"), upper(col("n_name")).as("upper")).as("nested"),
        array(col("n_name")).as("names"))
      val flow = Graft.sparkFlow(spark, s"$tmpDir/cache-schema-tmp")
        .copy(removeTempAfterExecution = false)
        .openFileParquet(s"${sf()}/nation.parquet", "nation")
        .transform("nation")("shaped")(produce)
        .transform("shaped")("none")(_.filter(lit(false)))
        .cacheAsParquet("shaped", "none")
      val (_, done) = executor.execute(flow)
      val expected = produce(spark.read.parquet(s"${sf()}/nation.parquet"))
        .schema.map(f => (f.name, f.dataType))
      Seq("shaped", "none").foreach { label =>
        val cached = done.inputs.get[org.apache.spark.sql.Dataset[_]](label)
        cached.queryExecution.logical.toString.toLowerCase should include("parquet")
        cached.schema.map(f => (f.name, f.dataType)) shouldBe expected
      }
      done.inputs.get[org.apache.spark.sql.Dataset[_]]("shaped").count() shouldBe 25
      done.inputs.get[org.apache.spark.sql.Dataset[_]]("none").count() shouldBe 0
    }

    it("cacheAsPartitionedParquet lays out the cache for downstream partition pruning") {
      val flow = Graft.sparkFlow(spark, s"$tmpDir/pcache-tmp")
        .copy(removeTempAfterExecution = false)
        .openFileParquet(s"${sf()}/nation.parquet", "nation")
        .transform("nation")("enriched")(_.withColumn("x", lit(1)))
        .cacheAsPartitionedParquet(Seq("n_regionkey"))("enriched")
        .transform("enriched")("one_region")(
          _.filter(org.apache.spark.sql.functions.col("n_regionkey") === 2)
            .select("n_nationkey"))
      val (executed, finalFlow) = executor.execute(flow)
      executed.size shouldBe 3
      // the cached copy is a real Hive layout on disk...
      val dirs = new java.io.File(s"$tmpDir/pcache-tmp/enriched").list()
      dirs.count(_.startsWith("n_regionkey=")) shouldBe 5
      // ...and a partition-column filter PRUNES it: the executed scan reads
      // one of the five directories (PartitionFilters prune at planning)
      val pruned = finalFlow.inputs.get[org.apache.spark.sql.Dataset[_]]("one_region")
      pruned.count() shouldBe 5 // 5 nations in region 2
      val scan = pruned.queryExecution.executedPlan.collectLeaves().head
      val partInfo = scan.toString
      partInfo should include("PartitionFilters")
      partInfo should include("n_regionkey")
      // repartition=true clusters rows: one file per partition directory
      new java.io.File(s"$tmpDir/pcache-tmp/enriched/n_regionkey=2")
        .list().count(_.endsWith(".parquet")) shouldBe 1
    }

    it("cacheAsPartitionedParquet preserves schema exactly and passes empty datasets through") {
      import org.apache.spark.sql.functions.{col, lit}
      val flow = Graft.sparkFlow(spark, s"$tmpDir/pcache2-tmp")
        .copy(removeTempAfterExecution = false)
        .openFileParquet(s"${sf()}/nation.parquet", "nation")
        // a STRING partition column with leading zeros: directory-name type
        // inference would silently turn '01' into int 1 and shuffle the
        // column to the end of the schema
        .transform("nation")("coded")(
          _.withColumn("code", org.apache.spark.sql.functions
            .format_string("%02d", col("n_regionkey"))))
        .cacheAsPartitionedParquet(Seq("code"))("coded")
        // an EMPTY intermediate: a partitioned write of 0 rows has no
        // footers to re-open — it must pass through uncached
        .transform("nation")("none")(_.filter(lit(false)))
        .cacheAsPartitionedParquet(Seq("n_regionkey"))("none")
      val (_, done) = executor.execute(flow)
      val coded = done.inputs.get[org.apache.spark.sql.Dataset[_]]("coded")
      coded.schema.fieldNames.last shouldBe "code" // original order kept
      coded.schema("code").dataType shouldBe org.apache.spark.sql.types.StringType
      coded.toDF().where(col("code") === "01").count() shouldBe 5 // '01' stays '01'
      done.inputs.get[org.apache.spark.sql.Dataset[_]]("none").count() shouldBe 0
    }

    it("sparkCache persists eagerly") {
      val flow = Graft.sparkFlow(spark)
        .openFileParquet(s"${sf()}/region.parquet", "region")
        .sparkCache("region")
        .transform("region")("n")(_.select("r_name"))
      val (_, finalFlow) = executor.execute(flow)
      val cached = finalFlow.inputs.get[org.apache.spark.sql.Dataset[_]]("region")
      cached.storageLevel.useMemory shouldBe true
      cached.unpersist()
    }

    it("writeAsNamedFiles produces deterministic file names") {
      val flow = Graft.sparkFlow(spark, s"$tmpDir/named-tmp")
        .openFileParquet(s"${sf()}/region.parquet", "region")
        .writeAsNamedFiles("region", s"$tmpDir/named-out", 2, "regions")
      executor.execute(flow)
      val files = new java.io.File(s"$tmpDir/named-out").list().sorted
      files.count(_.startsWith("regions.")) shouldBe 2
      files.filter(_.startsWith("regions.")).foreach(_ should endWith(".parquet"))
    }

    it("alias and partitionSort preserve data") {
      val flow = Graft.sparkFlow(spark)
        .openFileParquet(s"${sf()}/nation.parquet", "nation")
        .alias("nation", "nation2")
        .partitionSort("nation2", "sorted")("n_regionkey")("n_nationkey")
      val (_, finalFlow) = executor.execute(flow)
      finalFlow.inputs.get[org.apache.spark.sql.Dataset[_]]("sorted").count() shouldBe 25
    }

    it("tagDependency orders write-then-read-folder flows") {
      val stage = s"$tmpDir/staged"
      val flow = Graft.sparkFlow(spark)
        .openFileParquet(s"${sf()}/region.parquet", "region")
        .tag("staged")(
          _.writeParquet(stage, overwrite = true)("region"))
        .tagDependency("staged")(
          _.open("reopened")(ctx => ctx.spark.read.parquet(s"$stage/region")))
      val (_, finalFlow) = executor.execute(flow)
      finalFlow.inputs.get[org.apache.spark.sql.Dataset[_]]("reopened").count() shouldBe 5
    }

    it("rejects sql labels that are not valid table names") {
      intercept[FlowException] {
        Graft.sparkFlow(spark)
          .openFileParquet(s"${sf()}/region.parquet", "bad-label")
          .sql("bad-label")("out", "select * from `bad-label`")
      }
    }

    it("unitTransform side-effects without outputs") {
      val seen = new java.util.concurrent.atomic.AtomicLong(0)
      val flow = Graft.sparkFlow(spark)
        .openFileParquet(s"${sf()}/region.parquet", "region")
        .unitTransform("region")("counting")(dfs => seen.set(dfs.head.count()))
      executor.execute(flow)
      seen.get() shouldBe 5
    }

    it("++ merges both flows' commits") {
      import graft.dataflow.spark.commit._
      val left = Graft.sparkFlow(spark, s"$tmpDir/merge-tmp")
        .openFileParquet(s"${sf()}/region.parquet", "region")
        .commit("pub")("region")
        .push("pub")(ParquetDataCommitter(s"$tmpDir/merge-out"))
      val right = Graft.sparkFlow(spark, s"$tmpDir/merge-tmp")
        .openFileParquet(s"${sf()}/nation.parquet", "nation")
        .commit("pub2")("nation")
        .push("pub2")(ParquetDataCommitter(s"$tmpDir/merge-out"))

      val merged = left ++ right
      merged.commitPlan.commits.keySet shouldBe Set("pub", "pub2") // right flow's commit survives
      merged.commitPlan.pushes.keySet shouldBe Set("pub", "pub2")

      // both publishes actually run after the merge
      val (_, _) = executor.execute(merged)
      spark.read.parquet(s"$tmpDir/merge-out/region").count() shouldBe 5
      spark.read.parquet(s"$tmpDir/merge-out/nation").count() shouldBe 25
    }

    it("++ refuses to merge flows that bind a committer for the same commit name") {
      import graft.dataflow.spark.commit._
      val l = Graft.sparkFlow(spark)
        .openFileParquet(s"${sf()}/region.parquet", "region")
        .commit("dup")("region").push("dup")(ParquetDataCommitter(s"$tmpDir/x"))
      val r = Graft.sparkFlow(spark)
        .openFileParquet(s"${sf()}/nation.parquet", "nation")
        .commit("dup")("nation").push("dup")(ParquetDataCommitter(s"$tmpDir/y"))
      intercept[FlowException] { l ++ r }
    }

    it("bucketed tables join without a shuffle") {
      spark.sql("create database if not exists graft_bucket_test")
      Seq("orders_b", "customer_b").foreach { t =>
        spark.sql(s"drop table if exists graft_bucket_test.$t")
        val loc = new java.io.File(
          spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
          s"graft_bucket_test.db/$t")
        org.apache.commons.io.FileUtils.deleteQuietly(loc)
      }
      val flow = Graft.sparkFlow(spark)
        .openFileParquet(s"${sf()}/orders.parquet", "orders_b")
        .openFileParquet(s"${sf()}/customer.parquet", "customer_b")
        .writeBucketedTable("graft_bucket_test", 4,
          bucketCols = Seq("o_custkey"), overwrite = true)("orders_b")
        .writeBucketedTable("graft_bucket_test", 4,
          bucketCols = Seq("c_custkey"), overwrite = true)("customer_b")
      executor.execute(flow)

      // force the shuffle-join path (a broadcast would sidestep bucketing on
      // these tiny test tables; at fact-table scale there is no broadcast)
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val joined = spark.table("graft_bucket_test.orders_b")
          .join(spark.table("graft_bucket_test.customer_b"),
            col("o_custkey") === col("c_custkey"))
        joined.count() shouldBe spark.read.parquet(s"${sf()}/orders.parquet").count()
        val plan = joined.queryExecution.executedPlan.toString
        // both sides report bucketed output partitioning: no Exchange feeds the join
        plan should include("SortMergeJoin")
        plan should not include "Exchange hashpartitioning"
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }

    it("writeHiveManagedTable round-trips through openTable") {
      spark.sql("create database if not exists graft_mt_test")
      spark.sql("drop table if exists graft_mt_test.region")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
        "graft_mt_test.db/region"))
      val write = Graft.sparkFlow(spark)
        .openFileParquet(s"${sf()}/region.parquet", "region")
        .writeHiveManagedTable("graft_mt_test")("region")
      executor.execute(write)

      val read = Graft.sparkFlow(spark)
        .openTable("graft_mt_test")("region")
        .transform("region")("names")(_.select("r_name"))
      val (_, done) = executor.execute(read)
      done.inputs.get[org.apache.spark.sql.Dataset[_]]("names").count() shouldBe 5
    }

    it("openCSV round-trips a writeCSV output") {
      val base = s"$tmpDir/csv"
      val write = Graft.sparkFlow(spark)
        .openFileParquet(s"${sf()}/region.parquet", "region")
        .writeCSV(base, Map("header" -> "true"))("region")
      executor.execute(write)
      val read = Graft.sparkFlow(spark).openCSV(base)("region")
      val (_, f2) = executor.execute(read)
      f2.inputs.get[org.apache.spark.sql.Dataset[_]]("region").count() shouldBe 5
    }

    it("openORC and openJSON round-trip their write actions") {
      val write = Graft.sparkFlow(spark)
        .openFileParquet(s"${sf()}/region.parquet", "region")
        .writeORC(s"$tmpDir/orc")("region")
        .writeJSON(s"$tmpDir/json")("region")
      executor.execute(write)

      val (_, orcDone) = executor.execute(
        Graft.sparkFlow(spark).openORC(s"$tmpDir/orc")("region"))
      val (_, jsonDone) = executor.execute(
        Graft.sparkFlow(spark).openJSON(s"$tmpDir/json",
          schema = Some("r_regionkey BIGINT, r_name STRING, r_comment STRING"))("region"))
      val orc = orcDone.inputs.get[org.apache.spark.sql.Dataset[_]]("region").toDF()
      val json = jsonDone.inputs.get[org.apache.spark.sql.Dataset[_]]("region").toDF()
      orc.count() shouldBe 5
      json.count() shouldBe 5
      json.columns.toSeq shouldBe Seq("r_regionkey", "r_name", "r_comment")
      orc.select("r_name").except(json.select("r_name")).count() shouldBe 0
    }
  }
}
