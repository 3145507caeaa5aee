package graft.app

import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase
import graft.configuration.{ConfigException, ConfigParser}
import graft.dataflow.spark.SparkDataFlow
import graft.dataflow.spark.actions._
import graft.dataflow.spark.caching._

final case class TestConf(
    name: String,
    count: Int = 7,
    ratio: Double = 0.5,
    enabled: Boolean = true,
    tags: Seq[String] = Seq.empty,
    note: Option[String] = None)

final case class OptDefConf(
    name: String,
    region: Option[String] = Some("eu-west-1"))

/** Object whose initializer throws — exercises the
  * ExceptionInInitializerError path of ConfigParser.buildersFromConf. */
object CrashingInitBuilder extends graft.configuration.PropertyProviderBuilder {
  if (true) throw new RuntimeException("boom at init")
  def getPropertyProvider(spark: org.apache.spark.sql.SparkSession): ConfigParser.PropertyProvider =
    throw new UnsupportedOperationException
}

/** No-arg-constructible app for the EnvironmentManager reflection path. */
class EnvManagerTestApp extends GraftApp[BaseEnv] {
  def flow(emptyFlow: SparkDataFlow, env: BaseEnv): SparkDataFlow = emptyFlow
}

class AppSpec extends SparkTestBase with Matchers {

  describe("config parser") {
    it("resolves values by prefix with defaults and options") {
      val conf = ConfigParser.fromMap[TestConf](
        Map("app.name" -> "graft", "app.tags" -> "a, b ,c", "app.note" -> "hi"),
        prefix = "app.")
      conf shouldBe TestConf("graft", 7, 0.5, enabled = true, Seq("a", "b", "c"), Some("hi"))
    }

    it("fails on missing required keys") {
      intercept[ConfigException] { ConfigParser.fromMap[TestConf](Map.empty, "app.") }
        .getMessage should include("app.name")
    }

    it("reads typed values from the spark conf") {
      spark.conf.set("t.name", "fromconf")
      spark.conf.set("t.count", "42")
      val conf = ConfigParser[TestConf](spark, "t.")
      conf.name shouldBe "fromconf"
      conf.count shouldBe 42
    }

    it("treats the separator literally, honours Option defaults") {
      val conf = ConfigParser.fromMap[TestConf](
        Map("app.name" -> "x", "app.tags" -> "a|b"), "app.", separator = "|")
      conf.tags shouldBe Seq("a", "b") // "|" as regex would split every char
      val opt = ConfigParser.fromMap[OptDefConf](Map("c.name" -> "x"), "c.")
      opt.region shouldBe Some("eu-west-1") // declared default beats implicit None
      val overridden = ConfigParser.fromMap[OptDefConf](
        Map("c.name" -> "x", "c.region" -> "us-east-1"), "c.")
      overridden.region shouldBe Some("us-east-1")
    }

    it("retries flaky property providers and fails after the retry budget") {
      val calls = new java.util.concurrent.atomic.AtomicInteger(0)
      val flaky = new ConfigParser.PropertyProvider {
        def get(key: String): Option[String] =
          if (calls.incrementAndGet() < 3) throw new RuntimeException("transient")
          else if (key == "flaky.name") Some("recovered")
          else None
      }
      val conf = ConfigParser[TestConf](spark, "flaky.", extraProviders = Seq(flaky))
      conf.name shouldBe "recovered" // succeeded on the 3rd attempt
      val alwaysDown = new ConfigParser.PropertyProvider {
        def get(key: String): Option[String] = throw new RuntimeException("down")
      }
      intercept[ConfigException] {
        ConfigParser[TestConf](spark, "down.", extraProviders = Seq(alwaysDown))
      }.getMessage should include("after 4 attempts")
    }

    it("misnamed builder modules fail with the friendly ConfigException, " +
        "whatever the reflective failure mode") {
      def withModules[A](v: String)(f: => A): A =
        try { spark.conf.set(ConfigParser.BuilderModulesKey, v); f }
        finally spark.conf.unset(ConfigParser.BuilderModulesKey)
      // absent class
      withModules("no.such.Thing") {
        intercept[ConfigException] {
          ConfigParser.buildersFromConf(spark)
        }.getMessage should include("not found")
      }
      // a PLAIN CLASS (no MODULE$ field) used to surface a bare
      // NoSuchFieldException instead of the friendly message
      withModules("graft.configuration.ConfigException") {
        intercept[ConfigException] {
          ConfigParser.buildersFromConf(spark)
        }.getMessage should include("not found")
      }
      // an object of the wrong type
      withModules("graft.operators.Dedup") {
        intercept[ConfigException] {
          ConfigParser.buildersFromConf(spark)
        }.getMessage should include("not a PropertyProviderBuilder")
      }
      // a crashing object initializer (ExceptionInInitializerError)
      withModules("graft.app.CrashingInitBuilder") {
        intercept[ConfigException] {
          ConfigParser.buildersFromConf(spark)
        }.getMessage should include("failed to initialise")
      }
    }
  }

  describe("environments") {
    it("builds sandbox paths and database names from the naming convention") {
      val env = HiveEnv("Dev", "My-Project", "Feature.X", s"file://$tmpDir")
      env.basePath shouldBe s"file://$tmpDir/data/dev/my_project/feature_x"
      env.baseDatabaseName shouldBe "dev_my_project_feature_x"
    }

    it("creates and cleans up the environment folder") {
      val env = BaseEnv("test", "proj", "main", s"file://$tmpDir/envs")
      env.create(spark)
      new java.io.File(s"$tmpDir/envs/data/test/proj/main").exists() shouldBe true
      env.cleanup(spark)
      new java.io.File(s"$tmpDir/envs/data/test/proj/main").exists() shouldBe false
    }

    it("EnvironmentManager creates and cleans up environments from conf alone") {
      def conf(k: String, v: String) = spark.conf.set(k, v)
      conf("spark.graft.environment.ids", "e1, e2")
      conf("spark.graft.environment.action", "create")
      Seq("e1", "e2").foreach { id =>
        conf(s"spark.graft.environment.$id.appClassName", "graft.app.EnvManagerTestApp")
        conf(s"spark.graft.environment.$id.environment", id)
        conf(s"spark.graft.environment.$id.project", "proj")
        conf(s"spark.graft.environment.$id.branch", "main")
        conf(s"spark.graft.environment.$id.uri", s"file://$tmpDir/envmgr")
      }
      EnvironmentManager.performEnvironmentAction(spark)
      new java.io.File(s"$tmpDir/envmgr/data/e1/proj/main").exists() shouldBe true
      new java.io.File(s"$tmpDir/envmgr/data/e2/proj/main").exists() shouldBe true

      conf("spark.graft.environment.action", "cleanup")
      EnvironmentManager.performEnvironmentAction(spark)
      new java.io.File(s"$tmpDir/envmgr/data/e1/proj/main").exists() shouldBe false
      new java.io.File(s"$tmpDir/envmgr/data/e2/proj/main").exists() shouldBe false

      conf("spark.graft.environment.action", "recreate")
      intercept[UnsupportedOperationException] {
        EnvironmentManager.performEnvironmentAction(spark)
      }.getMessage should include("recreate")
    }
  }

  describe("multi-app runner") {
    it("runs dependent apps in order, independent ones freely") {
      val order = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
      def app(name: String, dataDir: String): MultiAppRunner.FlowApp = (base: SparkDataFlow) =>
        base.open(s"$name-src")(ctx => {
          order.add(name)
          ctx.spark.read.parquet(s"${sf()}/region.parquet")
        })
      MultiAppRunner.runAll(spark,
        Map("first" -> app("first", tmpDir), "second" -> app("second", tmpDir)),
        Map("second" -> Seq("first")))
      order.toArray.toSeq shouldBe Seq("first", "second")
    }

    it("rejects unknown dependency targets") {
      intercept[graft.dataflow.FlowException] {
        MultiAppRunner.runAll(spark, Map.empty, Map("a" -> Seq("ghost")))
      }
    }

    it("keeps transitive ordering through an app that contributed no actions") {
      // a -> b -> c with b feature-flagged off (zero actions): a must still
      // wait for c via the substituted edge, not run concurrently with it
      val order = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
      def app(name: String): MultiAppRunner.FlowApp = (base: SparkDataFlow) =>
        base.open(s"$name-src")(ctx => {
          Thread.sleep(if (name == "c") 300 else 0) // c slow: a must still come last
          order.add(name)
          ctx.spark.read.parquet(s"${sf()}/region.parquet")
        })
      val noop: MultiAppRunner.FlowApp = (base: SparkDataFlow) => base
      MultiAppRunner.runAll(spark,
        Map("a" -> app("a"), "b" -> noop, "c" -> app("c")),
        Map("a" -> Seq("b"), "b" -> Seq("c")))
      order.toArray.toSeq shouldBe Seq("c", "a")
    }
  }

  describe("conf-driven extensions") {
    it("the conf enables parquet caching of the listed labels") {
      import graft.dataflow.spark.Graft
      spark.conf.set("spark.graft.dataflow.extensions", "cacheasparquet")
      spark.conf.set("spark.graft.spark.cacheAsParquet.labels", "reused")
      try {
        val flow = Graft.sparkFlow(spark, s"$tmpDir/confext-tmp")
          .openFileParquet(s"${sf()}/region.parquet", "region")
          .transform("region")("reused")(identity(_))
          .transform("reused")("c1")(identity(_))
          .transform("reused")("c2")(identity(_))
        val prepared = flow.prepareForExecution().get
        prepared.actions.map(_.actionName).count(_.startsWith("cacheAsParquet")) shouldBe 1
      } finally {
        spark.conf.unset("spark.graft.dataflow.extensions")
        spark.conf.unset("spark.graft.spark.cacheAsParquet.labels")
      }
    }

    it("fails on unknown extension names") {
      import graft.dataflow.spark.Graft
      spark.conf.set("spark.graft.dataflow.extensions", "nonsense")
      try {
        val flow = Graft.sparkFlow(spark)
          .openFileParquet(s"${sf()}/region.parquet", "region")
        val message = flow.prepareForExecution().failed.get.getMessage
        message should include("nonsense")
        message should include("available: cacheasparquet, sparkcache")
      } finally spark.conf.unset("spark.graft.dataflow.extensions")
    }
  }

  describe("cache planning") {
    it("elides caches on labels consumed once, applies on reused labels") {
      import graft.dataflow.spark.Graft
      val flow = Graft.sparkFlow(spark, s"$tmpDir/cacheplan-tmp")
        .openFileParquet(s"${sf()}/nation.parquet", "nation")
        .transform("nation")("single")(identity(_))
        .transform("single")("consumer1")(identity(_))
        .openFileParquet(s"${sf()}/region.parquet", "region")
        .transform("region")("reused")(identity(_))
        .transform("reused")("c1")(identity(_))
        .transform("reused")("c2")(identity(_))
        .cacheAsParquetPlanned("single", "reused")
      val prepared = flow.prepareForExecution().get
      val names = prepared.actions.map(_.actionName)
      names.count(_.startsWith("cacheAsParquet")) shouldBe 1
      names.find(_.startsWith("cacheAsParquet")).get should include("reused") // intercepted
      names should contain("transform:single") // untouched (bare, not wrapped)
    }
  }
}
