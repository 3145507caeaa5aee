package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.sql.Timestamp

import graft.{JobCounting, SparkTestBase}

/** Schema evolution of audit tables: appends may add top-level columns and
  * nested struct fields; the handle records the merged schema, the
  * `.regioninfo` cache keeps it, and every read path serves older rows
  * with nulls in the newer columns. */
class StorageSchemaSpec extends SparkTestBase with JobCounting with Matchers {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
  private val Later = ts("2024-06-01 00:00:00")

  private def cacheFile(name: String) = new java.io.File(s"$tmpDir/.regioninfo/$name")

  /** Two appends: the second adds `info.b` (nested) and `extra` (top level). */
  private def evolved(name: String): AuditTable = {
    val t0 = Storage.getOrCreateTable(spark, tmpDir,
      AuditTableInfo(name, Seq("id"), Map.empty, retainHistory = false))
    val v1 = Seq((1L, "x", 10L)).toDF("id", "name", "a")
      .select(col("id"), col("name"), struct(col("a")).as("info"))
    val v2 = Seq((2L, "y", 20L, "b2", 7)).toDF("id", "name", "a", "b", "extra")
      .select(col("id"), col("name"), struct(col("a"), col("b")).as("info"), col("extra"))
    t0.append(v1, None, ts("2024-01-01 00:00:00"))
      .append(v2, None, ts("2024-01-02 00:00:00"))
  }

  private def rows(t: AuditTable): Seq[Seq[Any]] =
    t.snapshot(Later).get.select("id", "name", "info.a", "info.b", "extra")
      .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])

  private val expectedRows = Seq(Seq(1L, "x", 10L, null, null), Seq(2L, "y", 20L, "b2", 7))

  private def pairs(t: AuditTable): Set[(String, org.apache.spark.sql.types.DataType)] =
    t.schema.map(f => (f.name, f.dataType)).toSet

  /** A handle over the same regions that was given no schema. */
  private def schemaless(t: AuditTable): AuditTable =
    new AuditTable(t.info, t.regions, new Path(tmpDir),
      new FileStorageOps(spark, Some(new Path(tmpDir))), spark)

  it("added top-level and nested columns read as null for older rows, through every open path") {
    val t = evolved("evolve")
    rows(t) shouldBe expectedRows
    rows(Storage.openTable(spark, tmpDir, "evolve").get) shouldBe expectedRows // cache hit
    rows(schemaless(t)) shouldBe expectedRows
    Files.writeString(cacheFile("evolve").toPath, "garbage|not|valid")
    rows(Storage.openTable(spark, tmpDir, "evolve").get) shouldBe expectedRows // rebuilt
    val compacted = Storage.openTable(spark, tmpDir, "evolve").get
      .compact(ts("2024-01-03 00:00:00"), partitioner = TotalCellsPartitioner())
    compacted.hotRegions shouldBe empty
    rows(compacted) shouldBe expectedRows
    rows(Storage.openTable(spark, tmpDir, "evolve").get) shouldBe expectedRows
  }

  it("the schema is the same from a cache hit, a rebuilt cache and a handle given none") {
    val t = evolved("same_schema")
    val hit = Storage.openTable(spark, tmpDir, "same_schema").get
    // a cache hit keeps the append order: older columns first
    hit.schema.fieldNames.toSeq shouldBe Seq("id", "name", "info", AuditTable.AuditColumn, "extra")
    hit.schema("info").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq shouldBe Seq("a", "b")
    hit.schema shouldBe t.schema
    pairs(schemaless(t)) shouldBe pairs(hit)
    cacheFile("same_schema").delete() shouldBe true
    pairs(Storage.openTable(spark, tmpDir, "same_schema").get) shouldBe pairs(hit)
  }

  it("an append whose column type conflicts fails before its region exists; the table still reads") {
    val t1 = Storage.getOrCreateTable(spark, tmpDir,
      AuditTableInfo("clash", Seq("id"), Map.empty, retainHistory = false))
      .append(Seq((1L, "x")).toDF("id", "v"), None, ts("2024-01-01 00:00:00"))
    val hot = new java.io.File(s"$tmpDir/clash/${AuditTable.TypeColumn}=${AuditTable.HotType}")
    hot.list().toSeq should have size 1
    val ex = intercept[StorageException] {
      t1.append(Seq((2L, 5L)).toDF("id", "v"), None, ts("2024-01-02 00:00:00"))
    }
    ex.getMessage should include("[clash]")
    ex.getMessage should include("does not merge")
    hot.list().toSeq should have size 1
    // nothing was staged for the next region id either
    def under(f: java.io.File): Seq[String] =
      Option(f.listFiles()).toSeq.flatten.flatMap(c => c.getName +: under(c))
    under(new java.io.File(s"$tmpDir/.tmp")).filter(_.contains("r00000000000000000001")) shouldBe empty
    Storage.openTable(spark, tmpDir, "clash").get.snapshot(Later).get
      .select("id", "v").as[(Long, String)].collect() shouldBe Array((1L, "x"))
  }

  it("an old-format region cache (no schema line) is rebuilt once, then hit") {
    val t = evolved("old_cache")
    val path = cacheFile("old_cache").toPath
    val lines = Files.readAllLines(path, StandardCharsets.UTF_8)
    lines.get(0) should startWith("schema|")
    // the six-field region lines alone are the older format
    Files.write(path, lines.subList(1, lines.size), StandardCharsets.UTF_8)
    var rebuilt: AuditTable = null
    jobsOf { rebuilt = Storage.openTable(spark, tmpDir, "old_cache").get } should be > 0
    Files.readAllLines(path, StandardCharsets.UTF_8).get(0) should startWith("schema|")
    var hit: AuditTable = null
    jobsOf { hit = Storage.openTable(spark, tmpDir, "old_cache").get } shouldBe 0
    pairs(rebuilt) shouldBe pairs(t)
    hit.regions.map(_.count).sorted shouldBe Seq(1L, 1L)
    rows(hit) shouldBe expectedRows
  }
}
