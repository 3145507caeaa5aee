package graft.storage

import org.scalatest.matchers.should.Matchers

import java.sql.Timestamp

import graft.{JobCounting, SparkTestBase}

/** Guards the storage reads against schema-inference jobs creeping back: a
  * table opened from its `.regioninfo` cache knows its schema, so building
  * a read frame lists files but reads no footer. Jobs are counted by a
  * listener, by job group. */
class StorageJobsSpec extends SparkTestBase with JobCounting with Matchers {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** A two-region table, reopened from its cache. */
  private def cachedTable(name: String, meta: Map[String, String] = Map.empty): AuditTable = {
    Storage.getOrCreateTable(spark, tmpDir,
      AuditTableInfo(name, Seq("id"), meta, retainHistory = false))
      .append(Seq((1L, "a"), (2L, "a")).toDF("id", "v"), None, ts("2024-01-01 00:00:00"))
      .append(Seq((2L, "b")).toDF("id", "v"), None, ts("2024-01-02 00:00:00")): Unit
    var opened: AuditTable = null
    jobsOf { opened = Storage.openTable(spark, tmpDir, name).get } shouldBe 0
    opened
  }

  it("building the snapshot, allBetween and compaction input frames starts no Spark job") {
    val t = cachedTable("jobs_reads")
    jobsOf(t.snapshot(ts("2024-06-01 00:00:00")).get: Unit) shouldBe 0
    jobsOf(t.allBetween(None, None).get: Unit) shouldBe 0
    // compact reads its inputs (here every region) through readRegions
    jobsOf(t.readRegions(t.activeRegions).get: Unit) shouldBe 0
    t.snapshot(ts("2024-06-01 00:00:00")).get.select("id", "v").as[(Long, String)]
      .collect().sortBy(_._1) shouldBe Array((1L, "a"), (2L, "b"))
  }

  it("a point lookup starts only its probe-hash job") {
    val t = cachedTable("jobs_point", Map(AuditTable.PkBloomKey -> "true"))
    var found: org.apache.spark.sql.DataFrame = null
    jobsOf { found = t.snapshotPoint(ts("2024-06-01 00:00:00"), Seq(Seq(2L))).get } shouldBe 1
    found.select("id", "v").as[(Long, String)].collect() shouldBe Array((2L, "b"))
  }

  it("an append starts exactly one job: its write") {
    val t = cachedTable("jobs_append")
    jobsOf(t.append(Seq((3L, "c")).toDF("id", "v"), None, ts("2024-01-03 00:00:00")): Unit) shouldBe 1
  }
}
