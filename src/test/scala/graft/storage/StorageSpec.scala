package graft.storage

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import java.sql.Timestamp

import graft.SparkTestBase
import graft.dataflow.spark.Graft
import graft.storage.StorageActions._

class StorageSpec extends SparkTestBase with Matchers {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def mkTable(name: String, retainHistory: Boolean = true): AuditTable =
    Storage.getOrCreateTable(spark, tmpDir,
      AuditTableInfo(name, Seq("id"), Map.empty, retainHistory))

  describe("audit table lifecycle") {
    it("creates, appends and snapshots with PK dedup") {
      val t0 = mkTable("users")
      val v1 = Seq((1L, "alice", "v1"), (2L, "bob", "v1")).toDF("id", "name", "version")
      val t1 = t0.append(v1, None, ts("2024-01-01 10:00:00"))
      val v2 = Seq((1L, "alice2", "v2"), (3L, "carol", "v2")).toDF("id", "name", "version")
      val t2 = t1.append(v2, None, ts("2024-01-02 10:00:00"))

      t2.regions.size shouldBe 2
      t2.hotRegions.size shouldBe 2

      // snapshot after both: id1 -> v2 wins, id2 -> v1, id3 -> v2
      val snap = t2.snapshot(ts("2024-01-03 00:00:00")).get
        .select("id", "version").as[(Long, String)].collect().sortBy(_._1)
      snap shouldBe Array((1L, "v2"), (2L, "v1"), (3L, "v2"))

      // snapshot between the appends sees only v1
      val early = t2.snapshot(ts("2024-01-01 12:00:00")).get
        .select("id", "version").as[(Long, String)].collect().sortBy(_._1)
      early shouldBe Array((1L, "v1"), (2L, "v1"))
    }

    it("allBetween filters by audit timestamp and prunes regions") {
      val t0 = mkTable("events_t")
      val t1 = t0.append(Seq((1L, "a")).toDF("id", "payload"), None, ts("2024-01-01 00:00:00"))
      val t2 = t1.append(Seq((2L, "b")).toDF("id", "payload"), None, ts("2024-02-01 00:00:00"))
      val rows = t2.allBetween(Some(ts("2024-01-15 00:00:00")), None).get
        .select("id").as[Long].collect()
      rows shouldBe Array(2L)
    }

    it("reopens from disk with regions inferred from the folder layout") {
      val t0 = mkTable("reopen_me")
      t0.append(Seq((1L, "x")).toDF("id", "v"), None, ts("2024-01-01 00:00:00"))
      val reopened = Storage.openTable(spark, tmpDir, "reopen_me").get
      reopened.regions.size shouldBe 1
      reopened.info.primaryKeys shouldBe Seq("id")
      reopened.regions.head.count shouldBe 1
      reopened.snapshot(ts("2024-06-01 00:00:00")).get.count() shouldBe 1
    }

    it("serves region info from the cache and survives a corrupt or stale cache") {
      val t0 = mkTable("cache_me")
      val t1 = t0.append(Seq((1L, "x")).toDF("id", "v"), None, ts("2024-01-01 00:00:00"))
      t1.append(Seq((2L, "y")).toDF("id", "v"), None, ts("2024-01-02 00:00:00"))
      val cacheFile = new java.io.File(s"$tmpDir/.regioninfo/cache_me")
      cacheFile.exists() shouldBe true

      // cache hit: stats preserved exactly (incl. real creation timestamps)
      val cachedOpen = Storage.openTable(spark, tmpDir, "cache_me").get
      cachedOpen.regions.map(_.count).sorted shouldBe Seq(1L, 1L)
      cachedOpen.regions.map(_.createdOn).toSet shouldBe
        Set(ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00"))

      // corrupt cache: open falls back to the scan and rebuilds
      java.nio.file.Files.writeString(cacheFile.toPath, "garbage|not|valid")
      val rebuilt = Storage.openTable(spark, tmpDir, "cache_me").get
      rebuilt.regions.size shouldBe 2
      rebuilt.regions.map(_.count).sorted shouldBe Seq(1L, 1L)
      rebuilt.snapshot(ts("2024-06-01 00:00:00")).get.count() shouldBe 2
    }

    it("includeHot=false serves only compacted data") {
      val t0 = mkTable("cold_reader")
      val t1 = t0.append(Seq((1L, "a")).toDF("id", "v"), None, ts("2024-01-01 00:00:00"))
      // a cold-only reader sees nothing until compaction publishes
      val coldView = Storage.openTable(spark, tmpDir, "cold_reader", includeHot = false).get
      coldView.snapshot(ts("2024-06-01 00:00:00")).map(_.count()).getOrElse(0L) shouldBe 0
      t1.compact(ts("2024-01-02 00:00:00"), partitioner = TotalCellsPartitioner())
      val afterCompact = Storage.openTable(spark, tmpDir, "cold_reader", includeHot = false).get
      afterCompact.snapshot(ts("2024-06-01 00:00:00")).get.count() shouldBe 1
    }

    it("compacts hot regions into one cold region and trashes the old ones") {
      val t0 = mkTable("compact_me")
      val t1 = t0.append(Seq((1L, "a")).toDF("id", "v"), None, ts("2024-01-01 00:00:00"))
      val t2 = t1.append(Seq((2L, "b")).toDF("id", "v"), None, ts("2024-01-02 00:00:00"))
      val t3 = t2.compact(ts("2024-01-03 00:00:00"),
        partitioner = TotalCellsPartitioner())
      t3.hotRegions shouldBe empty
      t3.activeRegions.map(_.storeType) shouldBe Seq(AuditTable.ColdType)
      t3.snapshot(ts("2024-06-01 00:00:00")).get.count() shouldBe 2
      // originals moved to trash, not deleted
      val trash = new java.io.File(s"$tmpDir/.Trash/compact_me")
      trash.exists() shouldBe true
      trash.list() should not be empty
    }

    it("dedups during compaction when history is not retained") {
      val t0 = mkTable("nohist", retainHistory = false)
      val t1 = t0.append(Seq((1L, "old")).toDF("id", "v"), None, ts("2024-01-01 00:00:00"))
      val t2 = t1.append(Seq((1L, "new")).toDF("id", "v"), None, ts("2024-01-02 00:00:00"))
      val t3 = t2.compact(ts("2024-01-03 00:00:00"), partitioner = TotalCellsPartitioner())
      val rows = t3.allBetween(None, None).get.select("id", "v").as[(Long, String)].collect()
      rows shouldBe Array((1L, "new"))
    }

    it("TotalBytesPartitioner sizes from the rows' values, not their shared schema") {
      val sample = spark.range(1000).select(col("id"),
        (col("id") % 7).cast("int").as("qty"), (col("id") * 1.5).as("price"),
        format_string("item-%06d", col("id")).as("name"),
        lit(ts("2024-01-01 00:00:00")).as(AuditTable.AuditColumn))
      // 208 B per row on a 64-bit JVM with compressed oops: 21 partitions
      // of 10 MB for 1M rows. Estimating the collected rows themselves
      // walked the shared schema for every row (896 B, 90 partitions).
      TotalBytesPartitioner(bytesPerPartition = 10000000L)
        .numPartitions(sample, totalRows = 1000000L) shouldBe 21
    }

    it("z-orders the compacted region without changing its contents") {
      val t0 = mkTable("zcompact")
      val rnd = new scala.util.Random(5)
      val rows = Seq.tabulate(2000)(i =>
        (i.toLong, rnd.nextInt(1000).toLong, rnd.nextInt(1 << 20).toLong))
      val t1 = t0.append(rows.toDF("id", "a", "b"), None, ts("2024-01-01 00:00:00"))
      val t2 = t1.compact(ts("2024-01-02 00:00:00"),
        partitioner = TotalCellsPartitioner(cellsPerPartition = 2500),
        zOrderBy = Seq("a", "b"))
      t2.activeRegions.map(_.storeType) shouldBe Seq(AuditTable.ColdType)
      val back = t2.snapshot(ts("2024-06-01 00:00:00")).get
      back.select("id", "a", "b").as[(Long, Long, Long)].collect().sorted shouldBe
        rows.sorted
      // the clustered region's files each bound 'b' below the global span —
      // plain sizing (round-robin) leaves every file spanning all of it.
      // Files are inspected directly (input_file_name does not survive the
      // snapshot's dedup shuffle)
      val regionDir = new java.io.File(s"$tmpDir/zcompact")
        .listFiles.filter(_.getName ==
          s"${AuditTable.TypeColumn}=${AuditTable.ColdType}").head
        .listFiles.head
      val parts = regionDir.listFiles
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      val spans = parts.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg((max("b") - min("b")).as("span")).head()
        r.getLong(0)
      }
      val global = rows.map(_._3).max - rows.map(_._3).min
      assert(spans.length > 1 && spans.count(_ <= global * 3 / 4) >= spans.length / 2,
        s"no per-file narrowing after z-compaction: $global vs ${spans.mkString(",")}")
    }

    it("prunes regions for PK point lookups via bloom sidecars, with " +
        "identical results to a full snapshot") {
      val t0 = Storage.getOrCreateTable(spark, tmpDir,
        AuditTableInfo("bloomy", Seq("id"), Map(AuditTable.PkBloomKey -> "true"),
          retainHistory = true))
      // 6 appends of disjoint id bands → 6 regions, each with a sidecar
      val t6 = (0 until 6).foldLeft(t0) { (t, i) =>
        t.append(Seq.tabulate(200)(j => (i * 1000L + j, s"v$i")).toDF("id", "v"),
          None, ts(f"2024-01-0${i + 1}%d 00:00:00"))
      }
      new java.io.File(s"$tmpDir/bloomy/${AuditTable.BloomDir}")
        .list().count(_.endsWith(".bloom")) shouldBe 6
      // a key in band 2 prunes to ~1 region (fpp may keep an extra)
      val hash = spark.range(1).select(xxhash64(lit(2042L))).head().getLong(0)
      val kept = t6.regionsForPointLookup(Seq(hash))
      kept.length should be <= 2
      kept.map(_.storeRegion) should contain(t6.regions(2).storeRegion)
      // point snapshot == full snapshot restricted to the key
      val point = t6.snapshotPoint(ts("2024-06-01 00:00:00"), Seq(Seq(2042L)))
        .get.select("id", "v").as[(Long, String)].collect().toSeq
      val full = t6.snapshot(ts("2024-06-01 00:00:00")).get
        .where(col("id") === 2042L)
        .select("id", "v").as[(Long, String)].collect().toSeq
      point shouldBe full
      point shouldBe Seq((2042L, "v2"))
      // an updated key must survive pruning in EVERY region that holds it:
      // append a new version of 2042 in a 7th region, point lookup sees it
      val t7 = Storage.openTable(spark, tmpDir, "bloomy").get
        .append(Seq((2042L, "v2-new")).toDF("id", "v"), None,
          ts("2024-02-01 00:00:00"))
      t7.snapshotPoint(ts("2024-06-01 00:00:00"), Seq(Seq(2042L)))
        .get.select("v").as[String].collect().toSeq shouldBe Seq("v2-new")
      // compaction folds the sidecars too: one cold region, one sidecar,
      // same point answer
      val t8 = t7.compact(ts("2024-03-01 00:00:00"),
        partitioner = TotalCellsPartitioner())
      new java.io.File(s"$tmpDir/bloomy/${AuditTable.BloomDir}")
        .list().count(_.endsWith(".bloom")) shouldBe 1
      t8.snapshotPoint(ts("2024-06-01 00:00:00"), Seq(Seq(2042L)))
        .get.select("v").as[String].collect().toSeq shouldBe Seq("v2-new")
      // a probe for an absent key prunes every region
      val ghost = spark.range(1).select(xxhash64(lit(999999L))).head().getLong(0)
      t8.regionsForPointLookup(Seq(ghost)) shouldBe empty
    }

    it("rejects an invalid pkBloom or pkBloomFpp before any region is written") {
      val bad = Seq(AuditTable.PkBloomFppKey -> "abc", AuditTable.PkBloomFppKey -> "1.5",
        AuditTable.PkBloomFppKey -> "0", AuditTable.PkBloomKey -> "yes")
      for (((key, value), i) <- bad.zipWithIndex) {
        val name = s"bad_bloom_meta_$i"
        val e = intercept[StorageException] {
          Storage.getOrCreateTable(spark, tmpDir, AuditTableInfo(name, Seq("id"),
              Map(AuditTable.PkBloomKey -> "true", key -> value), retainHistory = true))
            .append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), None,
              ts("2024-01-01 00:00:00"))
        }
        e.getMessage should (include(name) and include(key) and include(value))
        // nothing was published, so a retry cannot duplicate data
        new java.io.File(s"$tmpDir/$name/${AuditTable.TypeColumn}=${AuditTable.HotType}")
          .exists shouldBe false
        Storage.openTable(spark, tmpDir, name) shouldBe None
      }
    }

    it("point lookups find keys probed with a NARROWER type than the PK column") {
      // the sidecar hashes the parquet column's TYPE (bigint here); an Int
      // probe hashed as an int literal diverges and silently prunes the
      // region holding the key — snapshotPoint must cast probes to the
      // table schema's PK types before hashing
      val t0 = Storage.getOrCreateTable(spark, tmpDir,
        AuditTableInfo("bloomtyped", Seq("id"),
          Map(AuditTable.PkBloomKey -> "true"), retainHistory = true))
      val t2 = (0 until 2).foldLeft(t0) { (t, i) =>
        t.append(Seq.tabulate(100)(j => (i * 1000L + j, s"v$i")).toDF("id", "v"),
          None, ts(f"2024-01-0${i + 1}%d 00:00:00"))
      }
      // Int probe for a bigint PK: the uncast hash would miss every sidecar
      val intProbe: Any = 1042 // Int, column is LongType
      t2.snapshotPoint(ts("2024-06-01 00:00:00"), Seq(Seq(intProbe)))
        .get.select("id", "v").as[(Long, String)].collect().toSeq shouldBe
        Seq((1042L, "v1"))
      // and the divergence is real: the raw int-literal hash finds nothing
      val rawIntHash = spark.range(1).select(xxhash64(lit(1042))).head().getLong(0)
      val castHash = spark.range(1)
        .select(xxhash64(lit(1042).cast("long"))).head().getLong(0)
      rawIntHash should not be castHash
      t2.regionsForPointLookup(Seq(rawIntHash)) shouldBe empty
    }

    it("point lookups on a created-but-never-appended table return None") {
      val t0 = Storage.getOrCreateTable(spark, tmpDir,
        AuditTableInfo("pointempty", Seq("id"), Map.empty, retainHistory = true))
      t0.snapshotPoint(ts("2024-06-01 00:00:00"), Seq(Seq(1L))) shouldBe None
    }

    it("bloom prune and row filter share the cast-probe normalization (string PK)") {
      // string PK holding "042": an Int probe must be ONE thing everywhere.
      // With the row filter on the raw literal, Spark's comparison coercion
      // ("042" <=> 42 numerically) would match rows the cast probe ("42")
      // — and the sidecar — never see: rows present without blooms, absent
      // with them. Both paths now normalize through cast-to-column-type, so
      // the numeric probe consistently finds nothing and the exact string
      // probe finds the row.
      val t0 = Storage.getOrCreateTable(spark, tmpDir,
        AuditTableInfo("bloomstr", Seq("id"),
          Map(AuditTable.PkBloomKey -> "true"), retainHistory = true))
      val t1 = t0.append(Seq(("042", "padded"), ("7", "plain")).toDF("id", "v"),
        None, ts("2024-01-01 00:00:00"))
      t1.snapshotPoint(ts("2024-06-01 00:00:00"), Seq(Seq(42))) shouldBe None
      t1.snapshotPoint(ts("2024-06-01 00:00:00"), Seq(Seq("042")))
        .get.select("v").as[String].collect().toSeq shouldBe Seq("padded")
    }

    it("getOrCreateTable rejects a retainHistory mismatch against the persisted table") {
      Storage.getOrCreateTable(spark, tmpDir,
        AuditTableInfo("histmatch", Seq("id"), Map.empty, retainHistory = true))
      val ex = intercept[StorageException] {
        Storage.getOrCreateTable(spark, tmpDir,
          AuditTableInfo("histmatch", Seq("id"), Map.empty, retainHistory = false))
      }
      ex.getMessage should include("retainHistory")
    }

    it("append fails loudly on a null or unparseable last-updated value") {
      // a null (or, under non-ANSI configs, unparseable) last-updated would
      // write a row invisible to every snapshot/allBetween — silent loss
      val t0 = mkTable("badlu")
      val ex = intercept[Exception] {
        t0.append(Seq((1L, "a", null: String)).toDF("id", "v", "lu"),
          Some("lu"), ts("2024-01-01 00:00:00"))
      }
      ex.getMessage should include("unparseable")
      // malformed strings fail too (ANSI's own cast error or our guard)
      val t1 = mkTable("badlu2")
      val ex2 = intercept[Exception] {
        t1.append(Seq((1L, "a", "2024-13-45 99:99:99")).toDF("id", "v", "lu"),
          Some("lu"), ts("2024-01-01 00:00:00"))
      }
      (ex2.getMessage.contains("cannot be cast") ||
        ex2.getMessage.contains("unparseable")) shouldBe true
    }

    it("point lookups scan conservatively when sidecars are absent") {
      val t0 = mkTable("nobloom") // pkBloom not enabled
      val t1 = t0.append(Seq((1L, "a")).toDF("id", "v"), None,
        ts("2024-01-01 00:00:00"))
      val t2 = t1.append(Seq((2L, "b")).toDF("id", "v"), None,
        ts("2024-01-02 00:00:00"))
      // no sidecars → every region kept, result still correct
      t2.regionsForPointLookup(Seq(12345L)).length shouldBe 2
      t2.snapshotPoint(ts("2024-06-01 00:00:00"), Seq(Seq(2L)))
        .get.select("id", "v").as[(Long, String)].collect().toSeq shouldBe
        Seq((2L, "b"))
    }

    it("z-order compaction of an empty merge is a no-op, not an error") {
      val t0 = mkTable("zempty")
      val t1 = t0.append(Seq.empty[(Long, String)].toDF("id", "v"), None,
        ts("2024-01-01 00:00:00"))
      val t2 = t1.compact(ts("2024-01-02 00:00:00"),
        partitioner = TotalCellsPartitioner(), zOrderBy = Seq("id"))
      t2.hotRegions shouldBe empty
      t2.snapshot(ts("2024-06-01 00:00:00")).foreach(_.count() shouldBe 0L)
    }

    it("enforces one-shot mutation handles") {
      val t0 = mkTable("oneshot")
      t0.append(Seq((1L, "x")).toDF("id", "v"), None, ts("2024-01-01 00:00:00"))
      intercept[StorageException] {
        t0.append(Seq((2L, "y")).toDF("id", "v"), None, ts("2024-01-02 00:00:00"))
      }
    }

    it("two uncoordinated writers racing one region id: winner lands, loser fails readably") {
      // the cross-process race (append scaladoc): no distributed lock, so
      // two independently-opened handles both allocate region r0. The
      // fail-if-exists publish means the collision can NEVER silently
      // replace the winner's data — the loser gets a readable error and
      // retries after reopening.
      mkTable("racers")
      val handleA = Storage.openTable(spark, tmpDir, "racers").get
      val handleB = Storage.openTable(spark, tmpDir, "racers").get
      handleA.append(Seq((1L, "winner")).toDF("id", "v"), None,
        ts("2024-01-01 00:00:00"))
      val ex = intercept[StorageException] {
        handleB.append(Seq((2L, "loser")).toDF("id", "v"), None,
          ts("2024-01-01 00:00:01"))
      }
      ex.getMessage should include("already exists")
      // the loser's per-attempt staging dir is swept on failure — unique
      // staging names are never reused, so a leaked dir would otherwise
      // hold a full parquet copy under .tmp forever
      def filesUnder(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty).flatMap(filesUnder)
        else if (f.exists) Seq(f) else Seq.empty
      filesUnder(new java.io.File(s"$tmpDir/.tmp")) shouldBe empty
      // the winner's region is intact and serves reads; the loser's rows
      // are nowhere (staged data never published)
      val readBack = Storage.openTable(spark, tmpDir, "racers").get
        .snapshot(ts("2024-06-01 00:00:00")).get
      readBack.select("v").as[String].collect().toSeq shouldBe Seq("winner")
      // reopen-and-retry is the documented recovery: the fresh handle sees
      // the winner's region and allocates the NEXT id
      val retried = Storage.openTable(spark, tmpDir, "racers").get
        .append(Seq((2L, "retry")).toDF("id", "v"), None, ts("2024-01-01 00:00:02"))
      retried.regions.map(_.storeRegion).distinct.size shouldBe 2
      retried.snapshot(ts("2024-06-01 00:00:00")).get.count() shouldBe 2L
    }

    it("compaction racing stale readers/appenders: reader fails readably, appender's data survives") {
      // the cross-process compact contract (compact scaladoc), executed:
      // three handles opened on the same pre-compaction state — one
      // compacts, one reads stale, one appends stale
      mkTable("compactrace")
      val seed1 = Storage.openTable(spark, tmpDir, "compactrace").get
        .append(Seq((1L, "a")).toDF("id", "v"), None, ts("2024-01-01 00:00:00"))
      seed1.regions should have size 1
      Storage.openTable(spark, tmpDir, "compactrace").get
        .append(Seq((2L, "b")).toDF("id", "v"), None, ts("2024-01-02 00:00:00"))

      val staleReader = Storage.openTable(spark, tmpDir, "compactrace").get
      val staleAppender = Storage.openTable(spark, tmpDir, "compactrace").get
      val compacted = Storage.openTable(spark, tmpDir, "compactrace").get
        .compact(ts("2024-01-03 00:00:00"))
      compacted.hotRegions shouldBe empty

      // 1. the stale reader fails LOUDLY the moment it touches a trashed
      // region — silently-missing rows would be the dangerous outcome
      val ex = intercept[StorageException] {
        staleReader.snapshot(ts("2024-06-01 00:00:00")).get.count()
      }
      ex.getMessage should include("concurrent compaction")
      ex.getMessage should include("reopen")

      // 2. the stale appender still lands: its max+1 region id collides
      // with the compaction's new COLD region id, but hot and cold paths
      // never collide — no data lost on either side
      staleAppender.append(Seq((3L, "c")).toDF("id", "v"), None,
        ts("2024-01-04 00:00:00"))

      // 3. a fresh open rebuilds from the folder layout (the stale
      // appender rewrote the region cache from its stale view) and serves
      // every row exactly once: the merged cold pair plus the new append
      val fresh = Storage.openTable(spark, tmpDir, "compactrace").get
      fresh.snapshot(ts("2024-06-01 00:00:00")).get
        .select("v").as[String].collect().sorted shouldBe Array("a", "b", "c")
      // the raced id really is shared across types — the read stayed
      // correct through row-level filters, not luck
      fresh.regions.map(r => (r.storeType, r.storeRegion)).distinct.size shouldBe
        fresh.regions.size
    }

    it("two compactions racing: the loser fails at the region publish, before anything is trashed") {
      // the third interleaving of the compact contract, executed: both
      // handles see the same hot regions, both allocate the same max+1
      // COLD region id; the loser must die at the fail-if-exists publish
      // with the winner's output and the original regions intact
      mkTable("compactcompact")
      Storage.openTable(spark, tmpDir, "compactcompact").get
        .append(Seq((1L, "a")).toDF("id", "v"), None, ts("2024-01-01 00:00:00"))
      Storage.openTable(spark, tmpDir, "compactcompact").get
        .append(Seq((2L, "b")).toDF("id", "v"), None, ts("2024-01-02 00:00:00"))
      val compactorA = Storage.openTable(spark, tmpDir, "compactcompact").get
      val compactorB = Storage.openTable(spark, tmpDir, "compactcompact").get
      val won = compactorA.compact(ts("2024-01-03 00:00:00"))
      won.hotRegions shouldBe empty
      val ex = intercept[StorageException] {
        compactorB.compact(ts("2024-01-03 00:00:01"))
      }
      // sequenced AFTER the winner's trash (as here) the loser dies at the
      // stale-region read guard; raced tighter it dies at the
      // fail-if-exists publish — both loud, both before trashing anything
      (ex.getMessage.contains("concurrent compaction") ||
        ex.getMessage.contains("already exists")) shouldBe true
      // the loser trashed nothing: the winner's compacted state serves all
      // rows through a fresh open
      Storage.openTable(spark, tmpDir, "compactcompact").get
        .snapshot(ts("2024-06-01 00:00:00")).get
        .select("v").as[String].collect().sorted shouldBe Array("a", "b")
    }

    it("uses a source column for the audit timestamp when provided") {
      val t0 = mkTable("srccol")
      val df = Seq((1L, ts("2024-03-01 00:00:00")), (2L, ts("2024-03-05 00:00:00")))
        .toDF("id", "updated")
      val t1 = t0.append(df, Some("updated"), ts("2024-03-10 00:00:00"))
      t1.getLatestTimestamp.get shouldBe ts("2024-03-05 00:00:00")
      t1.allBetween(Some(ts("2024-03-02 00:00:00")), None).get.count() shouldBe 1
    }

    it("rejects reopening with different primary keys") {
      mkTable("pkclash")
      intercept[StorageException] {
        Storage.getOrCreateTable(spark, tmpDir,
          AuditTableInfo("pkclash", Seq("other"), Map.empty, retainHistory = true))
      }
    }
  }

  describe("µs timestamp write guard") {
    // note: getOption on a registered SQL conf returns its DEFAULT
    // (Some("INT96") on Spark 4.1), never None — the guard restores the
    // effective value, which is equivalent
    it("survives overlapping writers and restores the conf only after the last") {
      val key = "spark.sql.parquet.outputTimestampType"
      val before = spark.conf.get(key)
      val entered = new java.util.concurrent.CountDownLatch(1)
      val release = new java.util.concurrent.CountDownLatch(1)
      val t = new Thread(() => FileStorageOps.withMicrosTimestamps(spark) {
        entered.countDown(); release.await()
      })
      t.start(); entered.await()
      // a second writer enters AND exits while the first is still inside —
      // a naive save/restore would strip the setting here
      FileStorageOps.withMicrosTimestamps(spark) {
        spark.conf.get(key) shouldBe "TIMESTAMP_MICROS"
      }
      spark.conf.get(key) shouldBe "TIMESTAMP_MICROS" // first writer still in
      release.countDown(); t.join()
      spark.conf.get(key) shouldBe before // restored after the LAST writer
    }

    it("restores a pre-existing user value") {
      val key = "spark.sql.parquet.outputTimestampType"
      val before = spark.conf.get(key)
      spark.conf.set(key, "TIMESTAMP_MILLIS")
      FileStorageOps.withMicrosTimestamps(spark) {
        spark.conf.get(key) shouldBe "TIMESTAMP_MICROS"
      }
      spark.conf.get(key) shouldBe "TIMESTAMP_MILLIS"
      spark.conf.set(key, before)
    }
  }

  describe("storage flow actions") {
    it("ingests a label end-to-end and snapshots it back") {
      val base = s"$tmpDir/flowstore"
      val ingest = Graft.sparkFlow(spark)
        .addInput("txns", Some(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amount")))
        .getOrCreateAuditTable(base,
          t => AuditTableInfo(t, Seq("id"), Map.empty, retainHistory = true))("txns")
        .writeToStorage("txns", None, ts("2024-01-01 00:00:00"))
      Graft.sparkExecutor(4).execute(ingest)

      val read = Graft.sparkFlow(spark)
        .snapshotFromStorage(base, ts("2024-06-01 00:00:00"))("txns")
      val (_, done) = Graft.sparkExecutor(4).execute(read)
      done.inputs.get[org.apache.spark.sql.Dataset[_]]("txns").count() shouldBe 2
    }
  }
}
