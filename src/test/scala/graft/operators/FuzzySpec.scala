package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

class FuzzySpec extends SparkTestBase with Matchers {

  import spark.implicits._

  describe("fuzzyDupPairs") {

    it("matches token-blocked pairs within the edit distance") {
      val df = Seq(
        (1L, "red widget"),
        (2L, "red wodget"),   // dist 1, shares "red"
        (3L, "blue widget"),  // dist 4 from 1 — blocked together, too far
        (4L, "crimson gear")  // no shared token with anything
      ).toDF("id", "name")
      val out = Fuzzy.fuzzyDupPairs(df, "id", "name", maxDist = 2)
        .as[(Long, Long, Long)].collect().toSet
      out shouldBe Set((1L, 2L, 1L))
      // wider distance pulls in the blocked (1,3) pair (lev red->blue = 4)
      Fuzzy.fuzzyDupPairs(df, "id", "name", maxDist = 4)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet shouldBe
        Set(1L -> 2L, 1L -> 3L)
    }

    it("pairs sharing no token are never compared, whatever their distance") {
      val df = Seq((1L, "abc"), (2L, "abd")).toDF("id", "name") // dist 1
      Fuzzy.fuzzyDupPairs(df, "id", "name", maxDist = 5).count() shouldBe 0L
    }

    it("emits each pair once even when blocked by several shared tokens") {
      val df = Seq((1L, "red heavy widget"), (2L, "red heavy wodget"))
        .toDF("id", "name")
      val out = Fuzzy.fuzzyDupPairs(df, "id", "name", maxDist = 2).collect()
      out.length shouldBe 1
    }

    it("maxTokenFreq drops hot blocking tokens but keeps rarer routes") {
      val df = Seq(
        (1L, "acme shop"), (2L, "acme shoq"), // rare token "shop"/"shoq"? no —
        (3L, "acme store"), (4L, "acme stores"),
        (5L, "acme mart")
      ).toDF("id", "name")
      // "acme" occurs 5x; cap at 4 removes it from blocking. (3,4) still
      // meet via... no shared second token -> gone; (1,2) shared nothing
      // else -> gone too
      Fuzzy.fuzzyDupPairs(df, "id", "name", maxDist = 2, maxTokenFreq = Some(4))
        .count() shouldBe 0L
      // without the cap the acme block yields the close pairs
      Fuzzy.fuzzyDupPairs(df, "id", "name", maxDist = 2)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet shouldBe
        Set(1L -> 2L, 3L -> 4L)
    }

    it("a duplicate id carrying two near spellings never pairs with itself") {
      val df = Seq((1L, "acme corp"), (1L, "acme corq"), (2L, "zeta thing"))
        .toDF("id", "name")
      Fuzzy.fuzzyDupPairs(df, "id", "name", maxDist = 2).count() shouldBe 0L
    }

    it("blocking is case-insensitive and whitespace-robust") {
      val df = Seq((1L, "Red  Widget"), (2L, "red widgit")).toDF("id", "name")
      val out = Fuzzy.fuzzyDupPairs(df, "id", "name", maxDist = 4)
        .as[(Long, Long, Long)].collect()
      out.length shouldBe 1
      // distance is on the RAW strings (case and spacing count)
      out.head._3 shouldBe 4L
    }
  }

  describe("fuzzyDupPairsBounded") {

    it("caps expansion to the k smallest ids per name, pairs unchanged otherwise") {
      val df = Seq(
        (5L, "red widget"), (3L, "red widget"), (9L, "red widget"), (7L, "red widget"),
        (2L, "red wodget")
      ).toDF("id", "name")
      // unbounded: 4 same-name ids -> 6 same pairs + 4 cross pairs = 10
      Fuzzy.fuzzyDupPairs(df, "id", "name", maxDist = 2).count() shouldBe 10L
      // cap 2 keeps ids {3,5} of "red widget": 1 same pair + 2 cross pairs
      val out = Fuzzy.fuzzyDupPairsBounded(df, "id", "name", maxDist = 2,
        maxIdsPerName = 2).as[(Long, Long, Long)].collect().toSet
      out shouldBe Set((3L, 5L, 0L), (2L, 3L, 1L), (2L, 5L, 1L))
    }

    it("output is bounded by maxIdsPerName^2 per dup group, deterministically") {
      val df = (1L to 100L).map(i => (i, "same name")).toDF("id", "name")
      val out = Fuzzy.fuzzyDupPairsBounded(df, "id", "name", maxDist = 2,
        maxIdsPerName = 3).as[(Long, Long, Long)].collect().toSet
      // the 3 smallest ids pair among themselves: C(3,2) = 3 pairs, not C(100,2)
      out shouldBe Set((1L, 2L, 0L), (1L, 3L, 0L), (2L, 3L, 0L))
      // determinism across partitionings
      val re = Fuzzy.fuzzyDupPairsBounded(df.repartition(7), "id", "name",
        maxDist = 2, maxIdsPerName = 3).as[(Long, Long, Long)].collect().toSet
      re shouldBe out
    }

    it("agrees with the unbounded form when groups fit under the cap") {
      val df = Seq((1L, "red widget"), (2L, "red wodget"), (3L, "blue widget"))
        .toDF("id", "name")
      val bounded = Fuzzy.fuzzyDupPairsBounded(df, "id", "name", maxDist = 2,
        maxIdsPerName = 16).as[(Long, Long, Long)].collect().toSet
      val full = Fuzzy.fuzzyDupPairs(df, "id", "name", maxDist = 2)
        .as[(Long, Long, Long)].collect().toSet
      bounded shouldBe full
    }
  }

  describe("fuzzyJoin") {
    it("joins two tables on approximate names") {
      val left = Seq((1L, "john smith"), (2L, "mary jones")).toDF("id", "name")
      val right = Seq((10L, "jon smith"), (20L, "gary jones"), (30L, "unrelated"))
        .toDF("rid", "rname")
      val out = Fuzzy.fuzzyJoin(left, right, "id", "rid", "name", "rname", maxDist = 2)
        .as[(Long, Long, Long)].collect().toSet
      out shouldBe Set((1L, 10L, 1L), (2L, 20L, 1L))
    }
  }
}
