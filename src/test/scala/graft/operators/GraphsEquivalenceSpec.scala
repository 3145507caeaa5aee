package graft.operators

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types._
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

/** PageRank's driver path against its distributed rounds on seeded random
  * graphs: identical (vertex, pagerank) rows and schema. The graphs mix
  * dangling vertices, multi-edges, self-loops, null endpoints, int, long
  * and string ids, and personalized seeds that are absent from the graph. */
class GraphsEquivalenceSpec extends SparkTestBase with Matchers {
  import GraphsEquivalenceSpec.Graph

  /** Random edges over `nVerts` ids drawn by `id`: about 5% with a null
    * endpoint, some self-loops, repeated edges, and a tail of vertices that
    * only receive (dangling). */
  private def graph(seed: Int, idType: DataType, id: Int => Any): Graph = {
    val rnd = new Random(seed)
    val nVerts = 5 + rnd.nextInt(60)
    val senders = math.max(1, nVerts * 2 / 3) // the rest only receive
    val base = Seq.fill(nVerts + rnd.nextInt(3 * nVerts)) {
      val s = rnd.nextInt(senders)
      val d = if (rnd.nextInt(10) == 0) s else rnd.nextInt(nVerts) // self-loop
      (id(s), id(d))
    }
    val dup = base.filter(_ => rnd.nextInt(5) == 0) // multi-edges
    val withNulls = (base ++ dup).map { case (s, d) =>
      rnd.nextInt(20) match {
        case 0 => (null, d)
        case 1 => (s, null)
        case _ => (s, d)
      }
    }
    val rows = rnd.shuffle(withNulls).map { case (s, d) => Row(s, d) }
    val schema = StructType(Seq(StructField("src", idType), StructField("dst", idType)))
    val edges = spark.createDataFrame(rows.asJava, schema).repartition(1 + rnd.nextInt(4))
    Graph(s"seed $seed ${idType.simpleString} (${rows.size} edges)", edges, (0 until nVerts).map(id))
  }

  private val graphs: Seq[Graph] =
    (1 to 4).map(s => graph(s, IntegerType, i => i)) ++
      (5 to 8).map(s => graph(s, LongType, i => (1L << 40) * (i % 3 - 1) + i)) ++
      (9 to 10).map(s => graph(s, StringType, i => s"v$i"))

  private def rows(df: DataFrame): Seq[(String, Double)] =
    df.collect().map(r => (String.valueOf(r.get(0)), r.getDouble(1))).toSeq.sortBy(_._1)

  private def assertSamePaths(label: String, local: DataFrame, distributed: DataFrame): Unit =
    withClue(s"$label: ") {
      // the default call must really have taken the driver path, and the
      // reference the distributed one, or this compares a path with itself
      local.queryExecution.analyzed shouldBe a[LocalRelation]
      distributed.queryExecution.analyzed should not be a[LocalRelation]
      local.schema shouldBe distributed.schema
      rows(local) shouldBe rows(distributed)
    }

  it("pageRank: the driver path equals the distributed rounds") {
    for ((g, i) <- graphs.zipWithIndex) {
      val iterations = 1 + i % 4
      val damping = if (i % 3 == 0) 0.5 else 0.85
      assertSamePaths(s"${g.label}, $iterations rounds, damping $damping",
        Graphs.pageRank(g.edges, "src", "dst", iterations = iterations, damping = damping),
        Graphs.powerIterate(g.edges, "src", "dst", None, iterations, damping,
          iterScale = 9, scale = 6, driverEdgeLimit = 0L))
    }
  }

  it("personalizedPageRank: the driver path equals the distributed rounds, absent seeds included") {
    for ((g, i) <- graphs.zipWithIndex) {
      val rnd = new Random(100 + i)
      val present = rnd.shuffle(g.vertices).take(1 + rnd.nextInt(3)).map(_.toString)
      // ids that no vertex has; one graph is seeded with absent ids only
      val absent = Seq("-7", "v999", "123456789012")
      val seeds = if (i == 3) absent else present ++ absent.take(i % 3)
      val iterations = 1 + (i + 1) % 4
      assertSamePaths(s"${g.label}, seeds $seeds, $iterations rounds",
        Graphs.personalizedPageRank(g.edges, "src", "dst", seeds, iterations = iterations),
        Graphs.powerIterate(g.edges, "src", "dst", Some(seeds), iterations, 0.85,
          iterScale = 9, scale = 6, driverEdgeLimit = 0L))
    }
  }

  it("pageRank over edges that are all null throws on both paths") {
    val schema = StructType(Seq(StructField("src", LongType), StructField("dst", LongType)))
    val edges = spark.createDataFrame(Seq(Row(null, 1L), Row(2L, null)).asJava, schema)
    // no edge survives the null filter: a limit of 10 takes the driver
    // path, and only a negative limit keeps an empty graph distributed
    for (limit <- Seq(-1L, 10L)) {
      val ex = intercept[IllegalArgumentException] {
        Graphs.powerIterate(edges, "src", "dst", None, 3, 0.85, 9, 6, driverEdgeLimit = limit)
      }
      ex.getMessage should include("empty edge list")
    }
  }
}

object GraphsEquivalenceSpec {
  private final case class Graph(label: String, edges: DataFrame, vertices: Seq[Any])
}
