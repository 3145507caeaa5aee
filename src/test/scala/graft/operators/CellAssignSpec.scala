package graft.operators

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

/** The native graft_cell_assign expression (sql.CellAssign): exact
  * agreement with the reference UDF on adversarial random inputs (small
  * integer components force exact distance ties — strict-< argmin must
  * pick the lowest index in both), null handling, codegen participation,
  * and the foldable-table contract. */
class CellAssignSpec extends SparkTestBase with Matchers {

  import spark.implicits._

  /** Reference nearest-centroid assignment: strict-< argmin, first wins on
    * ties. */
  private def cellAssignUdf(cents: Array[Array[Double]]) =
    udf { (v: Array[Double]) =>
      var best = 0; var bestD = Double.MaxValue
      var ci = 0
      while (ci < cents.length) {
        val cent = cents(ci); var d = 0.0; var i = 0
        while (i < v.length) { val x = v(i) - cent(i); d += x * x; i += 1 }
        if (d < bestD) { bestD = d; best = ci }
        ci += 1
      }
      best
    }

  it("equals the reference UDF on random vectors, ties included") {
    (1 to 20).foreach { seed =>
      val rnd = new Random(seed)
      val dim = 2 + rnd.nextInt(6)
      val nCells = 1 + rnd.nextInt(8)
      // components in {0,1,2}: many exact-tie distances across centroids
      val cents = Array.fill(nCells, dim)(rnd.nextInt(3).toDouble)
      val rows = Seq.fill(40)((rnd.nextLong(), Array.fill(dim)(rnd.nextInt(3).toDouble)))
      val df = rows.toDF("id", "v")
      val both = df.select(col("id"),
          Similarity.cellAssign(spark, cents)(col("v")).as("native"),
          cellAssignUdf(cents)(col("v")).as("ref"))
        .collect()
      withClue(s"seed=$seed: ") {
        both.count(r => r.getInt(1) != r.getInt(2)) shouldBe 0
      }
    }
  }

  it("returns null for a null vector") {
    val cents = Array(Array(0.0, 0.0), Array(1.0, 1.0))
    val df = Seq((1L, Some(Array(0.9, 0.9))), (2L, None))
      .toDF("id", "v")
    val out = df.select(col("id"), Similarity.cellAssign(spark, cents)(col("v")).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    out(1L) shouldBe Some(1)
    out(2L) shouldBe None
  }

  it("compiles into whole-stage codegen (no UDF serialization boundary)") {
    val cents = Array(Array(0.0), Array(5.0))
    val df = spark.range(10)
      .select(array(col("id").cast("double")).as("v"))
      .select(Similarity.cellAssign(spark, cents)(col("v")).as("c"))
    val plan = df.queryExecution.executedPlan.toString
    plan should include("*(1)") // whole-stage codegen span covers the project
    df.as[Int].collect().toSeq shouldBe (0 until 10).map(i => if (i < 3) 0 else 1)
  }

  it("rejects a non-foldable centroid table") {
    graft.sql.functions.ensureRegistered(spark)
    val df = Seq((Array(1.0), Array(Array(1.0)))).toDF("v", "t")
    an[Exception] should be thrownBy
      df.select(call_function("graft_cell_assign", col("v"), col("t"))).collect()
  }

  it("is callable from SQL once registered") {
    graft.sql.functions.ensureRegistered(spark)
    Seq(Tuple1(Array(0.1, 0.1))).toDF("v").createOrReplaceTempView("cell_assign_t")
    val r = spark.sql(
      "SELECT graft_cell_assign(v, array(array(1.0d, 1.0d), array(0.0d, 0.0d))) FROM cell_assign_t")
      .as[Int].head()
    r shouldBe 1
  }
}
