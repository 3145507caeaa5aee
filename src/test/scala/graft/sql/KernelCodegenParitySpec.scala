package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

/** Every scalar kernel in the function table, run on the same small inputs
  * once interpreted (`nullSafeEval`) and once as generated code
  * (`doGenCode`), must give identical rows. This pins each kernel's
  * eval-side argument wiring — the boxed values `nullSafeEval` receives
  * (an int or a bigint cell, float or double elements, string or binary)
  * against the typed values the generated code reads. Each mode runs in
  * its own fresh session, so the confs never reach other specs. */
class KernelCodegenParitySpec extends SparkTestBase with Matchers {

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("a", ArrayType(DoubleType)), StructField("b", ArrayType(DoubleType)),
    StructField("la", ArrayType(LongType)), StructField("lb", ArrayType(LongType)),
    StructField("s", StringType), StructField("syms", ArrayType(StringType)),
    StructField("w", StringType), StructField("v", ArrayType(DoubleType)),
    StructField("vf", ArrayType(FloatType)), StructField("mins", ArrayType(DoubleType)),
    StructField("maxs", ArrayType(DoubleType)), StructField("cell", IntegerType),
    StructField("cell_l", LongType), StructField("bin", BinaryType)))

  private def d(xs: Any*): Seq[Any] = xs.map {
    case null => null
    case x => x.asInstanceOf[Number].doubleValue()
  }

  private val rows = Seq(
    Row(1, d(1, 2, 3), d(3, 2, 1), Seq(1L, 2L, 3L, 5L), Seq(2L, 3L, 5L, 8L),
      "the cat sat... on the mat\n- a list\r\nof…things #tag", Seq("a", "b", "a", "b", "c"),
      "abcab", d(0.5, 1, -1, 2), Seq(0.5f, 1f, -1f, 2f), d(0, 0, -1, 0), d(1, 2, 1, 0),
      2, 1L, Array[Byte](1, 2, 3)),
    Row(2, d(Double.NaN, 0, -0.0), d(1, 1, 1), Seq.empty[Long], Seq(Long.MinValue, 0L),
      "", Seq.empty[String], "a", d(-0.0, Double.NaN, 0, 0), Seq(Float.NaN, 0f, -0f, 3f),
      d(0, Double.NaN, 0, 0), d(1, 1, 1, 1), 0, 2L, Array.emptyByteArray),
    Row(3, d(1, null, 3), d(0, 0, 0), Seq(1L, 7L, 9L), Seq(1L, 7L, 9L),
      "théé wörds_1 x́the 𝐀x ... ...", Seq("a", "a", "b", "b"),
      "cabcab", d(1, 1, 1, 1), Seq(1f, 1f, 1f, 1f), d(0, 0, 0, 0), d(2, 2, 2, 2),
      1, 0L, Array[Byte](-1, 0)),
    Row(4, null, null, null, null, null, null, null, null, null, null, null, null, null, null),
    // a null symbol passes through graft_bpe_merge, so its result type
    // must admit null elements
    Row(5, d(1, 2, 3), d(3, 2, 1), Seq(1L, 2L, 3L, 5L), Seq(2L, 3L, 5L, 8L),
      "a", Seq("a", null, "b", "a", "b"), "ab", d(0.5, 1, -1, 2), Seq(0.5f, 1f, -1f, 2f),
      d(0, 0, -1, 0), d(1, 2, 1, 0), 2, 1L, Array[Byte](1)))

  private val cents = "array(array(0D, 0D, 0D, 0D), array(1D, 1D, 1D, 1D), array(1D, 1D, 1D, 1D))"
  private val planes = "array(array(1D, 2D, 3D, 4D), array(-1D, 0D, 0.5D, 2D))"

  /** Each call names the kernel it runs. */
  private val calls = Seq(
    "graft_cosine(a, b)",
    "graft_jaccard_ge(la, lb, 0.3D)", "graft_jaccard_ge(la, lb, 0.9D)",
    "graft_contain_ge(la, lb, 0.5D)", "graft_contain_ge(la, lb, 1.0D)",
    "graft_cdc_bounds(s, 4, 3, 1, 8)",
    "graft_bpe_merge(syms, 'a', 'b')",
    "graft_bpe_encode(w, array(array('a', 'b'), array('ab', 'c')))",
    "graft_winnow(s, 3, 2)",
    "graft_simhash60(s)",
    s"graft_cell_assign(v, $cents)",
    "graft_subvec_assign(v, array(array(0D, 0D), array(1D, 1D)), 2, 4)",
    s"graft_centroid_sub(v, $cents, cell)", s"graft_centroid_sub(v, $cents, cell_l)",
    "graft_word_sets_count(s, array(array('the', 'a'), array('of', 'x')))",
    s"graft_matvec(v, $planes)", s"graft_matvec(vf, $planes)",
    "graft_int8_quant(v, mins, maxs)", "graft_int8_quant(vf, mins, maxs)",
    "graft_gopher_counts(s)",
    "graft_cm_buckets(s, 3, 17)",
    "graft_md5_prefix64(s, 15)", "graft_md5_prefix64(bin, 8)")

  private def run(confs: (String, String)*): Seq[String] = {
    val session: SparkSession = spark.newSession()
    confs.foreach { case (k, v) => session.conf.set(k, v) }
    functions.ensureRegistered(session)
    val input = session.createDataFrame(session.sparkContext.parallelize(rows, 2), schema)
    input.select(expr("id") +: calls.map(expr): _*).orderBy("id").collect().map(_.toString).toSeq
  }

  it("covers every scalar kernel in the function table") {
    val scalar = functions.table.collect {
      case (id, info, _) if !classOf[AggregateFunction].isAssignableFrom(
          Class.forName(info.getClassName)) => id.funcName
    }
    scalar should have size 17
    scalar.filterNot(name => calls.exists(_.startsWith(name + "("))) shouldBe empty
  }

  it("gives identical rows interpreted and as generated code") {
    val interpreted = run(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val generated = run(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    generated shouldBe interpreted
    interpreted should have size rows.size
  }
}
