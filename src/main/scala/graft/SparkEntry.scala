package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gate._

/** Driver contract — see SURVEY.md §7.
  *
  * [[registry]] holds every gate query once, as a [[graft.gate.GateQuery]]:
  * its Spark build beside the DuckDB SQL its result is hash-compared against
  * at sf0.01. The queries live in `graft.gate`, one file per operator
  * family: a query goes with the operator object that produces its result,
  * and queries built from relational operators alone go in
  * `RelationalQueries`. [[queries]] and [[oracleSql]] are the name-keyed
  * views Bench, Verify, the specs and flowbench read.
  */
object SparkEntry {

  lazy val registry: Seq[GateQuery] = GateQuery.registry(
    RelationalQueries.queries, AnnIndexQueries.queries,
    AsOfQueries.queries, BinningQueries.queries, BloomQueries.queries,
    BoilerplateQueries.queries, BpeQueries.queries,
    ChunkingQueries.queries, ClassifierQueries.queries,
    CurationQueries.queries, DedupQueries.queries,
    DedupIndexQueries.queries, DomainsQueries.queries,
    DriftQueries.queries, ExportQueries.queries, FuzzyQueries.queries,
    GraphsQueries.queries, IntervalJoinQueries.queries,
    LayoutQueries.queries, MultimodalQueries.queries,
    OutliersQueries.queries, PackingQueries.queries, PcaQueries.queries,
    ProfileQueries.queries, QuantizationQueries.queries,
    RankingQueries.queries, SamplingQueries.queries, ScdQueries.queries,
    SemistructuredQueries.queries, SimilarityQueries.queries,
    SketchesQueries.queries, SkewQueries.queries,
    StorageQueries.queries, TemporalQueries.queries,
    TextFunctionsQueries.queries, TrendQueries.queries,
    UrlsQueries.queries)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = registry.map(q => q.name -> q.build).toMap
  lazy val oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracleSql).toMap

  /** Bench warmup hook: the q150–q155 payload frames, outside the timed region. */
  def prewarmMediaFrames(s: SparkSession, dir: String): Unit =
    MultimodalQueries.prewarmMediaFrames(s, dir)

  /** Bench warmup hook: the q134–q136 persisted indexes, outside the timed region. */
  def prewarmPersistedIndexes(s: SparkSession, dir: String): Unit =
    AnnIndexQueries.prewarmPersistedIndexes(s, dir)

  /** Flagship: revenue-by-nation executed through the dataflow framework —
    * DAG build, validation, parallel scheduling, temp-view SQL, the lot.
    * Driver smoke-checks rows>0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    import graft.dataflow.spark.{Graft => G}
    import graft.dataflow.spark.actions._
    val dir = "/root/testdata/sf0.001"
    val flow = G.sparkFlow(spark)
      .openFileParquet(s"$dir/lineitem.parquet", "lineitem")
      .openFileParquet(s"$dir/orders.parquet", "orders")
      .openFileParquet(s"$dir/customer.parquet", "customer")
      .openFileParquet(s"$dir/nation.parquet", "nation")
      .transform("lineitem")("li_rev") { li =>
        li.select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      }
      .sql("li_rev", "orders", "customer", "nation")("by_nation",
        """select n.n_name, round(sum(l.rev), 2) as revenue, count(*) as n_lineitems
          |from li_rev l
          |join orders o on l.l_orderkey = o.o_orderkey
          |join customer c on o.o_custkey = c.c_custkey
          |join nation n on c.c_nationkey = n.n_nationkey
          |group by n.n_name order by n.n_name""".stripMargin)
    val (_, done) = G.sparkExecutor(8).execute(flow)
    done.inputs.get[org.apache.spark.sql.Dataset[_]]("by_nation").toDF()
  }
}
