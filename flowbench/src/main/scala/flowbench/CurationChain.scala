package flowbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.dataflow.FlowExecutor
import graft.dataflow.spark.{Graft, SparkDataFlow, SparkFlowContext}
import graft.dataflow.spark.actions._

/** Five gate queries from `SparkEntry.queries` as one chained flow: each
  * query is an `open` action that builds its plan plus a sink that runs the
  * whole plan into parquet. `tagDependency` links step i to step i-1, so
  * exactly one action runs at a time and the executor has no branch
  * parallelism to exploit. The seed permutes the chain order.
  *
  * The warm-up iteration's dump is what the DuckDB oracle checks (untimed,
  * once per run); every later iteration must reproduce its row count and
  * content hash. */
final class CurationChain(spark: SparkSession, data: String, work: String, seed: Long)
    extends Workload {
  import CurationChain._

  private val order = new scala.util.Random(seed).shuffle(Queries)
  private val reference = new ConcurrentHashMap[String, Digest]()
  /** Input rows a chain reads; started by `prepare` to run beside the
    * warm-up iteration. */
  private var rowsRead: Future[Long] = _
  private lazy val inputRows = Await.result(rowsRead, Duration.Inf)

  def prepare(): Unit = rowsRead = Future {
    val rows = Queries.flatMap(Tables).distinct
      .map(t => t -> spark.read.parquet(s"$data/$t.parquet").count()).toMap
    Queries.flatMap(Tables).map(rows).sum
  }(ExecutionContext.global)

  private def flow(out: String, log: IterLog): SparkDataFlow =
    order.zipWithIndex.foldLeft(Graft.sparkFlow(spark)) { case (f, (q, i)) =>
      val step = (g: SparkDataFlow) => g.tag(s"step$i")(
        _.open(q)(ctx => log.timed(q)(SparkEntry.queries(q)(ctx.spark, data)))
          .write(q)((df, _) => log.timed(q)(sink(q, df, s"$out/$q", log))))
      if (i == 0) step(f) else f.tagDependency(s"step${i - 1}")(step)
    }

  /** Runs the full plan into parquet and observes its digest in the same job. */
  private def sink(q: String, df: DataFrame, path: String, log: IterLog): Unit = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("rows"),
      sum(xxhash64(df.columns.toIndexedSeq.map(df.col): _*).cast("decimal(38,0)")).as("hash"))
      .write.mode("overwrite").parquet(path)
    val m = obs.get
    val got = Digest(m("rows").asInstanceOf[Long],
      Option(m("hash")).map(h => BigDecimal(h.asInstanceOf[java.math.BigDecimal]))
        .getOrElse(BigDecimal(0)))
    val want = reference.putIfAbsent(q, got)
    log.verify(if (want == null) got else want, got)
  }

  def iteration(log: IterLog, executor: FlowExecutor[SparkFlowContext], trace: Trace): Unit = {
    val out = s"$work/curation/it${log.iter}"
    val f = flow(out, log)
    val t0 = System.nanoTime()
    trace.span("iteration", "iteration", 0L)(root => Flows.run(f, executor, trace, root))
    log.wall = (System.nanoTime() - t0) / 1e9
    log.rows = inputRows
    if (log.iter == 0) {
      val oracle = new java.util.TreeMap[String, String]()
      Queries.foreach(q => oracle.put(q, SparkEntry.oracleSql(q)))
      Files.writeString(Paths.get(s"$out/oracle_sql.json"),
        new ObjectMapper().writeValueAsString(oracle))
    } else Dirs.deleteTree(out)
  }

  override def summary: Map[String, Any] = Map("order" -> order,
    "oracle_dump" -> s"$work/curation/it0", "input_rows" -> inputRows)
}

object CurationChain {
  /** Input tables each query reads, for the rows-read rate. */
  val Tables: Map[String, Seq[String]] = Map(
    "q70_fuzzy_dups" -> Seq("part"),
    "q86_personalized_pagerank" -> Seq("orders", "lineitem"),
    "q102_bpe_learn" -> Seq("documents"),
    "q123_containment_pairs" -> Seq("documents"),
    "q124_native_asof_join" -> Seq("events"))

  val Queries: Seq[String] = Tables.keys.toSeq.sorted
}
