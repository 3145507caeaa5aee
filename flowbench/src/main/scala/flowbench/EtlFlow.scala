package flowbench

import java.io.File

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dataflow.FlowExecutor
import graft.dataflow.spark.{Graft, ParquetDataCommitter, SparkDataFlow, SparkFlowContext}
import graft.dataflow.spark.actions._
import graft.dataflow.spark.commit._

/** A wide reporting DAG in the style of a waimak job: nine parquet loaders,
  * joins and aggregates over a shared `lineitem ⋈ orders` label that many
  * branches read (parquet-cached), `sql` actions over temp views, nine
  * `writeParquet` sinks and one commit of three labels into dated snapshot
  * folders with cleanup. The seed permutes the order actions are added in,
  * which is the order the executor's priority strategy sees them.
  *
  * Expected outputs come from the same step logic evaluated as plain Spark
  * DataFrames, outside the dataflow layer. Sums are exact decimals so the
  * result does not depend on partitioning. */
final class EtlFlow(spark: SparkSession, data: String, work: String, seed: Long) extends Workload {
  import EtlFlow._

  private val published = s"$work/etl/published"
  private implicit val ec: ExecutionContext = ExecutionContext.global
  /** Input rows and expected outputs. Untimed, but slow on a cold JVM, so
    * started by `prepare` to run beside the warm-up iteration, in a session
    * of its own so that its temp views cannot meet the flow's. */
  private var reference: Future[(Long, Map[String, Digest])] = _
  private lazy val (inputRows, expected) = Await.result(reference, Duration.Inf)

  def prepare(): Unit = reference = Future {
    val ref = spark.newSession()
    val tables = Loaders.map(t => t -> ref.read.parquet(s"$data/$t.parquet")).toMap
    val rows = tables.values.map(_.count()).sum
    val frames = Steps.foldLeft(tables) { (acc, s) => acc + (s.out -> s.reference(ref, acc)) }
    rows -> Await.result(Future.traverse(Outputs)(l => Future(l -> Digest.of(frames(l)))),
      Duration.Inf).toMap
  }

  private def flow(iter: Int): SparkDataFlow = {
    val out = s"$work/etl/out/it$iter"
    val adders: Seq[SparkDataFlow => SparkDataFlow] =
      Loaders.map(t => (f: SparkDataFlow) => f.openFileParquet(s"$data/$t.parquet", t)) ++
        Steps.map(s => s.add _) ++
        Writes.map(l => (f: SparkDataFlow) => f.writeParquet(out, overwrite = true)(l))
    val base = new scala.util.Random(seed).shuffle(adders)
      .foldLeft(Graft.sparkFlow(spark, s"$work/etl/tmp/it$iter"))((f, add) => add(f))
    base.cacheAsParquet(Cached: _*)
      .commit("published")(Committed: _*)
      .push("published")(ParquetDataCommitter(published)
        .snapshotFolder(f"snap=$iter%06d").dateBasedSnapshotCleanup(2))
  }

  def iteration(log: IterLog, executor: FlowExecutor[SparkFlowContext], trace: Trace): Unit = {
    val f = flow(log.iter)
    val t0 = System.nanoTime()
    trace.span("iteration", "iteration", 0L)(root => Flows.run(f, executor, trace, root))
    log.wall = (System.nanoTime() - t0) / 1e9
    log.rows = inputRows
    val out = s"$work/etl/out/it${log.iter}"
    val paths = Writes.map(l => l -> s"$out/$l") ++
      Committed.map(l => l -> f"$published/$l/snap=${log.iter}%06d")
    if (trace.enabled) log.count("write_files", Writes.map(l =>
      Option(new File(s"$out/$l").listFiles).toSeq.flatten.count(_.getName.endsWith(".parquet"))).sum)
    val want = expected
    Await.result(Future.traverse(paths) { case (l, p) =>
      Future(log.verify(want(l), Digest.of(spark.read.parquet(p))))
    }, Duration.Inf)
    Dirs.deleteTree(out)
  }

  override def summary: Map[String, Any] = Map("input_rows" -> inputRows,
    "actions_added" -> (Loaders.size + Steps.size + Writes.size))
}

object EtlFlow {
  val Loaders = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents")

  private def dsum(c: Column): Column = round(sum(c.cast("decimal(28,8)")), 2)
  private val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev")
  private val one = lit(1)

  /** One flow step: a transform over DataFrames (`Left`), or a SQL query
    * over the input labels as temp views (`Right`). */
  final case class Step(out: String, ins: List[String],
      body: Either[Seq[DataFrame] => DataFrame, String]) {
    def add(flow: SparkDataFlow): SparkDataFlow = body match {
      case Right(q) => flow.sql(ins.head, ins.tail: _*)(out, q)
      case Left(f) => flow.transformMany(ins: _*)(out)(f)
    }

    /** The same step as plain Spark, outside the dataflow layer. */
    def reference(spark: SparkSession, frames: Map[String, DataFrame]): DataFrame = body match {
      case Right(q) =>
        ins.foreach(l => frames(l).createOrReplaceTempView(l))
        spark.sql(q)
      case Left(f) => f(ins.map(frames))
    }
  }

  private def df(out: String, ins: String*)(f: Seq[DataFrame] => DataFrame) =
    Step(out, ins.toList, Left(f))
  private def sql(out: String, ins: String*)(q: String) =
    Step(out, ins.toList, Right(q.stripMargin))

  val Steps: Seq[Step] = Seq(
    df("li_ord", "lineitem", "orders") { case Seq(l, o) =>
      l.join(o, col("l_orderkey") === col("o_orderkey")).select(col("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity"), col("l_discount"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"), col("o_custkey"),
        col("o_orderdate"), col("o_orderpriority"), rev)
    },
    sql("cust_nation", "customer", "nation", "region")(
      """select c.c_custkey, c.c_mktsegment, n.n_name, r.r_name
        |from customer c join nation n on c.c_nationkey = n.n_nationkey
        |join region r on n.n_regionkey = r.r_regionkey"""),
    df("rev_by_cust", "li_ord") { case Seq(li) =>
      li.groupBy("o_custkey").agg(dsum(col("rev")).as("revenue"), count(one).as("n_lines"),
        countDistinct(col("l_orderkey")).as("n_orders"))
    },
    sql("rev_by_nation", "rev_by_cust", "cust_nation")(
      """select n_name, r_name, sum(revenue) as revenue, count(*) as customers
        |from rev_by_cust join cust_nation on o_custkey = c_custkey
        |group by n_name, r_name"""),
    df("rev_by_part", "li_ord") { case Seq(li) =>
      li.groupBy("l_partkey").agg(dsum(col("rev")).as("revenue"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
    },
    df("brand_type", "part", "rev_by_part") { case Seq(p, r) =>
      p.join(r, col("p_partkey") === col("l_partkey")).groupBy("p_brand", "p_type")
        .agg(sum("revenue").as("revenue"), sum("qty").as("qty"), count(one).as("parts"))
    },
    df("supp_rev", "li_ord", "supplier", "nation") { case Seq(li, s, n) =>
      li.groupBy("l_suppkey").agg(dsum(col("rev")).as("revenue"))
        .join(s, col("l_suppkey") === col("s_suppkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name", "revenue")
    },
    sql("monthly", "li_ord")(
      """select year(o_orderdate) as yr, month(o_orderdate) as mo,
        |round(sum(cast(rev as decimal(28,8))), 2) as revenue, count(*) as n_lines
        |from li_ord group by 1, 2"""),
    df("priority_flags", "li_ord") { case Seq(li) =>
      li.groupBy("o_orderpriority", "l_returnflag", "l_linestatus").agg(count(one).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("qty"),
        sum(col("l_discount").cast("decimal(18,2)")).as("discount"))
    },
    df("ship_delay", "li_ord") { case Seq(li) =>
      li.groupBy(floor(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))) / 30)
        .as("month_bucket")).agg(count(one).as("n"), dsum(col("rev")).as("revenue"))
    },
    df("top_customers", "rev_by_cust", "cust_nation") { case Seq(r, c) =>
      val w = Window.partitionBy("r_name").orderBy(col("revenue").desc, col("o_custkey"))
      r.join(c, col("o_custkey") === col("c_custkey"))
        .withColumn("rank", row_number().over(w)).where(col("rank") <= 20)
        .select("r_name", "rank", "o_custkey", "c_mktsegment", "revenue")
    },
    df("events_daily", "events") { case Seq(e) =>
      e.groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(one).as("n"), dsum(col("value")).as("value"))
    },
    df("user_activity", "events") { case Seq(e) =>
      e.groupBy("user_id").agg(count(one).as("n_events"), dsum(col("value")).as("total_value"),
        max("ts").as("last_ts"), countDistinct(col("event_type")).as("n_types"))
    },
    sql("cust_engagement", "user_activity", "rev_by_cust")(
      """select least(n_events div 10, 20) as activity_bucket, count(*) as customers,
        |sum(revenue) as revenue, sum(total_value) as event_value
        |from user_activity u join rev_by_cust r on u.user_id = r.o_custkey
        |group by 1"""),
    df("doc_stats", "documents") { case Seq(d) =>
      d.groupBy("lang", "source").agg(count(one).as("docs"), sum("n_chars").as("chars"))
    },
    df("term_by_lang", "documents") { case Seq(d) =>
      d.select(col("lang"), explode(split(col("text"), " ")).as("term"))
        .groupBy("lang", "term").agg(count(one).as("n"))
    },
    sql("nation_summary", "rev_by_nation", "supp_rev")(
      """select c.n_name, c.revenue as customer_revenue, s.supplier_revenue, s.suppliers
        |from rev_by_nation c left join (
        |  select n_name, sum(revenue) as supplier_revenue, count(*) as suppliers
        |  from supp_rev group by n_name) s on c.n_name = s.n_name"""),
    df("order_size", "li_ord") { case Seq(li) =>
      li.groupBy("l_orderkey").agg(count(one).as("n_lines"), dsum(col("rev")).as("revenue"))
        .groupBy("n_lines").agg(count(one).as("orders"), sum("revenue").as("revenue"))
    })

  val Writes = Seq("rev_by_nation", "brand_type", "monthly", "priority_flags",
    "top_customers", "events_daily", "doc_stats", "ship_delay", "order_size")
  val Committed = Seq("nation_summary", "cust_engagement", "term_by_lang")
  val Cached = Seq("li_ord", "rev_by_cust", "cust_nation")
  val Outputs: Seq[String] = Writes ++ Committed
}

object Dirs {
  def deleteTree(path: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new File(path))
  }

  def sizeOf(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum else f.length
    walk(new File(path))
  }
}
