package flowbench

import java.sql.Timestamp

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dataflow.FlowExecutor
import graft.dataflow.spark.{Graft, SparkFlowContext}
import graft.dataflow.spark.actions._
import graft.storage.{AuditTable, AuditTableInfo, Storage}
import graft.storage.StorageActions._

/** Incremental ingestion into two audit tables. One iteration is a cycle
  * over fresh tables: every seeded delta under `data/audit` (new keys mixed
  * with rewrites of earlier keys), each appended through a `writeToStorage`
  * flow and then read back as a `snapshot`, with a compaction every
  * `CompactEvery` batches. Every cycle does the same work, so cycles are comparable. Hot
  * regions pile up between compactions, so reads pay for cheap writes.
  *
  * Expected snapshots come from plain Spark over the raw delta files:
  * latest row per primary key by batch number. */
final class AuditIngest(spark: SparkSession, data: String, work: String, seed: Long)
    extends Workload {
  import AuditIngest._

  private val deltas = s"$data/audit"
  /** The deltas the generator wrote: `orders_<b>.parquet` and `lineitem_<b>.parquet`. */
  private val batches = new java.io.File(deltas).list().count(_.startsWith("orders_"))
  private val inputBytes = (for { (t, _) <- Tables; b <- 0 until batches }
    yield new java.io.File(delta(t, b)).length).sum
  private var storedBytes = Seq.empty[Double]
  private implicit val ec: ExecutionContext = ExecutionContext.global
  /** Input rows a cycle and the expected snapshots. Untimed, but slow on a
    * cold JVM, so started by `prepare` to run beside the warm-up cycle. */
  private var reference: Future[(Long, Map[(String, Int), Digest])] = _
  private lazy val (rowsPerCycle, expected) = Await.result(reference, Duration.Inf)

  private def delta(t: String, b: Int) = f"$deltas/${t}_$b%03d.parquet"
  private def ts(b: Int) = new Timestamp(BaseMs + b * 3600000L)

  def prepare(): Unit = reference = Future {
    val rows = (for { (t, _) <- Tables; b <- 0 until batches }
      yield spark.read.parquet(delta(t, b)).count()).sum
    rows -> Await.result(Future.traverse(for { (t, pk) <- Tables; b <- 0 until batches }
      yield (t, pk, b)) { case (t, pk, b) => Future {
        val upTo = spark.read.parquet((0 to b).map(delta(t, _)): _*)
        val w = Window.partitionBy(pk.map(col): _*).orderBy(col("batch").desc)
        (t, b) -> Digest.of(upTo.withColumn("_rn", row_number().over(w))
          .where(col("_rn") === 1).drop("_rn"))
      }
    }, Duration.Inf).toMap
  }

  private def dataColumns(t: String): Seq[String] =
    spark.read.parquet(delta(t, 0)).columns.toSeq

  def iteration(log: IterLog, executor: FlowExecutor[SparkFlowContext], trace: Trace): Unit = {
    val base = s"$work/audit/c${log.iter}"
    val cols = Tables.map { case (t, _) => t -> dataColumns(t) }.toMap
    val t0 = System.nanoTime()
    trace.span("iteration", "iteration", 0L) { root =>
      def storage[T](op: String)(body: => T): T = log.timed(op) {
        trace.span(s"storage.$op", "storage", root) { id =>
          spark.sparkContext.setJobDescription(s"flowbench:span:$id")
          try body finally spark.sparkContext.setJobDescription(null)
        }
      }
      def open(t: String): AuditTable = storage("open")(Storage.openTable(spark, base, t).get)

      Tables.foreach { case (t, pk) =>
        storage("open")(Storage.getOrCreateTable(spark, base,
          AuditTableInfo(t, pk, Map.empty, retainHistory = false)))
      }
      for (b <- 0 until batches) {
        val flow = Tables.foldLeft(Graft.sparkFlow(spark)) { case (f, (t, _)) =>
          f.openFileParquet(delta(t, b), t)
        }.getAuditTable(base)(Tables.map(_._1): _*)
        val appended = Tables.foldLeft(flow) { case (f, (t, _)) =>
          f.writeToStorage(t, None, ts(b))
        }
        val done = log.timed("append")(Flows.run(appended, executor, trace, root))
        if (trace.enabled) Tables.foreach { case (t, _) =>
          val region = done.inputs.get[AuditTable](s"${t}_appended").hotRegions.last
          val dir = s"$base/$t/${AuditTable.TypeColumn}=hot/${AuditTable.RegionColumn}=${region.storeRegion}"
          log.count("append_bytes", Dirs.sizeOf(dir).toDouble)
          log.count("append_files", Option(new java.io.File(dir).listFiles).toSeq.flatten
            .count(_.getName.endsWith(".parquet")).toDouble)
        }
        Tables.foreach { case (t, _) =>
          val table = open(t)
          if (trace.enabled) log.count("snapshot_regions", table.activeRegions.size.toDouble)
          log.verify(expected((t, b)), storage("snapshot")(
            Digest.of(table.snapshot(ts(b)).get.select(cols(t).map(col): _*))))
        }
        if ((b + 1) % CompactEvery == 0) Tables.foreach { case (t, _) =>
          val table = open(t)
          val compacted = storage("compact")(table.compact(new Timestamp(ts(b).getTime + 60000L)))
          if (trace.enabled) {
            log.count("compact_rows_in", table.activeRegions.map(_.count).sum.toDouble)
            log.count("compact_rows_out", compacted.activeRegions.last.count.toDouble)
            log.count("compact_bytes", Dirs.sizeOf(
              s"$base/$t/${AuditTable.TypeColumn}=cold").toDouble)
          }
        }
      }
    }
    log.wall = (System.nanoTime() - t0) / 1e9
    log.rows = rowsPerCycle
    // the final compaction's output, read back once outside the timed cycle
    Tables.foreach { case (t, _) =>
      log.verify(expected((t, batches - 1)), Digest.of(
        Storage.openTable(spark, base, t).get.snapshot(ts(batches)).get.select(cols(t).map(col): _*)))
    }
    storedBytes :+= Tables.map { case (t, _) => Dirs.sizeOf(s"$base/$t") }.sum.toDouble
    Dirs.deleteTree(base)
  }

  override def summary: Map[String, Any] = Map("input_bytes" -> inputBytes,
    "rows_per_cycle" -> rowsPerCycle, "stored_bytes" -> storedBytes,
    "batches" -> batches, "compact_every" -> CompactEvery)
}

object AuditIngest {
  val Tables: Seq[(String, Seq[String])] = Seq(
    "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"))
  val CompactEvery = 2
  val BaseMs: Long = Timestamp.valueOf("2020-01-01 00:00:00").getTime
}
