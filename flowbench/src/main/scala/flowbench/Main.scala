package flowbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.dataflow.FlowExecutor
import graft.dataflow.spark.{Graft, SparkFlowContext}
import graft.dataflow.spark.actions._

/** Operation log of one iteration: latency samples per operation kind,
  * attempted/failed counts with the exception class of each failure, and
  * counters (traced phases only). */
final class IterLog(val iter: Int, val phase: String) {
  var wall: Double = 0.0
  var rows: Long = 0L
  var attempted: Int = 0
  var failed: Int = 0
  val errors = mutable.ArrayBuffer[String]()
  val ops = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val counters = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def sample(op: String, seconds: Double): Unit = synchronized {
    ops.getOrElseUpdate(op, mutable.ArrayBuffer()) += seconds
  }

  def count(name: String, v: Double): Unit = synchronized {
    counters.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  }

  /** Time `body` as one sample of `op`. */
  def timed[T](op: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    sample(op, (System.nanoTime() - t0) / 1e9)
    r
  }

  def fail(t: Throwable): Unit = synchronized {
    failed += 1
    errors += t.getClass.getName
  }

  /** One verified operation: `actual` must equal `expected`. */
  def verify(expected: Digest, actual: => Digest): Unit = {
    synchronized { attempted += 1 }
    try {
      val got = actual
      if (got != expected) fail(new OutputMismatch(s"expected $expected, got $got"))
    } catch { case t: Throwable => fail(t) }
  }

  def toMap: Map[String, Any] = synchronized {
    Map("iter" -> iter, "phase" -> phase, "wall" -> wall, "rows" -> rows,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toList,
      "ops" -> ops.view.mapValues(_.toList).toMap,
      "counters" -> counters.view.mapValues(_.toList).toMap)
  }
}

class OutputMismatch(msg: String) extends RuntimeException(msg)

/** Row count plus an order-independent content hash. */
final case class Digest(rows: Long, hash: BigDecimal)

object Digest {
  def of(df: DataFrame): Digest = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toIndexedSeq.map(df.col): _*).cast("decimal(38,0)"))).head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}

/** A benchmark workload. `iteration` runs one timed unit of work and then
  * verifies its outputs, returning the timed part's wall seconds. */
trait Workload {
  /** Untimed: starts computing input row counts and expected outputs from
    * an independent path, beside the warm-up iteration. */
  def prepare(): Unit
  def iteration(log: IterLog, executor: FlowExecutor[SparkFlowContext], trace: Trace): Unit
  /** Workload-specific results for the artifact. */
  def summary: Map[String, Any] = Map.empty
}

object Main {
  def session(nproc: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("flowbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session warm-up: one small flow through the parallel executor. */
  def warm(spark: SparkSession, data: String): Unit = {
    val flow = Graft.sparkFlow(spark)
      .openFileParquet(s"$data/nation.parquet", "nation")
      .transform("nation")("per_region")(_.groupBy("n_regionkey").count())
    val (_, done) = Graft.sparkExecutor().execute(flow)
    done.inputs.get[Dataset[_]]("per_region").collect()
  }

  /** Fixed JVM-only CPU loop; its time tracks machine speed, not the code
    * under test. Single-threaded: right after set-up the JIT still compiles
    * in the background, which would slow a loop on every core. Median of five. */
  def canary(): Double = {
    val times = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var h = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 20000000) { h = (h ^ (h >>> 29)) * 0xBF58476D1CE4E5B9L + i; i += 1 }
      if (h == 42L) println("")
      (System.nanoTime() - t0) / 1e9
    }.sorted
    times(2)
  }

  /** Live driver heap after full collections. Spark releases shuffle and
    * broadcast blocks from its cleaner thread once a collection has cleared
    * their references, so collect, give the cleaner time, and collect again. */
  def heapUsedMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, data, work, resultPath) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val nproc = Runtime.getRuntime.availableProcessors()
    // set-up as a user meets it: JVM start to a warm session. One sample
    // a run, since only a JVM's first set-up starts cold
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(nproc, work)
    warm(spark, data)
    val setup = (System.currentTimeMillis() - jvmStart) / 1000.0
    val canaryFirst = canary()

    val workload: Workload = name match {
      case "etl_flow" => new EtlFlow(spark, data, work, seed)
      case "curation_chain" => new CurationChain(spark, data, work, seed)
      case "audit_ingest" => new AuditIngest(spark, data, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    workload.prepare()

    val parallel = Graft.sparkExecutor()
    val sequential = Graft.sequentialExecutor
    val logs = mutable.ArrayBuffer[IterLog]()
    val off = new Trace(false)

    def runOne(phase: String, executor: FlowExecutor[SparkFlowContext], trace: Trace): Unit = {
      val log = new IterLog(logs.size, phase)
      trace.iteration = log.iter
      try workload.iteration(log, executor, trace)
      catch { case t: Throwable =>
        log.attempted += 1
        log.fail(t)
        System.err.println(s"[flowbench] iteration ${log.iter} failed: $t")
      }
      logs += log
    }

    def phase(label: String, budget: Double, executor: FlowExecutor[SparkFlowContext],
        trace: Trace): Unit = {
      val t0 = System.nanoTime()
      var n = 0
      while (n == 0 || (System.nanoTime() - t0) / 1e9 < budget) {
        runOne(label, executor, trace)
        n += 1
      }
    }

    // one untimed pass: the first iteration pays for JIT compilation
    runOne("warmup", parallel, off)
    val tracer = new Trace(traced)
    val sparkTrace = new SparkTrace
    if (!traced) phase("measure", seconds, parallel, off)
    else {
      // untraced and traced iterations alternate, so JIT warm-up still in
      // progress does not land on one side of the tracing overhead
      def traced(): Unit = {
        sparkTrace.install(spark)
        runOne("traced", parallel, tracer)
        sparkTrace.uninstall(spark)
      }
      val t0 = System.nanoTime()
      var pair = 0
      while (pair == 0 || (System.nanoTime() - t0) / 1e9 < 2 * seconds / 3) {
        if (pair % 2 == 0) { runOne("untraced", parallel, off); traced() }
        else { traced(); runOne("untraced", parallel, off) }
        pair += 1
      }
      phase("sequential", seconds / 3, sequential, off)
    }
    val canaryLast = canary()
    val heap = heapUsedMb()

    val result = Map(
      "workload" -> name, "seed" -> seed, "nproc" -> nproc,
      "spark_version" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "setup_s" -> setup,
      "canary_first_s" -> canaryFirst, "canary_last_s" -> canaryLast,
      "heap_retained_mb" -> heap,
      "iterations" -> logs.map(_.toMap).toList,
      "summary" -> workload.summary,
      "trace" -> (if (traced) Map("spans" -> tracer.spanList, "flows" -> tracer.flowList) ++
        sparkTrace.snapshot else Map.empty))
    spark.stop()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(resultPath), mapper.writeValueAsString(result))
  }
}
