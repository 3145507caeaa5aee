package graft.tools

import graft.{Harness, SparkEntry}
import org.apache.spark.sql.execution.FormattedMode

/** Dumps `explain("formatted")` for a named list of gate queries to
  * one file per query — the before/after plan evidence committed under
  * plans/<round>/. Unlike PlanDump (fixed headline list -> PLANS.md),
  * this takes the query list on the command line so an optimization
  * round can snapshot exactly the queries it touched, at any commit.
  *
  * Usage: runMain graft.tools.PlanSnap <sfDir> <outDir> <suffix> q34_ q54_ ...
  * (prefix match on query names, same convention as SPARK_GRAFT_ONLY)
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanSnap <sfDir> <outDir> <suffix> <prefix>...")
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val selected = Harness.select(SparkEntry.queries.keys,
      Some(args.drop(3).mkString(",")), None)
    // fixed 8 cores: the plan text (partition counts) must not depend on the machine
    val spark = Harness.session(8)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    selected.foreach { name =>
      val txt = scala.util.Try(
        SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode))
        .recover { case e => s"FAILED to plan: $e" }.get
      val short = name.takeWhile(_ != '_')
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${short}_$suffix.txt"),
        (s"== $name ($suffix) ==\n" + txt)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plansnap] wrote $short ($name)")
    }
    spark.stop()
  }
}
