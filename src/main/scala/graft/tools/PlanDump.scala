package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` of declared queries to files — the plan
  * evidence the optimization rounds commit under `plans/rNN/`.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  * Writes <outDir>/<query>_<suffix>.txt per query. Building a query's
  * DataFrame may run the engine's eager plan-construction actions (the CC
  * fast-path collect) — the dumped plan is the FINAL
  * returned frame's physical plan, the one the caller's action executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(',').toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        try {
          spark.sparkContext.setJobDescription(s"plandump: $name")
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
          println(s"[plandump] wrote $name ($suffix)")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
        graft.Pipeline.clearIntermediateCaches(spark)
        spark.sharedState.cacheManager.clearCache()
      }
    spark.stop()
  }
}
