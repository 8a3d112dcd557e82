package graft.tools

import graft.stages.ConnectedComponents
import org.apache.spark.sql.SparkSession

/** Dev-only: CC in isolation on a synthetic edge list.
  *
  * Usage: `CcBench [n] [chain|star] [chainLen] [fastPathMaxEdges]`
  * (defaults 2000, chain, 4, the engine's fast-path bound; 0 forces the
  * distributed loop). Per-stage wall, CPU, jobs and shuffle come from
  * `perfbench/run.py --trace 1`. */
object CcBench {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("GRAFT_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("GRAFT_PARTS", "8"))
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("GRAFT_AQE", "true"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val n = if (args.nonEmpty) args(0).toInt else 2000
    val star = args.length > 1 && args(1) == "star"
    // chains of chainLen+1 nodes (default 5): a DISTRIBUTED plan
    // (spark.range), not a driver collection — toDF on a local Seq embeds
    // a LocalRelation whose row Vector every Catalyst transformExpressions
    // pass re-maps, which benchmarks the analyzer against the fixture
    // instead of CC. Long chains (e.g. chainLen 4096) force a deep-diameter
    // graph: ~log2(len) iterations, the fixture for per-round wall
    // stability across many stop-test actions.
    val chainLen = if (args.length > 2) args(2).toLong else 4L
    val stride = chainLen * 3 // node-id gap between chains
    // star: ONE hub with n*chainLen spokes — the worst-case skew fixture
    // for the star passes (the hub's whole neighbourhood lands in one
    // partition's sorted run)
    val edges =
      if (star)
        spark.range(n.toLong * chainLen).select(
          org.apache.spark.sql.functions.lit(0L).as("src"), ($"id" + 1).as("dst"))
      else spark.range(n.toLong * chainLen)
        .select((($"id" / chainLen).cast("long") * stride + $"id" % chainLen).as("src"),
                (($"id" / chainLen).cast("long") * stride + $"id" % chainLen + 1).as("dst"))

    val fastMax = if (args.length > 3) args(3).toLong
      else ConnectedComponents.DriverFastPathMaxEdges
    val t0 = System.nanoTime()
    val cc = ConnectedComponents.run(spark, edges, fastPathMaxEdges = fastMax)
    val k = cc.select("cluster_id").distinct().count()
    println(f"[ccbench] n=$n components=$k wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
