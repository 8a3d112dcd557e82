package graft.tools

import graft.fixtures.Corpus
import graft.model.EngineConfig
import graft.stages._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probe (VERDICT r3 item 2): run the full dedup pipeline at 5M+
  * docs on a pinned core budget, recording per-stage walls AND the
  * observed values of every driver-side bound the engine argues about
  * ([[graft.stages.ScaleStats]]):
  *
  *   - how many hot buckets PairGen chained (no driver bound: the pass
  *     chains them in place);
  *   - CC fast-path edge collect vs `EngineConfig.ccFastPathMaxEdges` (4M) / the
  *     distributed path's edge count;
  *
  * so BENCH.md can report measured headroom instead of an argument.
  * Stage walls are measured by forcing each stage with a count — that adds
  * actions the fused pipeline doesn't run, so the probe ALSO measures one
  * un-instrumented end-to-end wall (same discipline as Bench) for the
  * throughput row. Pin externally: `taskset -c 0-15 SPARK_DRIVER_MEM=64g
  * sbt -batch "runMain graft.tools.ScaleProbe 5000000"`.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 5000000L
    val cores = sys.env.getOrElse("GRAFT_CORES", "16").toInt
    val builder0 = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // At this size a single G1 full-GC pause can exceed the default 10 s
      // heartbeat × 120 s timeout in local mode (driver and executor share
      // the heap) — the first probe run died to a 133 s heartbeat gap, not
      // to work. Real clusters set exactly these for heavy executors.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "1200s")
      // The scoring/verify joins pair the CANDIDATE side (~40 MB at 17M
      // docs) against the signature table (~18 GB) and the re-shingled
      // touched docs (~26 GB): under the default 10 MB threshold both
      // joins shuffle the BIG side — ~60 GB of shuffle files this sandbox
      // (79 GB usable disk, shared with the checkpoints) cannot hold.
      // Broadcasting the small side is the plan a cluster operator tunes
      // for at this ratio; at the 10^12-doc ceiling, where candidates
      // outgrow executor memory, the default shuffle plan returns — and
      // per-executor disks hold it (the thing this one-disk box cannot).
      .config("spark.sql.autoBroadcastJoinThreshold",
        sys.env.getOrElse("GRAFT_SCALE_BCAST", "256m"))
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold",
        sys.env.getOrElse("GRAFT_SCALE_BCAST", "256m"))
      // DISK_ONLY blocks are stored UNCOMPRESSED by default
      // (spark.rdd.compress=false): the text-heavy survivors checkpoint
      // alone is ~26 GB raw at 17M docs vs ~8 GB lz4 — on a box with one
      // 79 GB disk shared by checkpoints and shuffle files, the CPU/IO
      // trade goes firmly to compression
      .config("spark.rdd.compress", "true")
    // the probe with the LARGEST shuffles honors the same scratch-dir
    // override as Bench/ScalingBench (SPARK_GRAFT_LOCAL_DIR)
    val spark = graft.Bench.localDir
      .fold(builder0)(d => builder0.config("spark.local.dir", d))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // GRAFT_CC_FAST_MAX=0 forces the distributed star loop even below the
    // driver fast-path threshold — the 5M probe found the fast path still
    // engaged at 1.24M edges (well below its limit), so this is the only
    // way to time the 10^12-scale CC path at the largest local size.
    // GRAFT_SCALE_E2E=0 skips the un-instrumented end-to-end rep (for runs
    // that only need the staged walls + bound telemetry).
    val cfg = sys.env.get("GRAFT_CC_FAST_MAX").map(_.toLong)
      .foldLeft(EngineConfig.default)((c, m) => c.copy(ccFastPathMaxEdges = m))
    val runE2e = sys.env.getOrElse("GRAFT_SCALE_E2E", "1") != "0"

    val corpus = Corpus.generate(spark, n, includeHtml = false).select("id", "text").persist()
    val total = corpus.count()
    println(s"[scale] corpus $total docs, $cores cores")

    // ---- staged run: force each boundary, record walls + bound telemetry
    ScaleStats.reset()
    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale] stage $name%-14s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
      r
    }
    // Stage-by-stage with caches released as soon as their consumers have
    // materialized (the fused pipeline never holds everything at once — a
    // probe that does would be measuring its own memory pressure, which is
    // exactly what killed the first 5M run). Stage OUTPUTS are
    // localCheckpoint()ed, not merely persisted: a persisted frame still
    // references every upstream shuffle through its plan lineage, so at
    // 17M+ docs the dead shuffle files (the score_verify re-shingle joins
    // alone are tens of GB) accumulate on local disk for the whole run and
    // fill the box — the 20M probe died twice to exactly that. Dead frames
    // are SCOPED so their shuffle dependencies become unreachable, and an
    // explicit System.gc() at each boundary (all frames fully materialized,
    // nothing in flight) lets ContextCleaner delete the files then —
    // deterministic, unlike spark.cleaner.periodicGC, whose arbitrary
    // firing raced a lazily-spilled cache recompute in an earlier attempt.
    // survivors (full-width, ~1.5 KB/row) checkpoints DISK_ONLY: at 17M
    // docs the default MEMORY_AND_DISK level fights the anti-join's
    // execution memory for the whole heap and OOMs — the narrow
    // downstream scans read it back sequentially anyway
    val (survivors0, holdouts) = ExactDedup.splitByHash(corpus, persistHoldouts = true)
    val survivors = timed("exact_dedup") {
      survivors0.localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    }
    val nSurv = survivors.count()
    val nHold = holdouts.count()
    corpus.unpersist()
    val sigs = IntermediateCaches.persistTracked(
      Signatures.withSignatures(survivors, cfg).select("id", "minhash", "simhash"))
    timed("signatures") { sigs.count() }
    val (nCand, simEdges, nSim) = {
      val candidates = IntermediateCaches.persistTracked(Blocking.candidatePairs(sigs, cfg))
      val nc = timed("lsh_pairgen") { candidates.count() }
      val se = timed("score_verify") {
        // scored scoped here: after the checkpoint below, nothing
        // reachable references the verify joins' shuffles
        val scored = Scoring.exactVerify(Scoring.score(candidates, sigs, cfg), survivors, cfg)
        Scoring.edges(scored).localCheckpoint()
      }
      candidates.unpersist()
      (nc, se, se.count())
    }
    sigs.unpersist()
    System.gc() // reap the dead pairgen + verify shuffle files now
    val subEdges = timed("substring") {
      Substring.edges(survivors, cfg).select("src", "dst").localCheckpoint()
    }
    val nSub = subEdges.count()
    graft.Pipeline.clearIntermediateCaches(spark) // winnow fps + pair caches
    System.gc() // reap the winnow shuffles before CC
    // CC only needs the id column — keep the 8 B/row slice cached so
    // dropping the (id, text) cache doesn't force a corpus recompute
    val survivorIds = survivors.select("id").persist()
    survivorIds.count()
    survivors.unpersist()
    val allEdges = simEdges.unionByName(subEdges)
    val assign = timed("connected_cc") {
      val a = ConnectedComponents.assign(
        spark, survivorIds, allEdges, cfg.maxCcIterations,
        cfg.reliableCheckpoints, cfg.ccFastPathMaxEdges).persist()
      a.count(); a
    }
    val nClusters = assign.agg(countDistinct("cluster_id")).head().getLong(0)
    val staged = ScaleStats.snapshot()
    println(s"[scale] survivors=$nSurv holdouts=$nHold candidates=$nCand " +
      s"sim_edges=$nSim substring_edges=$nSub clusters=$nClusters")
    staged.toSeq.sortBy(_._1).foreach { case (k, v) => println(s"[scale] bound $k = $v") }
    assign.unpersist(); holdouts.unpersist(); survivorIds.unpersist()
    graft.Pipeline.clearIntermediateCaches(spark)

    // ---- un-instrumented end-to-end wall (Bench discipline, 1 rep — this
    // probe is about bounds; the throughput row still comes from min-of-k)
    val (wall, e2e) = if (runE2e) {
      spark.sharedState.cacheManager.clearCache()
      corpus.persist(); corpus.count()
      ScaleStats.reset()
      val t0 = System.nanoTime()
      val nOut = graft.Pipeline.runLite(spark, corpus, cfg).count()
      val w = (System.nanoTime() - t0) / 1e9
      graft.Pipeline.clearIntermediateCaches(spark)
      println(f"[scale] end_to_end $w%.1f s (${total / w}%.0f docs/s), output rows $nOut")
      (w, ScaleStats.snapshot())
    } else (0.0, staged)
    val json = (Map(
      "docs" -> total, "cores" -> cores.toLong,
      "wall_sec" -> wall.toLong,
      "docs_per_sec" -> (if (wall > 0) (total / wall).toLong else 0L),
      "survivors" -> nSurv, "candidates" -> nCand,
      "sim_edges" -> nSim, "substring_edges" -> nSub,
      "clusters" -> nClusters) ++ e2e)
      .toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    spark.stop()
    println(json)
  }
}
