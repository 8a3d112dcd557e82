package perfbench

import scala.collection.mutable

import graft.Pipeline
import graft.expr.Hashing.mix64
import graft.model.EngineConfig
import graft.stages._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Closed-loop benchmark of the graft dedup engine: one caller in one JVM at
  * `local[cpus]`, each call issued only after the previous one returned.
  *
  * Operations, all on a persisted `(id, text)` input:
  *  - lite: `Pipeline.runLite(...)` plus a collect of its `(id, cluster_id)`
  *    rows (the collect forces the cluster ids, which a bare count may not);
  *  - commit: `Pipeline.runResumable(...)` into an empty snapshot store;
  *  - resume: `Pipeline.runResumable(...)` over that fully committed store.
  *
  * A run makes one warm-up lite call, then repeats lite on the measured
  * input for the measured seconds, then runs one commit followed by nine
  * resumes. Between calls the engine's caches are cleared
  * the way `graft.Bench` clears them and the input is re-persisted, outside
  * the timed call.
  *
  * Every operation's output is checked: row count, an order-insensitive hash
  * of `(id, cluster_id)` that must be equal across reps of one input and
  * across lite/commit/resume, and, once per distinct input,
  * `Invariants.dedupInvariants`.
  *
  * `--trace 1` instead runs each layer of the lite pipeline as its own span
  * (output persisted and forced at the layer boundary, so a span holds only
  * its own work), then a commit and a resume span, and reports per-layer
  * numbers from a SparkListener grouped by job group.
  */
object GraftBench {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cpus: Int, workdir: String)

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Set("web_mixed", "dup_skew")(w), s"unknown workload $w")
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cpus").toInt, need("workdir"))
  }

  def main(argv: Array[String]): Unit = {
    val opts = parse(argv)
    val t0 = System.nanoTime()
    val dir = new java.io.File(opts.workdir).getAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[${opts.cpus}]")
      .appName(s"graft-bench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", opts.cpus.toString)
      .config("spark.default.parallelism", opts.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$dir/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val result = try {
      val b = new Bench(spark, opts, sessionS)
      if (opts.trace) b.traced() else b.untraced()
    } finally spark.stop()
    println(result)
    sys.exit(0)
  }
}

final class Bench(spark: SparkSession, opts: GraftBench.Opts, sessionS: Double) {
  import Bench._

  private val sc = spark.sparkContext
  private val cfg: EngineConfig =
    if (opts.workload == "dup_skew") Workloads.dupSkewCfg else EngineConfig.default
  private val storeDir = new java.io.File(opts.workdir, "stores")
  private var stores = 0

  private var attempted, failed = 0
  private val problems = mutable.ArrayBuffer.empty[String]
  // planted-truth pair counts, pooled over every distinct input checked
  private var truthPairs, coPairs, truePairs = 0L

  private def log(msg: String): Unit = println(s"[graft-bench] ${opts.workload} seed=${opts.seed}: $msg")

  private def fail(msg: String): Unit = { problems += msg; log(s"FAILED $msg") }

  // ---- inputs ---------------------------------------------------------------

  private def generate(): Input = opts.workload match {
    case "web_mixed" => Workloads.webMixed(spark, opts.seed, Workloads.WebMixedDocs)
    case _ => Workloads.dupSkew(spark, opts.seed, Workloads.DupSkewDocs)
  }

  /** Generates and persists the measured input [[InputReps]] times; returns
    * it with the median generation time. */
  private def mainInput(): (Input, Double) = {
    val runs = (1 to InputReps).map { _ =>
      val t0 = System.nanoTime()
      val in = generate()
      (in, (System.nanoTime() - t0) / 1e9)
    }
    runs.init.foreach(_._1.release())
    (runs.last._1, median(runs.map(_._2)))
  }

  /** One lite call on the measured input, so measured lite calls do not pay
    * first-call costs (class loading, JIT, generated-code compiles). Its
    * checked output gives the reference hash. A warm-up commit would not fit
    * the run's time budget, so the measured commit is the run's first. */
  private def warmUp(in: Input): Option[Long] = {
    val ref = invoke("warm-up lite", in, None)(lite(in)).map(s => hashOf(s.out))
    clear(in)
    ref
  }

  private def clear(in: Input): Unit = {
    Pipeline.clearIntermediateCaches(spark)
    spark.sharedState.cacheManager.clearCache()
    in.repersist()
  }

  // ---- operations -----------------------------------------------------------

  private def lite(in: Input): DataFrame = Pipeline.runLite(spark, in.docs, cfg)

  private def newStore(): String = {
    stores += 1
    new java.io.File(storeDir, s"s$stores").getAbsolutePath
  }

  private def resumable(in: Input, root: String): DataFrame =
    Pipeline.runResumable(spark, in.docs, root, cfg)

  /** Runs one call and its action, counted as attempted; None (counted
    * failed) if it threw. */
  private def measure(what: String)(call: => DataFrame): Option[Sample] = {
    attempted += 1
    try {
      val cpu0 = Tracer.processCpuS()
      val t0 = System.nanoTime()
      val df = call
      val out = collectAssign(df)
      val wall = (System.nanoTime() - t0) / 1e9
      Some(Sample(wall, Tracer.processCpuS() - cpu0, storageMb(), out, df))
    } catch { case e: Throwable => fail(s"$what threw $e"); failed += 1; None }
  }

  /** Checks a measured call's output; None (counted failed) if wrong.
    * `expect` is the input's reference hash; without one, the output is
    * checked against the invariants and becomes the reference. */
  private def check(what: String, in: Input, s: Option[Sample], expect: Option[Long]): Option[Sample] =
    s.filter { smp =>
      val problem = outputProblem(in, smp, expect)
      problem.foreach { p => fail(s"$what: $p"); failed += 1 }
      problem.isEmpty
    }

  private def invoke(what: String, in: Input, expect: Option[Long])(call: => DataFrame): Option[Sample] =
    check(what, in, measure(what)(call), expect)

  private def outputProblem(in: Input, s: Sample, expect: Option[Long]): Option[String] = {
    val h = hashOf(s.out)
    if (s.out.length != in.nDocs) Some(s"${s.out.length} rows for ${in.nDocs} docs")
    else expect match {
      case Some(ref) =>
        if (h == ref) None else Some(f"assignments hash $h%016x differs from $ref%016x")
      case None =>
        val p = invariantProblem(in, s.lazyOut)
        if (p.isEmpty) {
          val (t, c, b) = pairCounts(s.out, in.truth)
          truthPairs += t; coPairs += c; truePairs += b
        }
        p
    }
  }

  private def invariantProblem(in: Input, out: DataFrame): Option[String] = {
    val inv = Invariants.dedupInvariants(in.docs, out).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bad = Seq("clusters_id_ne_min_member", "docs_multiply_assigned", "docs_missing_assignment")
      .filter(k => inv(k) != 0L).map(k => s"$k=${inv(k)}")
    val split = inv("identical_text_pairs_total") != inv("identical_text_pairs_co_clustered")
    if (bad.isEmpty && !split) None
    else Some(("invariants violated" +: bad ++: (if (split) Seq(s"identical texts split: $inv") else Nil))
      .mkString(" "))
  }

  private def storageMb(): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  private def storeBytes(root: String): Map[String, Long] = {
    val data = new java.io.File(root, "data")
    Option(data.listFiles()).toSeq.flatten.filter(_.isDirectory).map { d =>
      val stage = d.getName.take(d.getName.lastIndexOf('-'))
      val key = if (stage.startsWith("lineage_")) "lineage" else stage
      key -> dirBytes(d)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  // ---- untraced run ----------------------------------------------------------

  def untraced(): String = {
    val (in, inputS) = mainInput()
    val w0 = System.nanoTime()
    val ref = warmUp(in)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + inputS + warmS
    log(f"setup session=$sessionS%.2f input=$inputS%.2f warm-up=$warmS%.2f s")

    val lites, commits, resumes, cpuPerKdoc, cacheMb, writeRatio = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    while (ref.isDefined && (System.nanoTime() - start) / 1e9 < opts.seconds) {
      invoke("lite", in, ref)(lite(in)).foreach { s =>
        lites += s.wallS
        cpuPerKdoc += s.cpuS / (in.nDocs / 1000.0)
        cacheMb += s.cacheMb
      }
      clear(in)
    }
    ref.foreach { h =>
      log(s"assignments hash ${hex(h, in.nDocs)}")
      val root = newStore()
      invoke("commit", in, ref)(resumable(in, root)).foreach { s =>
        commits += s.wallS
        writeRatio += storeBytes(root).values.sum.toDouble / in.textBytes
      }
      clear(in)
      // a resume only reads committed snapshots and caches nothing, so
      // there is nothing to clear between resumes
      for (_ <- 1 to ResumeReps)
        invoke("resume", in, ref)(resumable(in, root)).foreach(resumes += _.wallS)
      deleteTree(new java.io.File(root))
    }

    def list(xs: Iterable[Double]) = xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    log(s"samples lite=${list(lites)} commit=${list(commits)} resume=${list(resumes)} " +
      s"failed_share=${failed.toDouble / attempted} (failed $failed of $attempted)")
    result(Seq(
      ("docs_per_s", "docs/s", in.nDocs / median(lites)),
      ("run_p50_s", "s", median(lites)),
      ("commit_p50_s", "s", median(commits)),
      ("resume_p50_s", "s", median(resumes)),
      ("write_bytes_per_input_byte", "ratio", median(writeRatio)),
      ("cpu_s_per_kdoc", "s", median(cpuPerKdoc)),
      ("cache_mb", "MB", median(cacheMb)),
      ("pair_recall", "ratio", truePairs.toDouble / truthPairs),
      ("pair_precision", "ratio", truePairs.toDouble / coPairs),
      ("setup_s", "s", setupS)),
      required = lites.nonEmpty && commits.nonEmpty && resumes.nonEmpty)
  }

  // ---- traced run ------------------------------------------------------------

  def traced(): String = {
    val tr = new Tracer(sc)
    val metrics = mutable.ArrayBuffer.empty[(String, String, Double)]
    def put(name: String, unit: String, v: Double): Unit = metrics += ((name, unit, v))

    val (in, _) = mainInput()
    val ref = warmUp(in)

    // untraced call (listener attached, no layer spans): the reference for
    // trace.overhead_s and driver.serial_s
    var plainSample: Option[Sample] = None
    val plain = tr.span("lite") {
      plainSample = measure("lite")(lite(in))
      plainSample.fold(0L)(_.out.length.toLong)
    }
    check("lite", in, plainSample, ref)
    clear(in)

    val layers = mutable.ArrayBuffer.empty[tr.Span]
    var holdoutsN, survivorsN, unsignedN, candsN, edgesN = 0L
    var hotKeys, ccDriver, ccDistributed = 0L
    var tracedHash = 0L
    attempted += 1
    try {
      // runLite's stage order, each output persisted and forced at its
      // boundary; the final hash check pins the copy to runLite's result
      val projected = in.docs.select("id", "text")
      var survivors, holdouts, sigs, cands, scored, sub, sa: DataFrame = null
      layers += tr.span("exact_dedup") {
        val (s, h) =
          if (cfg.exactDedupByHash) ExactDedup.splitByHash(projected, persistHoldouts = true)
          else ExactDedup.split(projected, persistRanked = true)
        survivors = s.persist(); holdouts = h
        holdoutsN = holdouts.count()
        survivorsN = survivors.count()
        survivorsN
      }
      layers += tr.span("signatures") {
        sigs = Signatures.withSignatures(survivors, cfg).select("id", "minhash", "simhash").persist()
        sigs.count()
      }
      unsignedN = sigs.filter(col("minhash").isNull).count()
      ScaleStats.reset()
      layers += tr.span("lsh_pairgen") {
        cands = Blocking.candidatePairs(sigs, cfg).persist()
        candsN = cands.count()
        candsN
      }
      hotKeys = ScaleStats.snapshot()("pairgen_max_big_keys_collected")
      layers += tr.span("score_verify") {
        val raw = Scoring.score(cands, sigs, cfg)
        scored = (if (cfg.exactVerify) Scoring.exactVerify(raw, survivors, cfg) else raw).persist()
        scored.count()
      }
      edgesN = scored.filter(col("level") >= 1).count()
      layers += tr.span("substring") {
        sub = Substring.edges(survivors, cfg).select("src", "dst").persist()
        sub.count()
      }
      val cc0 = ScaleStats.snapshot()
      layers += tr.span("connected_components") {
        sa = ConnectedComponents.assign(spark, survivors.select("id"),
          Scoring.edges(scored).unionByName(sub), cfg.maxCcIterations,
          cfg.reliableCheckpoints, cfg.ccFastPathMaxEdges).persist()
        sa.count()
      }
      val cc1 = ScaleStats.snapshot()
      ccDriver = cc1("cc_driver_runs") - cc0("cc_driver_runs")
      ccDistributed = cc1("cc_distributed_runs") - cc0("cc_distributed_runs")
      layers += tr.span("reattach") {
        val out = collectAssign(ExactDedup.reattach(sa, holdouts))
        tracedHash = hashOf(out)
        out.length.toLong
      }
      if (ref.exists(_ != tracedHash)) {
        fail(f"traced assignments hash $tracedHash%016x differs from untraced ${ref.get}%016x")
        failed += 1
      }
    } catch { case e: Throwable => fail(s"traced lite threw $e"); failed += 1 }
    clear(in)

    val root = newStore()
    val commit = tr.span("snapshot_commit") {
      invoke("commit", in, ref)(resumable(in, root)).fold(0L)(_.out.length.toLong)
    }
    val bytes = storeBytes(root)
    clear(in)
    val resume = tr.span("snapshot_resume") {
      invoke("resume", in, ref)(resumable(in, root)).fold(0L)(_.out.length.toLong)
    }
    deleteTree(new java.io.File(root))
    tr.drain(spark)

    for (s <- layers :+ commit :+ resume) {
      val g = tr.listener.stats(s.name)
      put(s"${s.name}.wall_s", "s", s.wallS)
      put(s"${s.name}.cpu_s", "s", g.cpuNs / 1e9)
      put(s"${s.name}.gc_s", "s", s.gcS)
      put(s"${s.name}.shuffle_write_mb", "MB", g.shuffleWriteBytes / 1e6)
      put(s"${s.name}.spill_mb", "MB", g.spillBytes / 1e6)
      put(s"${s.name}.jobs", "count", g.jobs)
      put(s"${s.name}.rows_out", "count", s.rowsOut)
    }
    val reads = tr.listener.stats("lsh_pairgen").shuffleReads
    put("exact_dedup.holdout_share", "ratio", holdoutsN.toDouble / in.nDocs)
    put("signatures.unsigned_share", "ratio", unsignedN.toDouble / survivorsN)
    put("lsh_pairgen.candidates_per_doc", "ratio", candsN.toDouble / survivorsN)
    put("lsh_pairgen.hot_keys", "count", hotKeys)
    put("lsh_pairgen.task_skew", "ratio",
      if (reads.isEmpty) 0.0 else reads.max / median(reads.map(_.toDouble)))
    put("score_verify.edge_yield", "ratio", edgesN.toDouble / candsN)
    put("substring.edges", "count", layers.find(_.name == "substring").fold(0L)(_.rowsOut))
    put("connected_components.driver_runs", "count", ccDriver)
    put("connected_components.distributed_runs", "count", ccDistributed)
    for (st <- SnapshotStages) put(s"snapshot_commit.bytes.$st", "bytes", bytes.getOrElse(st, 0L).toDouble)
    put("driver.serial_s", "s", plain.wallS - tr.listener.stats("lite").busyUnionS)
    put("trace.overhead_s", "s", layers.map(_.wallS).sum - plain.wallS)
    log(f"assignments hash untraced ${ref.getOrElse(0L)}%016x traced $tracedHash%016x")
    log(s"failed_share=${failed.toDouble / attempted} (failed $failed of $attempted)")
    result(metrics.toSeq, required = layers.size == 7 && ref.isDefined)
  }

  private def result(metrics: Seq[(String, String, Double)], required: Boolean): String = {
    val bad = metrics.filter(m => m._3.isNaN || m._3.isInfinite).map(_._1)
    if (bad.nonEmpty) fail(s"no value for ${bad.mkString(",")}")
    val (recall, precision) = (truePairs.toDouble / truthPairs, truePairs.toDouble / coPairs)
    if (!(recall >= MinPairQuality && precision >= MinPairQuality))
      fail(f"pair recall $recall%.4f / precision $precision%.4f below $MinPairQuality")
    val correct = required && problems.isEmpty
    val ms = metrics.map { case (n, u, v) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
  }
}

object Bench {
  type Assign = Array[(Long, Long)]

  final case class Sample(wallS: Double, cpuS: Double, cacheMb: Double, out: Assign, lazyOut: DataFrame)

  val InputReps = 3
  /** Floor on pair recall and precision vs planted truth (PipelineSpec holds
    * the engine to recall >= 0.99 on the same fixture). */
  val MinPairQuality = 0.99
  val ResumeReps = 9
  val SnapshotStages: Seq[String] =
    Seq("survivors", "holdouts", "signatures", "edges", "assignments", "lineage")

  def collectAssign(df: DataFrame): Assign =
    df.select("id", "cluster_id").collect().map(r => (r.getLong(0), r.getLong(1)))

  /** Order-insensitive hash of the (id, cluster_id) rows (wrapping sum). */
  def hashOf(a: Assign): Long = a.foldLeft(0L)((h, r) => h + mix64(mix64(r._1) ^ r._2))

  def hex(h: Long, rows: Long): String = f"$rows:$h%016x"

  /** (truth pairs, co-clustered pairs, co-clustered truth pairs), with the
    * pair definitions of `graft.tools.Smoke`. */
  def pairCounts(a: Assign, truth: Array[(Long, Long)]): (Long, Long, Long) = {
    val t = mutable.LongMap.empty[Long]
    truth.foreach { case (id, c) => t(id) = c }
    def pairs(groups: Iterable[Int]): Long = groups.map(n => n.toLong * (n - 1) / 2).sum
    (pairs(truth.groupBy(_._2).values.map(_.length)),
      pairs(a.groupBy(_._2).values.map(_.length)),
      pairs(a.groupBy(r => (r._2, t.getOrElse(r._1, Long.MinValue))).values.map(_.length)))
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
